"""LSH Ensemble containment search (operators/lshensemble.py): recall vs
a brute-force containment oracle on planted subset/partial-quote classes,
exact precision by construction (verified edges), partition/parameter
observability, and the bipartite eval-vs-train form."""

import random

import pytest

from deduplication_framework_spark.operators.lsh import (
    release_census_caches,
)
from deduplication_framework_spark.operators.lshensemble import (
    _size_partitions,
    lshensemble_containment,
)

T = 0.8


class TestSizePartitions:
    def test_equi_depth_contiguous_cover(self):
        counts = [(s, 10) for s in range(1, 41)]
        parts = _size_partitions(counts, 4)
        assert len(parts) == 4
        assert parts[0][0] == 1 and parts[-1][1] == 40
        # contiguous, ordered, non-overlapping
        for (lo1, hi1), (lo2, _hi2) in zip(parts, parts[1:]):
            assert lo1 <= hi1 < lo2
        # roughly equal depth (10 sizes per range here)
        for lo, hi in parts:
            assert 8 <= hi - lo + 1 <= 12

    def test_fewer_sizes_than_partitions(self):
        parts = _size_partitions([(5, 100)], 8)
        assert parts == [(5, 5)]

    def test_skewed_counts(self):
        # one size holds 90% of docs: it gets its own range
        counts = [(10, 900), (20, 50), (30, 50)]
        parts = _size_partitions(counts, 3)
        assert parts[0] == (10, 10)
        assert parts[-1][1] == 30


def _corpus():
    """Containers (120-200 elements), full-subset quotes (C=1.0, sizes
    15-40 — J vs container as low as 0.075: the regime plain one-banding
    LSH structurally misses), partial quotes (C≈0.85), and noise."""
    rng = random.Random(13)
    vocab = [f"w{i:05d}" for i in range(30_000)]
    rows, truth = [], set()
    did = 0
    for _ in range(40):  # containers + their quotes
        big = rng.sample(vocab, rng.randrange(120, 201))
        big_id = did
        rows.append((did, big)); did += 1
        q = rng.sample(big, rng.randrange(15, 41))
        truth.add((did, big_id))
        rows.append((did, q)); did += 1
        # partial quote: 85% inside the container, 15% fresh
        n = rng.randrange(20, 41)
        inside = rng.sample(big, int(n * 0.9))
        outside = rng.sample(vocab[20_000:], n - len(inside))
        part = inside + outside
        if len(inside) / len(part) >= T:
            truth.add((did, big_id))
        rows.append((did, part)); did += 1
    for _ in range(200):  # noise
        rows.append((did, rng.sample(vocab, rng.randrange(15, 201)))); did += 1
    return rows, truth


def _exact_edges(rows):
    """Brute-force ordered containment >= T oracle (independent of the
    operator and of setjoin)."""
    sets = {i: set(s) for i, s in rows}
    out = set()
    for a, sa in sets.items():
        for b, sb in sets.items():
            if a != b and len(sa & sb) / len(sa) >= T:
                out.add((a, b))
    return out


@pytest.fixture(scope="module")
def corpus():
    return _corpus()


class TestSelfJoin:
    def test_recall_precision_vs_bruteforce(self, spark, corpus):
        rows, truth = corpus
        exact = _exact_edges(rows)
        assert truth <= exact  # planted classes are in the oracle
        assert len(exact) >= 60
        df = spark.createDataFrame(
            rows, "doc_id long, grams array<string>"
        ).repartition(8)
        edges, stats = lshensemble_containment(
            df, threshold=T, num_perm=64, num_partitions=8
        )
        got = {(r.src, r.dst) for r in edges.collect()}
        release_census_caches()
        # precision is EXACT: every emitted edge passed the sorted-merge
        # verify, so it must be in the brute-force set
        assert got <= exact, got - exact
        recall = len(got & exact) / len(exact)
        assert recall >= 0.95, (recall, len(exact))
        # the candidate generator actually pruned: far fewer candidates
        # than ordered all-pairs
        n_docs = len(rows)
        assert stats["n_candidates"] < 0.2 * n_docs * (n_docs - 1)
        assert stats["n_probe_band_rows"] > 0
        assert stats["n_index_band_rows"] > 0
        assert len(stats["partitions"]) >= 2

    def test_deterministic(self, spark, corpus):
        rows, _ = corpus
        df = spark.createDataFrame(
            rows[:120], "doc_id long, grams array<string>"
        )
        a, _ = lshensemble_containment(df, threshold=T, num_perm=32,
                                       num_partitions=4)
        b, _ = lshensemble_containment(df, threshold=T, num_perm=32,
                                       num_partitions=4)
        ra = sorted((r.src, r.dst, round(r.containment, 9)) for r in a.collect())
        rb = sorted((r.src, r.dst, round(r.containment, 9)) for r in b.collect())
        release_census_caches()
        assert ra == rb and len(ra) > 0

    def test_threshold_validation(self, spark):
        df = spark.createDataFrame([(0, ["a"])], "doc_id long, grams array<string>")
        with pytest.raises(ValueError, match="threshold"):
            lshensemble_containment(df, threshold=0.0)


class TestBipartite:
    def test_eval_queries_vs_train_index(self, spark):
        """Decontamination shape: small eval sets probed against a train
        corpus that quotes some of them wholesale. Every quoted eval set
        must be found; nothing links the fresh ones."""
        rng = random.Random(7)
        vocab = [f"t{i:05d}" for i in range(20_000)]
        train_rows, eval_rows, expected = [], [], set()
        for i in range(60):
            doc = rng.sample(vocab, rng.randrange(100, 180))
            train_rows.append((1000 + i, doc))
            if i < 20:  # eval item fully quoted inside this train doc
                q = rng.sample(doc, rng.randrange(12, 30))
                eval_rows.append((i, q))
                expected.add((i, 1000 + i))
        for i in range(20, 40):  # fresh eval items
            eval_rows.append((i, rng.sample(vocab[15_000:], 20)))
        probe = spark.createDataFrame(
            eval_rows, "doc_id long, grams array<string>"
        )
        index = spark.createDataFrame(
            train_rows, "doc_id long, grams array<string>"
        )
        edges, stats = lshensemble_containment(
            probe, index_docs=index, threshold=0.9, num_perm=64,
            num_partitions=4,
        )
        got = {(r.src, r.dst) for r in edges.collect()}
        release_census_caches()
        assert expected <= got, expected - got
        # fresh eval items share < 90% with anything in train
        assert all(src < 20 for src, _ in got)


class TestGateQuery:
    @pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
    def test_gate_query_nonempty(self, spark, sf):
        """A 0-row hash match is vacuous (the signbit lesson): the gate
        query must return edges at the driver-checked SFs. (sf0.1's
        doc_id<500 slice yields 2 rows — thin but non-empty; pinned here
        at the two cheap SFs only.)"""
        import __spark_entry__ as e

        out = e.q_lshensemble_containment(spark, f"/root/testdata/{sf}")
        assert out.count() >= 8, sf


class TestEmptyInputs:
    def test_empty_probe_returns_empty_edges(self, spark):
        """Review finding: an all-empty-sets frame crashed the size census
        (_size_partitions indexed sizes[0]). Must return zero edges."""
        df = spark.createDataFrame(
            [(0, []), (1, [])], "doc_id long, grams array<string>"
        )
        edges, stats = lshensemble_containment(df, threshold=0.8)
        assert edges.count() == 0
        assert stats["empty_reason"] == "empty_input"
        assert edges.columns == ["src", "dst", "containment"]

    def test_empty_bipartite_index(self, spark):
        probe = spark.createDataFrame(
            [(0, ["a", "b"])], "doc_id long, grams array<string>"
        )
        index = spark.createDataFrame([], "doc_id long, grams array<string>")
        edges, stats = lshensemble_containment(
            probe, index_docs=index, threshold=0.8
        )
        assert edges.count() == 0 and stats["empty_reason"] == "empty_input"

    def test_infeasible_band_table_returns_empty(self, spark):
        """Review finding: when every index partition is too small to
        t-contain every probe class the band table is {}, which crashed
        the band-union (_union(parts)[0]). Mathematically zero edges."""
        rng = random.Random(1)
        probe = spark.createDataFrame(
            [(i, [f"x{j}" for j in range(100)]) for i in range(3)],
            "doc_id long, grams array<string>",
        )
        index = spark.createDataFrame(
            [(100 + i, [f"x{j}" for j in rng.sample(range(100), 6)])
             for i in range(5)],
            "doc_id long, grams array<string>",
        )
        edges, stats = lshensemble_containment(
            probe, index_docs=index, threshold=0.8
        )
        assert edges.count() == 0
        assert stats["empty_reason"] == "no_feasible_cells"


class TestStoredIndex:
    """build/save/load/query: the datasketch-LSHEnsemble contract — an
    index built once, probed per batch with ZERO index-side featurization
    (load takes only a path; the query plan's index side is two parquet
    scans)."""

    P = [(1, 80), (81, 400)]
    C = [(1, 40), (41, 400)]

    def _corpus(self):
        rng = random.Random(21)
        vocab = [f"v{i:05d}" for i in range(20_000)]
        train = [(1000 + i, rng.sample(vocab, rng.randrange(60, 200)))
                 for i in range(50)]
        probes, expected = [], set()
        for i in range(15):  # quoted probes
            q = random.Random(100 + i).sample(train[i][1], 12 + i)
            probes.append((i, q))
            expected.add((i, 1000 + i))
        for i in range(15, 30):  # fresh probes
            probes.append((i, rng.sample(vocab[15_000:], 20)))
        return train, probes, expected

    def test_parity_with_bipartite_join_and_roundtrip(self, spark, tmp_path):
        from deduplication_framework_spark.operators.lshensemble import (
            build_ensemble_index,
            load_ensemble_index,
            query_ensemble_index,
            save_ensemble_index,
        )

        train, probes, expected = self._corpus()
        train_df = spark.createDataFrame(
            train, "doc_id long, grams array<string>"
        )
        probe_df = spark.createDataFrame(
            probes, "doc_id long, grams array<string>"
        )
        # direct bipartite join under the SAME explicit ranges = the spec
        direct, _ = lshensemble_containment(
            probe_df, index_docs=train_df, threshold=0.8, num_perm=64,
            partitions=self.P, classes=self.C,
        )
        want = sorted(
            (r.src, r.dst, round(r.containment, 9)) for r in direct.collect()
        )

        idx = build_ensemble_index(
            train_df, threshold=0.8, num_perm=64,
            partitions=self.P, classes=self.C,
        )
        path = str(tmp_path / "ens_idx")
        save_ensemble_index(idx, path)
        loaded = load_ensemble_index(spark, path)
        assert loaded["meta"]["band_table"] == idx["meta"]["band_table"]
        edges, stats = query_ensemble_index(probe_df, loaded)
        got = sorted(
            (r.src, r.dst, round(r.containment, 9)) for r in edges.collect()
        )
        release_census_caches()
        assert got == want and len(got) > 0
        assert {(s, d) for s, d, _ in got} >= expected
        assert stats["n_probe_out_of_class"] == 0
        # index side of the plan is parquet scans, not featurization
        plan = edges._jdf.queryExecution().executedPlan().toString()
        assert "Scan parquet" in plan

    def test_load_refuses_uncommitted_dir(self, spark, tmp_path):
        from deduplication_framework_spark.operators.lshensemble import (
            load_ensemble_index,
        )

        with pytest.raises(FileNotFoundError, match="meta.json"):
            load_ensemble_index(spark, str(tmp_path / "nope"))

    def test_out_of_class_probe_excluded_and_counted(self, spark, tmp_path):
        from deduplication_framework_spark.operators.lshensemble import (
            build_ensemble_index,
            query_ensemble_index,
        )

        train, probes, _ = self._corpus()
        train_df = spark.createDataFrame(
            train, "doc_id long, grams array<string>"
        )
        big_probe = [(900, [f"z{i}" for i in range(500)])]  # > class max
        probe_df = spark.createDataFrame(
            probes + big_probe, "doc_id long, grams array<string>"
        )
        idx = build_ensemble_index(
            train_df, threshold=0.8, num_perm=32,
            partitions=self.P, classes=self.C,
        )
        edges, stats = query_ensemble_index(probe_df, idx)
        got = {r.src for r in edges.collect()}
        release_census_caches()
        assert 900 not in got
        assert stats["n_probe_out_of_class"] == 1

    def test_save_crash_midway_leaves_no_commit_marker(self, spark, tmp_path):
        """Review finding: overwriting a committed index must invalidate
        the OLD meta.json BEFORE touching the tables — a crash between
        the table overwrite and the new meta landing would otherwise
        leave a loadable mixed-generation index (stale num_perm vs new
        band keys → silent zero edges)."""
        from deduplication_framework_spark.operators.lshensemble import (
            build_ensemble_index,
            load_ensemble_index,
            save_ensemble_index,
        )

        train, _, _ = self._corpus()
        df = spark.createDataFrame(train, "doc_id long, grams array<string>")
        idx = build_ensemble_index(
            df, threshold=0.8, num_perm=32,
            partitions=self.P, classes=self.C,
        )
        path = str(tmp_path / "idx")
        save_ensemble_index(idx, path)
        assert load_ensemble_index(spark, path)["meta"]["num_perm"] == 32

        class _CrashingFrame:
            @property
            def write(self):
                raise RuntimeError("simulated crash before bands write")

        import os
        with pytest.raises(RuntimeError, match="simulated crash"):
            save_ensemble_index({**idx, "feats": _CrashingFrame()}, path)
        # the stale marker is gone -> load refuses instead of serving a
        # mixed-generation index
        assert not os.path.exists(os.path.join(path, "meta.json"))
        with pytest.raises(FileNotFoundError, match="meta.json"):
            load_ensemble_index(spark, path)
