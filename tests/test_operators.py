"""Distributed-operator tests: the decomposition machinery (banding, pair
gen, salting, CC, keeper) against brute-force/union-find ground truth."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from deduplication_framework_spark.functions import kernels as K
from deduplication_framework_spark.operators.cluster import (
    clusters_from_edges,
    keepers,
)
from deduplication_framework_spark.operators.connected_components import (
    connected_components,
)
from deduplication_framework_spark.operators.exact import exact_dedup
from deduplication_framework_spark.operators.lsh import (
    candidate_pairs,
    minhash_bands,
    release_census_caches,
    simhash_bands,
)
from deduplication_framework_spark.operators.verify import verify_jaccard
from deduplication_framework_spark.oracle import numpy_oracle as O
from deduplication_framework_spark.session import local_frame


class TestExactDedup:
    def test_first_seen_keeper(self, spark):
        df = spark.createDataFrame(
            [(0, "aaa"), (1, "bbb"), (2, "aaa"), (3, "aaa"), (4, "ccc")],
            "doc_id long, text string",
        )
        keep, edges = exact_dedup(df)
        assert {r.doc_id for r in keep.collect()} == {0, 1, 4}
        got = {(r.src, r.dst) for r in edges.collect()}
        assert got == {(0, 2), (0, 3)}

    @staticmethod
    def _random_docs(spark, seed, n=300):
        """Shuffled unique ids, a separate unique order column, texts drawn
        from a small pool (duplicate groups) with NULLs, and the id and
        text columns in neither the first nor the last position."""
        rng = np.random.RandomState(seed)
        ids = rng.choice(10**6, n, replace=False)
        order = rng.permutation(n)
        pool = [f"text {i}" for i in range(40)] + [None]
        texts = [pool[i] for i in rng.randint(0, len(pool), n)]
        rows = [
            (float(i) / 7, texts[i], int(ids[i]), int(order[i]), f"l{i % 3}")
            for i in range(n)
        ]
        cols = "score double, text string, doc_id long, o long, lang string"
        return spark.createDataFrame(rows, cols).repartition(4), rows

    @pytest.mark.parametrize(
        "seed,order_col,hash_fn",
        [(0, "o", "md5"), (1, None, "xxhash64"), (2, "o", "sha1")],
    )
    def test_matches_reference_on_random_docs(self, spark, seed, order_col, hash_fn):
        """Keepers and edges equal a first-seen-wins reference: per text
        (all NULL texts are one group) the row with the least order keeps,
        every other row is an edge keeper → copy; keepers keep the input's
        columns, types and order."""
        df, rows = self._random_docs(spark, seed)
        keep, edges = exact_dedup(df, order_col=order_col, hash_fn=hash_fn)
        rank = 3 if order_col else 2
        first = {}
        for r in sorted(rows, key=lambda r: r[rank]):
            first.setdefault(r[1], r[2])
        want_keep = sorted(r for r in rows if first[r[1]] == r[2])
        want_edges = sorted(
            (first[r[1]], r[2], 1.0) for r in rows if first[r[1]] != r[2]
        )
        assert keep.dtypes == df.dtypes
        assert sorted(tuple(r) for r in keep.collect()) == want_keep
        assert edges.columns == ["src", "dst", "sim"]
        assert sorted(tuple(r) for r in edges.collect()) == want_edges
        assert any(r[1] is None for r in want_keep)
        assert len(want_edges) > len(want_keep) > 40

    def test_window_shuffles_no_text(self, spark):
        """The ranking window's shuffle carries ids and hashes only: no
        Exchange under the Window of either output has the text column."""
        df, _ = self._random_docs(spark, 3)
        keep, edges = exact_dedup(df, order_col="o", hash_fn="md5")

        def nodes(plan, stop=None):
            """Pre-order plan nodes, not descending below a ``stop`` node."""
            yield plan
            if plan.nodeName() == stop:
                return
            if plan.nodeName() == "AdaptiveSparkPlan":
                kids = [plan.initialPlan()]
            else:
                ch = plan.children()
                kids = [ch.apply(i) for i in range(ch.size())]
            for k in kids:
                yield from nodes(k, stop)

        for out in (keep, edges):
            plan = out._jdf.queryExecution().executedPlan()
            windows = [n for n in nodes(plan) if n.nodeName() == "Window"]
            assert windows
            # the shuffles that feed each window (the input's own
            # repartition lies below them)
            shuffles = [
                n
                for w in windows
                for n in nodes(w, stop="Exchange")
                if n.nodeName() == "Exchange"
            ]
            assert shuffles
            for x in shuffles:
                names = [x.output().apply(i).name() for i in range(x.output().size())]
                assert "text" not in names, names


class TestConnectedComponents:
    @pytest.mark.parametrize("seed", [0, 1])
    def test_matches_union_find_random_graph(self, spark, seed):
        rng = np.random.RandomState(seed)
        n, m = 300, 220
        pairs = [
            (int(a), int(b))
            for a, b in zip(rng.randint(0, n, m), rng.randint(0, n, m))
            if a != b
        ]
        edges = spark.createDataFrame(pairs, "src long, dst long")
        labels, rounds = connected_components(edges)
        got = {r.doc_id: r.cluster_id for r in labels.collect()}
        ids = sorted({x for p in pairs for x in p})
        expect = O.pairs_to_labels(ids, pairs)
        assert got == expect
        # sub-diameter convergence (diameter ~27 for these seeds); dedup
        # cluster graphs are near-stars and converge in 1-3 rounds
        assert rounds <= 14

    def test_long_chain(self, spark):
        # worst-case diameter: a path graph 0-1-2-...-63
        pairs = [(i, i + 1) for i in range(63)]
        edges = spark.createDataFrame(pairs, "src long, dst long")
        labels, rounds = connected_components(edges)
        got = {r.doc_id: r.cluster_id for r in labels.collect()}
        assert set(got.values()) == {0}
        assert rounds <= 7  # pointer jumping: log2(64) + slack

    def test_deep_chain_round_stats_and_bound(self, spark):
        """VERDICT r3 #6 (pytest side of the bench entry): a 20k-node
        graph of 2000-deep chains forces the distributed loop well past
        the near-star regime; rounds must respect the O(log diameter)
        pointer-jumping bound and the round_stats hook must record a
        monotonically shrinking changed-label frontier ending at 0."""
        import math

        from pyspark.sql import functions as F

        n, clen = 20_000, 2000
        edges = (
            spark.range(n)
            .filter((F.col("id") + 1) % clen != 0)
            .select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
        )
        rlog = []
        labels, rounds = connected_components(edges, round_stats=rlog)
        assert labels.select("cluster_id").distinct().count() == n // clen
        assert rounds <= math.ceil(math.log2(clen)) + 1
        changed = [d["n_changed"] for d in rlog]
        assert len(changed) == rounds and changed[-1] == 0
        assert changed == sorted(changed, reverse=True)

    def test_singletons_rejoin(self, spark):
        docs = spark.range(6).withColumnRenamed("id", "doc_id")
        edges = spark.createDataFrame([(1, 2), (4, 5)], "src long, dst long")
        clusters, _ = clusters_from_edges(docs, edges)
        got = {r.doc_id: r.cluster_id for r in clusters.collect()}
        assert got == {0: 0, 1: 1, 2: 1, 3: 3, 4: 4, 5: 4}
        keep = keepers(docs, clusters)
        assert {r.doc_id for r in keep.collect()} == {0, 1, 3, 4}


class TestCandidatePairs:
    def _bands_df(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, band_idx int, band_key long")

    def test_all_pairs_small_bucket(self, spark):
        rows = [(i, 0, 7) for i in range(4)] + [(9, 1, 8)]
        pairs, stats = candidate_pairs(self._bands_df(spark, rows), bucket_cap=100)
        got = {(r.src, r.dst) for r in pairs.collect()}
        assert got == {(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)}
        s = stats.collect()[0]
        assert s.n_buckets == 1 and s.max_bucket_size == 4

    @pytest.mark.parametrize("cap", [1, 100], ids=["clique", "all_pairs"])
    def test_n_buckets_exact_with_a_doc_twice_in_a_bucket(self, spark, cap):
        """A doc can hold several rows of one bucket (a repeated L-gram in
        suffix-array buckets); the bucket still counts once."""
        rows = [(0, 0, 7), (0, 0, 7), (1, 0, 7), (2, 0, 8), (2, 0, 8), (3, 0, 8)]
        _, stats = candidate_pairs(self._bands_df(spark, rows), bucket_cap=cap)
        release_census_caches()
        s = stats.collect()[0]
        assert s.n_buckets == 2 and s.max_bucket_size == 3

    def test_census_stats_are_observed_and_freed(self, spark):
        """The census cut's observed stats equal a groupBy over the same
        rows, reading them runs no job, and release_census_caches() frees
        the cut's checkpoint blocks."""
        jsc = spark.sparkContext._jsc
        release_census_caches()
        persisted = len(jsc.getPersistentRDDs())
        rows = [(i, 0, 7) for i in range(10)] + [(i, 1, i % 3) for i in range(9)]
        rows += [(20, 2, 5)]
        bands = self._bands_df(spark, rows)
        pairs, stats = candidate_pairs(bands, bucket_cap=5)
        assert pairs.count() > 0
        jobs = spark.sparkContext.statusTracker().getJobIdsForGroup()
        got = stats.collect()[0].asDict()
        assert spark.sparkContext.statusTracker().getJobIdsForGroup() == jobs
        sizes = bands.groupBy("band_idx", "band_key").agg(
            F.count("*").alias("size")
        ).filter("size > 1")
        want = sizes.agg(
            F.count("*").alias("n_buckets"),
            F.sum(F.when(F.col("size") > 5, F.col("size"))).alias(
                "n_capped_band_rows"
            ),
            F.max("size").alias("max_bucket_size"),
        ).collect()[0].asDict()
        assert got == want
        assert len(jsc.getPersistentRDDs()) > persisted
        release_census_caches()
        assert len(jsc.getPersistentRDDs()) == persisted

    def test_hot_bucket_salted_star_chain(self, spark):
        rows = [(i, 0, 7) for i in range(10)]
        pairs, stats = candidate_pairs(self._bands_df(spark, rows), bucket_cap=5)
        got = {(r.src, r.dst) for r in pairs.collect()}
        star = {(0, i) for i in range(1, 10)}
        chain = {(i, i + 1) for i in range(9)}
        # connectivity backbone always present...
        assert (star | chain) <= got
        # ...plus salted within-group all-pairs, bounded well below all-pairs
        assert len(got) < 45  # C(10,2) = full quadratic
        assert stats.collect()[0].n_capped_band_rows == 10
        # (salt assignment is xxhash64-based inside the JVM; volume bound +
        # backbone checked here — recall under capping is test_skew's job)

    def test_collision_threshold(self, spark):
        # pair (1,2) collides in 2 bands; (3,4) in 1
        rows = [(1, 0, 7), (2, 0, 7), (1, 1, 9), (2, 1, 9), (3, 2, 5), (4, 2, 5)]
        pairs, _ = candidate_pairs(
            self._bands_df(spark, rows), bucket_cap=100, collision_threshold=2
        )
        assert {(r.src, r.dst) for r in pairs.collect()} == {(1, 2)}

    def test_minhash_banding_complete(self, spark):
        """Docs with identical band slices must land in the same bucket."""
        perms = K.minhash_permutations(32)
        feats = [f"t{i}".encode() for i in range(50)]
        sig = K.minhash_signature(feats, perms).astype(np.int64).tolist()
        df = spark.createDataFrame([(0, sig), (1, sig)], "doc_id long, sig array<long>")
        bands = minhash_bands(df, b=4, r=8)
        pairs, _ = candidate_pairs(bands)
        assert {(r.src, r.dst) for r in pairs.collect()} == {(0, 1)}

    def test_simhash_banding_within_dist(self, spark):
        a = int(np.int64(0x0123456789ABCDEF))
        b = a ^ (1 << 3) ^ (1 << 40)  # distance 2
        far = ~a & ((1 << 63) - 1)
        df = spark.createDataFrame(
            [(0, a), (1, b), (2, far)], "doc_id long, simhash long"
        )
        bands = simhash_bands(df, dist=10)
        pairs, _ = candidate_pairs(bands)
        got = {(r.src, r.dst) for r in pairs.collect()}
        assert (0, 1) in got and (0, 2) not in got

    @staticmethod
    def _ham(a: int, b: int) -> int:
        return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")

    @staticmethod
    def _i64(x: int) -> int:
        return x - (1 << 64) if x >= (1 << 63) else x

    def test_hot_bucket_recursive_pigeonhole_exact(self, spark):
        """A pair whose ONLY shared block is a hot (> cap) bucket must
        still surface — this is the exact scenario the round-3 salted
        variant lost (caught by the sf0.1 sweep: simhash_clusters split a
        cluster). Edge set must equal brute-force hamming<=10."""
        import itertools

        from deduplication_framework_spark.functions.kernels import (
            simhash_band_layout,
        )
        from deduplication_framework_spark.operators.lsh import (
            simhash_candidate_edges,
        )

        rng = np.random.RandomState(7)
        layout = simhash_band_layout(64, 10)
        off0, w0 = layout[0]
        mask_not0 = ~(((1 << w0) - 1) << off0) & 0xFFFFFFFFFFFFFFFF
        fps: set = set()
        base = []
        while len(base) < 30:
            v = int(rng.randint(0, 2**63, dtype=np.int64)) & mask_not0
            if v not in fps:
                fps.add(v)
                base.append(v)
        # partners differ in exactly one bit of EVERY other block: hamming
        # 10, and block 0 (hot: all 40 rows share it) is the only match
        planted = []
        for b in base[:10]:
            v = b
            for off, _w in layout[1:]:
                v ^= 1 << off
            fps.add(v)
            planted.append(v)
        all_fps = base + planted
        df = spark.createDataFrame(
            [(i, self._i64(f)) for i, f in enumerate(all_fps)],
            "doc_id long, simhash long",
        )
        edges, stats = simhash_candidate_edges(df, dist=10, bucket_cap=8)
        got = {(r.src, r.dst) for r in edges.collect()}
        want = {
            (i, j)
            for (i, a), (j, b) in itertools.combinations(
                enumerate(all_fps), 2
            )
            if self._ham(a, b) <= 10
        }
        assert got == want
        s = stats.collect()[0]
        assert s.n_hot_band_rows == 40  # first level hot, handled exactly
        assert s.n_capped_band_rows == 0  # no lossy fallback triggered

    def test_double_hot_fallback_keeps_connectivity_and_is_counted(
        self, spark
    ):
        """Sub-buckets that are THEMSELVES hot fall back to salting +
        star/chain: near-identical fingerprints stay connected through the
        hamming-filtered backbone, and the lossy rows are counted."""
        from deduplication_framework_spark.operators.lsh import (
            simhash_candidate_edges,
        )

        # 24 distinct fps differing only in the top 5 bits -> every block
        # bucket hot at cap=8 AND every sub-bucket hot (comps near-equal)
        all_fps = [(i << 59) for i in range(24)]
        df = spark.createDataFrame(
            [(i, self._i64(f)) for i, f in enumerate(all_fps)],
            "doc_id long, simhash long",
        )
        edges, stats = simhash_candidate_edges(df, dist=10, bucket_cap=8)
        got = {(r.src, r.dst) for r in edges.collect()}
        # all pairs are within hamming 10 (<=5 differing bits x2): the
        # graph must be CONNECTED over all 24 ids even where all-pairs
        # enumeration was capped
        parent = list(range(24))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in got:
            parent[find(a)] = find(b)
        assert len({find(i) for i in range(24)}) == 1
        assert stats.collect()[0].n_capped_band_rows > 0


class TestVerify:
    def test_jaccard_expr_matches_kernel(self, spark):
        sets = {
            0: ["a", "b", "c", "d"],
            1: ["a", "b", "c", "e"],
            2: ["x", "y"],
            3: [],
            4: [],
        }
        def i64(u: int) -> int:
            return u - (1 << 64) if u >= (1 << 63) else u

        feats = spark.createDataFrame(
            [(k, [i64(K.hash_feature_u64(s)) for s in v]) for k, v in sets.items()],
            "doc_id long, shingles array<long>",
        )
        pairs = spark.createDataFrame(
            [(0, 1), (0, 2), (3, 4)], "src long, dst long"
        )
        edges = verify_jaccard(pairs, feats, threshold=0.0, size_prefilter=False)
        got = {(r.src, r.dst): round(r.sim, 4) for r in edges.collect()}
        assert got[(0, 1)] == round(3 / 5, 4)
        assert got[(0, 2)] == 0.0
        assert got[(3, 4)] == 1.0  # both-empty → 1.0 (reference rule)

    def test_size_prefilter_safe(self, spark):
        # |A|=2, |B|=10 → max possible J = 0.2 < θ=0.8: filtered without set ops
        feats = spark.createDataFrame(
            [(0, list(range(2))), (1, list(range(10)))],
            "doc_id long, shingles array<long>",
        )
        pairs = spark.createDataFrame([(0, 1)], "src long, dst long")
        assert verify_jaccard(pairs, feats, 0.8).count() == 0


class TestAdaptiveCC:
    def test_driver_fast_path_equals_distributed(self, spark):
        import numpy as np
        rng = np.random.RandomState(3)
        pairs = [
            (int(a), int(b))
            for a, b in zip(rng.randint(0, 200, 150), rng.randint(0, 200, 150))
            if a != b
        ]
        docs = spark.range(200).withColumnRenamed("id", "doc_id")
        edges = spark.createDataFrame(pairs, "src long, dst long")
        fast, r_fast = clusters_from_edges(docs, edges, driver_threshold=10**6)
        dist, r_dist = clusters_from_edges(docs, edges, driver_threshold=0)
        assert r_fast == 0 and r_dist >= 1
        a = {r.doc_id: r.cluster_id for r in fast.collect()}
        b = {r.doc_id: r.cluster_id for r in dist.collect()}
        assert a == b

    @pytest.mark.parametrize("edge_rows", [[(1, 2), (2, 3), (5, 7)], []])
    def test_driver_path_labels_are_a_local_relation(self, spark, edge_rows):
        """The driver union-find's labels enter the plan as a LocalRelation
        (no pickled-RDD scan, so no Python workers start), and an empty
        edge set still yields one singleton cluster per doc."""
        docs = spark.range(10).withColumnRenamed("id", "doc_id")
        edges = local_frame(spark, "src long, dst long", edge_rows)
        clusters, rounds = clusters_from_edges(docs, edges, driver_threshold=100)
        plan = clusters._jdf.queryExecution().toString()
        assert "LocalRelation" in plan
        assert "ExistingRDD" not in plan and "LogicalRDD" not in plan, plan
        got = {r.doc_id: r.cluster_id for r in clusters.collect()}
        want = {i: i for i in range(10)}
        if edge_rows:
            want.update({2: 1, 3: 1, 7: 5})
        assert rounds == 0 and got == want

    def test_driver_path_threshold_boundary(self, spark):
        """The bounded collect decides the path exactly as an edge count
        would: at most driver_threshold edges → driver union-find."""
        docs = spark.range(12).withColumnRenamed("id", "doc_id")
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(0, 10, 2)] + [(1, 2)],
            "src long, dst long",
        ).repartition(3)
        n = 6
        at, r_at = clusters_from_edges(docs, edges, driver_threshold=n)
        over, r_over = clusters_from_edges(docs, edges, driver_threshold=n - 1)
        assert r_at == 0 and r_over >= 1
        a = {r.doc_id: r.cluster_id for r in at.collect()}
        assert a == {r.doc_id: r.cluster_id for r in over.collect()}
        assert a[3] == 0 and a[5] == 4 and a[11] == 11
