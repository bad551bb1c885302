"""ANN: GEMM brute-force exactness + IVF recall vs brute force."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from deduplication_framework_spark.operators.ann import (
    ivf_topk,
    knn_bruteforce,
    neighbor_counts_bruteforce,
)


@pytest.fixture(scope="module")
def ann_df(spark):
    rng = np.random.RandomState(11)
    rows = []
    vid = 0
    for c in range(8):
        center = rng.randn(32)
        center /= np.linalg.norm(center)
        for _ in range(40):
            v = center + 0.25 * rng.randn(32)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _np_topk(rows, k):
    ids = np.array([r.vec_id for r in rows])
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    sims = mat @ mat.T
    np.fill_diagonal(sims, -np.inf)
    out = {}
    for i, vid in enumerate(ids):
        order = np.argsort(-sims[i], kind="stable")[:k]
        out[int(vid)] = [int(ids[j]) for j in order]
    return out


def test_bruteforce_exact(spark, ann_df):
    rows = sorted(ann_df.collect(), key=lambda r: r.vec_id)
    expect = _np_topk(rows, 5)
    got = {}
    for r in knn_bruteforce(ann_df, k=5).collect():
        got.setdefault(r.vec_id, {})[r.rank] = r.neighbor_id
    for vid, nbrs in expect.items():
        ranked = [got[vid][i] for i in range(1, 6)]
        # ties at equal sim may swap; compare as sets of the top-5 sims
        assert set(ranked) == set(nbrs), vid


def test_neighbor_counts_matches_pairwise(spark, ann_df):
    rows = sorted(ann_df.collect(), key=lambda r: r.vec_id)
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    sims = mat @ mat.T
    np.fill_diagonal(sims, -np.inf)
    expect = {
        int(r.vec_id): int(np.count_nonzero(sims[i] >= 0.9))
        for i, r in enumerate(rows)
        if np.count_nonzero(sims[i] >= 0.9)
    }
    got = {
        r.vec_id: r.n_neighbors
        for r in neighbor_counts_bruteforce(ann_df, 0.9).collect()
    }
    assert got == expect


def test_ivf_recall(spark, ann_df):
    k = 10
    exact = {}
    for r in knn_bruteforce(ann_df, k=k).collect():
        exact.setdefault(r.vec_id, set()).add(r.neighbor_id)
    approx, blocked = ivf_topk(ann_df, k=k, n_lists=8, n_probe=3)
    got = {}
    for r in approx.collect():
        got.setdefault(r.vec_id, set()).add(r.neighbor_id)
    recalls = [
        len(exact[v] & got.get(v, set())) / len(exact[v]) for v in exact
    ]
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.9, f"IVF recall@{k} = {mean_recall:.3f}"
    blocked.unpersist()


def test_cosine_edges_bruteforce_exact(spark, ann_df):
    from deduplication_framework_spark.operators.ann import (
        cosine_edges_bruteforce,
    )

    rows = ann_df.collect()
    ids = np.array([r.vec_id for r in rows])
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = mat @ mat.T
    expect = {
        (int(ids[i]), int(ids[j]))
        for i in range(len(ids))
        for j in range(len(ids))
        if ids[i] < ids[j] and sims[i, j] >= 0.3
    }
    got = {
        (r.src, r.dst)
        for r in cosine_edges_bruteforce(ann_df, threshold=0.3).collect()
    }
    assert got == expect and len(expect) > 100


def test_knn_bruteforce_tiny_corpus_excludes_self(spark):
    """k larger than the corpus: the over-fetched candidate slice must never
    emit the masked self row, and ranks must stay dense from 1."""
    import numpy as np

    from deduplication_framework_spark.operators.ann import knn_bruteforce

    rng = np.random.RandomState(3)
    rows = [(i, [float(x) for x in rng.randn(8)]) for i in range(4)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = knn_bruteforce(df, k=10).collect()
    by_q = {}
    for r in out:
        assert r.neighbor_id != r.vec_id
        by_q.setdefault(r.vec_id, []).append(r.rank)
    for q, ranks in by_q.items():
        assert sorted(ranks) == [1, 2, 3]  # 3 non-self neighbors


def test_bruteforce_guard_fails_fast(spark, ann_df):
    """The brute-force paths refuse oversized inputs BEFORE collecting or
    broadcasting (What's wrong r3 #1): the collect is limit-bounded and the
    error names ivf_topk as the scale path."""
    from deduplication_framework_spark.operators.ann import (
        cosine_edges_bruteforce,
    )

    with pytest.raises(ValueError, match="ivf_topk"):
        knn_bruteforce(ann_df, k=5, max_rows=100)
    with pytest.raises(ValueError, match="ivf_topk"):
        neighbor_counts_bruteforce(ann_df, 0.5, max_rows=100)
    with pytest.raises(ValueError, match="ivf_topk"):
        cosine_edges_bruteforce(ann_df, 0.5, max_rows=100)
    # cell budget trips independently of the row budget (d matters too)
    with pytest.raises(ValueError, match="cell"):
        knn_bruteforce(ann_df, k=5, max_cells=1000)
    # within budget: unchanged behavior
    n = knn_bruteforce(ann_df, k=1, max_rows=1000).count()
    assert n == 320


class TestPQ:
    """Product quantization: encode determinism, ADC recall vs exact
    brute force, and the lossy-then-exact rerank recipe."""

    @pytest.fixture(scope="class")
    def pq_setup(self, spark, ann_df):
        from pyspark.sql import functions as F

        from deduplication_framework_spark.operators.embeddings import (
            kmeans_block,
            l2_normalize,
        )
        from deduplication_framework_spark.operators.pq import pq_train

        normed = l2_normalize(ann_df)
        blocked = kmeans_block(normed, n_clusters=8, seed=7).select(
            "vec_id", "embedding", F.col("block_id").alias("label")
        ).persist()
        blocked.count()
        books = pq_train(blocked, m=8, k=32, seed=11)
        return blocked, books

    def test_encode_shape_and_determinism(self, spark, pq_setup):
        from deduplication_framework_spark.operators.pq import pq_encode

        blocked, books = pq_setup
        assert books.shape == (8, 32, 4)  # 32-dim, m=8 -> dsub=4
        a = {r.vec_id: list(r.codes) for r in pq_encode(blocked, books).collect()}
        b = {r.vec_id: list(r.codes) for r in pq_encode(blocked, books).collect()}
        assert a == b and len(a) == 320
        assert all(0 <= c < 32 for codes in a.values() for c in codes)

    def test_adc_recall_and_rerank(self, spark, pq_setup):
        from deduplication_framework_spark.operators.pq import ivfpq_topk

        blocked, books = pq_setup
        exact = {
            r.vec_id: r.neighbor_id
            for r in knn_bruteforce(blocked, k=1).collect()
        }

        def recall1(df):
            got = {}
            for r in df.filter("rank = 1").collect():
                got[r.vec_id] = r.neighbor_id
            hits = sum(1 for v, n in exact.items() if got.get(v) == n)
            return hits / len(exact)

        # raw ADC recall@1 is the HARDEST metric for PQ on tightly
        # clustered vectors (quantization error rivals the 1st-vs-2nd
        # neighbor margin) — measured ~0.39 here; its real job is the
        # shortlist, whose quality the reranked number proves
        raw = ivfpq_topk(blocked, books, k=1, n_probe=4)
        r_raw = recall1(raw)
        assert r_raw >= 0.3, f"PQ-ADC recall@1 {r_raw:.2f}"

        # the production recipe: PQ top-20 shortlist + exact rerank —
        # measured 0.99-1.0 (the true NN almost always survives into the
        # shortlist even when ADC misranks it)
        rer = ivfpq_topk(blocked, books, k=1, n_probe=4, rerank=20)
        r_rer = recall1(rer)
        assert r_rer >= 0.9, f"reranked recall@1 {r_rer:.2f}"
        assert r_rer >= r_raw

    def test_rerank_smaller_than_k_still_yields_k(self, spark, pq_setup):
        """rerank < k is clamped to k — a shortlist smaller than the
        requested top-k would silently truncate the output."""
        from pyspark.sql import functions as F

        from deduplication_framework_spark.operators.pq import ivfpq_topk

        blocked, books = pq_setup
        out = ivfpq_topk(blocked, books, k=10, n_probe=4, rerank=5)
        per_q = out.groupBy("vec_id").agg(F.count("*").alias("n"))
        assert per_q.filter("n < 10").count() == 0

    def test_train_empty_input_raises(self, spark):
        from deduplication_framework_spark.operators.pq import pq_train

        empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
        with pytest.raises(ValueError, match="no rows"):
            pq_train(empty, m=8, k=16)


class TestSRP:
    """Signed-random-projection LSH: the bucketed candidate path for
    embedding cosine near-dup (Charikar 2002), verified exact."""

    def test_edges_match_bruteforce_on_dup_corpus(self, spark):
        """Planted near-duplicate pairs (cos >= 0.95) must ALL survive
        SRP banding + exact verification — edge set equality with the
        brute-force oracle at the 0.9 threshold."""
        import numpy as np

        from deduplication_framework_spark.operators.ann import (
            cosine_edges_bruteforce,
        )
        from deduplication_framework_spark.operators.srp import (
            srp_candidate_edges,
        )

        rng = np.random.RandomState(3)
        rows = []
        vid = 0
        for g in range(60):
            base = rng.randn(32)
            base /= np.linalg.norm(base)
            for _ in range(3):  # 3 near-identical copies per group
                v = base + 0.02 * rng.randn(32)
                v /= np.linalg.norm(v)
                rows.append((vid, [float(x) for x in v]))
                vid += 1
        for _ in range(150):  # unrelated background
            v = rng.randn(32)
            v /= np.linalg.norm(v)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

        expect = {
            (r.src, r.dst)
            for r in cosine_edges_bruteforce(df, threshold=0.9).collect()
        }
        assert len(expect) >= 150, "fixture must plant dup groups"

        edges, stats = srp_candidate_edges(df, threshold=0.9)
        got = {(r.src, r.dst) for r in edges.collect()}
        assert got == expect  # exact verify => equality, not just recall
        st = stats.collect()[0]
        assert st.n_buckets > 0

    def test_candidate_volume_is_subquadratic(self, spark):
        """On an all-unrelated corpus the bucket join must produce far
        fewer candidates than all-pairs (the point of banding)."""
        import numpy as np

        from deduplication_framework_spark.operators.srp import (
            srp_candidate_edges,
        )

        rng = np.random.RandomState(5)
        rows = []
        for vid in range(400):
            v = rng.randn(32)
            v /= np.linalg.norm(v)
            rows.append((vid, [float(x) for x in v]))
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        cands, _ = srp_candidate_edges(df, verify=False)
        n = cands.count()
        allpairs = 400 * 399 // 2
        # theory: per-pair collision ~ E[p^8]*16 with p = 1-theta/pi; at
        # d=32 random cosines spread enough that Jensen (p^8 convex)
        # lifts the 0.5^8*16 ~ 6% baseline to ~8% measured — still an
        # order of magnitude under all-pairs, tightening with dimension
        assert n < 0.15 * allpairs, f"{n} candidates vs {allpairs} pairs"


def test_srp_plane_broadcast_released_with_census_caches(spark, monkeypatch):
    """The SRP projection-plane broadcast is freed by
    release_census_caches() — unpersisted, not destroyed, so the lazy
    edges frame still recomputes to the same set after the release."""
    from pyspark.broadcast import Broadcast

    from deduplication_framework_spark.operators.lsh import (
        release_census_caches,
    )
    from deduplication_framework_spark.operators.srp import srp_candidate_edges

    released = []
    unpersist = Broadcast.unpersist

    def spy(self, blocking=False):
        released.append(self)
        return unpersist(self, blocking)

    monkeypatch.setattr(Broadcast, "unpersist", spy)
    release_census_caches()  # start from an empty registry
    released.clear()
    rng = np.random.RandomState(3)
    rows = []
    for g in range(20):
        base = rng.randn(16)
        for k in range(2):  # planted near-identical pairs
            v = base + 0.01 * rng.randn(16)
            rows.append((2 * g + k, [float(x) for x in v / np.linalg.norm(v)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    edges, _ = srp_candidate_edges(df, threshold=0.9)
    before = {(r.src, r.dst, r.sim) for r in edges.collect()}
    release_census_caches()
    assert before
    assert len(released) == 1
    assert {(r.src, r.dst, r.sim) for r in edges.collect()} == before
    release_census_caches()


class TestCrossNeighborCounts:
    def test_bipartite_counts_and_zero_rows(self, spark):
        from deduplication_framework_spark.operators.ann import (
            cross_neighbor_counts,
        )

        tr = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.7, 0.7])],
            ["vec_id", "embedding"],
        )
        ev = spark.createDataFrame(
            [(100, [1.0, 0.0]), (101, [0.9, 0.1])],
            ["vec_id", "embedding"],
        )
        got = {
            r.vec_id: r.n_ref_hits
            for r in cross_neighbor_counts(
                tr, ev, threshold=0.8, normalize=True
            ).collect()
        }
        # cos(v1,e100)=1, cos(v1,e101)=0.9938...; v2 hits none but the
        # row is still emitted; v3 vs e100 = .7071 (<0.8), vs e101 ~ .78
        assert got == {1: 2, 2: 0, 3: 0}

    def test_raw_dot_mode_matches_bruteforce_count(self, spark):
        import numpy as np

        from deduplication_framework_spark.operators.ann import (
            cross_neighbor_counts,
        )

        rng = np.random.default_rng(7)
        tr_rows = [(i, rng.normal(size=8).tolist()) for i in range(30)]
        ev_rows = [(100 + i, rng.normal(size=8).tolist()) for i in range(10)]
        tr = spark.createDataFrame(tr_rows, ["vec_id", "embedding"])
        ev = spark.createDataFrame(ev_rows, ["vec_id", "embedding"])
        got = {
            r.vec_id: r.n_ref_hits
            for r in cross_neighbor_counts(
                tr, ev, threshold=1.0, normalize=False
            ).collect()
        }
        want = {
            i: sum(
                1
                for _, e in ev_rows
                if float(np.dot(np.array(v), np.array(e))) >= 1.0
            )
            for i, v in tr_rows
        }
        assert got == want

    def test_ref_budget_guard(self, spark):
        import pytest as _pytest

        from deduplication_framework_spark.operators.ann import (
            cross_neighbor_counts,
        )

        tr = spark.createDataFrame([(1, [1.0, 0.0])], ["vec_id", "embedding"])
        ev = spark.createDataFrame(
            [(i, [1.0, 0.0]) for i in range(50)], ["vec_id", "embedding"]
        )
        with _pytest.raises(ValueError, match="ivf_topk"):
            cross_neighbor_counts(tr, ev, threshold=0.5, max_rows=10)

    def test_empty_ref_yields_zero_hits(self, spark):
        from deduplication_framework_spark.operators.ann import (
            cross_neighbor_counts,
        )

        tr = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [0.0, 1.0])], ["vec_id", "embedding"]
        )
        ev = tr.filter("vec_id < 0")  # empty
        got = {
            r.vec_id: r.n_ref_hits
            for r in cross_neighbor_counts(tr, ev, threshold=0.5).collect()
        }
        assert got == {1: 0, 2: 0}

    def test_custom_id_col_in_output(self, spark):
        from deduplication_framework_spark.operators.ann import (
            cross_neighbor_counts,
        )

        tr = spark.createDataFrame(
            [(7, [1.0, 0.0])], ["doc_id", "embedding"]
        )
        ev = spark.createDataFrame(
            [(8, [1.0, 0.0])], ["doc_id", "embedding"]
        )
        out = cross_neighbor_counts(tr, ev, threshold=0.9, id_col="doc_id")
        assert out.columns == ["doc_id", "n_ref_hits"]
        assert out.collect()[0].doc_id == 7
