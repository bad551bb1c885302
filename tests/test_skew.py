"""Skew machinery (north_rule): boilerplate/template pages create hot LSH
buckets; capping must bound pair volume WITHOUT losing dup-pair recall.

The 600-doc fixture plants a boilerplate class (~70% shared template
tokens). Forcing bucket_cap far below the hot-bucket size switches those
buckets to star+chain pairing; recall vs the sequential LSH oracle must
stay >= 0.99 because every bucket member remains connected to the bucket
minimum through verified-or-unverified edges, and connected components
restores the transitive cluster.
"""

import pytest
from pyspark.sql import functions as F

from deduplication_framework_spark.config import PipelineConfig
from deduplication_framework_spark.oracle import numpy_oracle as O
from deduplication_framework_spark.plans.pipeline import run_pipeline


def _pairs(res):
    labels = {r.doc_id: r.cluster_id for r in res.clusters.collect()}
    return O.clusters_to_pairs(labels)


def test_capped_buckets_preserve_recall(spark, pages, texts):
    txts, _ = texts
    cfg = PipelineConfig()
    cfg.spark.bucket_cap = 8  # far below the boilerplate bucket sizes

    res = run_pipeline(
        spark, pages, cfg, detectors=["exact", "minhash"], verify=False
    )
    assert res.metrics.get("minhash.capped_band_rows", 0) > 0, (
        "fixture must actually trigger capping"
    )
    our_pairs = _pairs(res)

    oracle = O.minhash_lsh_sequential(txts)
    ref_pairs = O.clusters_to_pairs(oracle)
    recall = O.dup_pair_recall(ref_pairs, our_pairs)
    assert recall >= 0.99, f"recall {recall:.4f} with bucket_cap=8"


def test_capping_bounds_pair_volume(spark, pages):
    """With the cap on, the boilerplate class produces linear (star+chain),
    not quadratic, edges from its hot buckets."""
    from deduplication_framework_spark.functions.text import (
        make_fused_features_udf,
    )
    from deduplication_framework_spark.functions import kernels as K
    from deduplication_framework_spark.operators.lsh import (
        candidate_pairs,
        minhash_bands,
    )

    cfg = PipelineConfig()
    docs = pages.selectExpr("doc_order as doc_id", "text")
    boiler = docs.join(
        pages.filter(F.col("dup_class") == "boilerplate").select(
            F.col("doc_order").alias("doc_id")
        ),
        "doc_id",
        "left_semi",
    )
    m = boiler.count()
    assert m >= 20
    mh = make_fused_features_udf(cfg.embedding, cfg.dedup, with_minhash=True)
    sigs = boiler.select("doc_id", mh("text")["sig"].alias("sig"))
    b, r = K.optimal_band_param(0.8, 128)
    bands = minhash_bands(sigs, b, r).persist()

    uncapped, _ = candidate_pairs(bands, bucket_cap=10**9)
    capped, stats = candidate_pairs(bands, bucket_cap=4)
    n_uncapped, n_capped = uncapped.count(), capped.count()
    assert stats.collect()[0].n_capped_band_rows > 0
    # star+chain (2/row) + salted all-pairs (~cap/2 per row, hash-skew
    # slack): linear in bucket size, quadratic blowup gone
    assert n_capped <= 6 * m * b
    assert n_capped < n_uncapped
    bands.unpersist()


@pytest.mark.parametrize("op", ["candidate_pairs", "simhash_candidate_edges"])
def test_hot_free_plan_drops_salt_stages(spark, op):
    """Adaptive DAG pin: the build-time census prunes the salted/hot
    subplan (salt joins + star/chain window) when no bucket exceeds the
    cap, and keeps it when one does. Pair sets stay correct either way
    (covered above); this pins the plan shape itself. For SimHash the
    pruned subplan is the recursive-pigeonhole re-banding (``sub_key``)."""
    from deduplication_framework_spark.operators.lsh import candidate_pairs

    if op == "simhash_candidate_edges":
        _simhash_hot_free_plan(spark)
        return

    rows = [(i, 0, "b%d" % (i % 5)) for i in range(20)]
    bands = spark.createDataFrame(rows, ["doc_id", "band_idx", "band_key"])

    cold, _ = candidate_pairs(bands, bucket_cap=100)
    cold_plan = cold._jdf.queryExecution().optimizedPlan().toString()
    assert "salt" not in cold_plan, "hot-free census must prune salt stages"

    hot, stats = candidate_pairs(bands, bucket_cap=2)
    hot_plan = hot._jdf.queryExecution().optimizedPlan().toString()
    assert "salt" in hot_plan
    # both regimes still produce the full pair set over the 4-member
    # buckets (5 buckets x C(4,2)=6 exact; capped path may add backbone
    # edges but must cover at least connectivity — here we only pin counts
    # for the exact regime)
    assert cold.count() == 5 * 6
    assert stats.collect()[0].n_capped_band_rows > 0


def _simhash_hot_free_plan(spark):
    """test_operators' recursive-pigeonhole fixture: 30 distinct
    fingerprints sharing block 0, so that bucket is hot at cap 8."""
    import numpy as np

    from deduplication_framework_spark.functions.kernels import (
        simhash_band_layout,
    )
    from deduplication_framework_spark.operators.lsh import (
        simhash_candidate_edges,
    )

    rng = np.random.RandomState(7)
    off0, w0 = simhash_band_layout(64, 10)[0]
    mask_not0 = ~(((1 << w0) - 1) << off0) & 0xFFFFFFFFFFFFFFFF
    fps = []
    while len(fps) < 30:
        v = int(rng.randint(0, 2**63, dtype=np.int64)) & mask_not0
        if v not in fps:
            fps.append(v)
    df = spark.createDataFrame(list(enumerate(fps)), "doc_id long, simhash long")

    cold, cold_stats = simhash_candidate_edges(df, dist=10, bucket_cap=2000)
    cold_plan = cold._jdf.queryExecution().optimizedPlan().toString()
    assert "sub_key" not in cold_plan, "hot-free census must prune sub-banding"

    hot, stats = simhash_candidate_edges(df, dist=10, bucket_cap=8)
    hot_plan = hot._jdf.queryExecution().optimizedPlan().toString()
    assert "sub_key" in hot_plan
    # recursive pigeonhole is exact: same edges either way
    edge_set = lambda e: {(r.src, r.dst) for r in e.collect()}  # noqa: E731
    assert edge_set(hot) == edge_set(cold)
    s = stats.collect()[0]
    assert s.n_hot_band_rows == 30 and s.n_capped_band_rows == 0
    assert cold_stats.collect()[0].n_hot_band_rows == 0
