"""Reference-method facade: every method name from the reference dispatch
(pipeline_api.py:286-337) runs and matches its oracle."""

import pytest
from pyspark.sql import functions as F

from deduplication_framework_spark.api import dedup_texts
from deduplication_framework_spark.config import PipelineConfig
from deduplication_framework_spark.oracle import numpy_oracle as O


def _labels(res):
    return {r.doc_id: r.cluster_id for r in res.clusters.collect()}


def test_md5_matches_oracle(spark, pages, texts):
    txts, _ = texts
    res = dedup_texts(spark, pages, method="md5")
    got = _labels(res)
    expect = O.md5_exact(O.normalize_all(txts))
    assert got == expect


def test_simhash_runs(spark, pages):
    res = dedup_texts(spark, pages, method="simhash")
    assert res.keepers.count() < 600


def test_minhash_lsh_chargrams_only(spark, pages, texts):
    txts, _ = texts
    res = dedup_texts(spark, pages, method="minhash_lsh")
    our_pairs = O.clusters_to_pairs(_labels(res))
    oracle = O.minhash_lsh_sequential(txts, include_words=False)
    ref_pairs = O.clusters_to_pairs(oracle)
    assert O.dup_pair_recall(ref_pairs, our_pairs) >= 0.99


def test_jaccard_small_corpus_recall(spark, pages, texts):
    txts, _ = texts
    cfg = PipelineConfig()
    res = dedup_texts(spark, pages, method="jaccard", cfg=cfg)
    our_pairs = O.clusters_to_pairs(_labels(res))
    greedy = O.greedy_jaccard(O.shingle_sets(txts, 3), threshold=0.8)
    # strong pairs (the S-curve catches J>=0.9 with P>0.99) must be found
    feats = O.shingle_sets(txts, 3)
    strong = set()
    for i, j in O.clusters_to_pairs(greedy):
        a, b = feats[i], feats[j]
        u = a | b
        sim = 1.0 if (not a and not b) else (len(a & b) / len(u) if u else 0)
        if sim >= 0.9:
            strong.add((i, j))
    assert strong and O.dup_pair_recall(strong, our_pairs) >= 0.99


def test_jaccard_windowed_fallback(spark, pages, texts):
    txts, _ = texts
    cfg = PipelineConfig()
    cfg.dedup.max_candidates = 100  # force the fallback (600 > 100)
    res = dedup_texts(spark, pages, method="jaccard", cfg=cfg)
    # fallback is chunked-sequential: exact duplicates within a chunk still
    # dedupe; cluster count strictly below doc count
    n_keep = res.keepers.count()
    assert n_keep < 600
    # sanity: exact copies adjacent in doc order (exact class, groups of 3)
    labels = _labels(res)
    grouped = {}
    rows = pages.filter(F.col("dup_class") == "exact").select(
        "doc_order", "group_id"
    ).collect()
    for r in rows:
        grouped.setdefault(r.group_id, []).append(r.doc_order)
    merged = sum(
        1 for ms in grouped.values()
        if len({labels[m] for m in ms}) == 1
    )
    assert merged / len(grouped) >= 0.9  # chunk boundaries may split a few


def test_unknown_method_raises(spark, pages):
    with pytest.raises(ValueError):
        dedup_texts(spark, pages, method="nope")


@pytest.mark.parametrize("method", ["pipeline", "minhash_lsh", "jaccard"])
def test_pipeline_releases_census_caches(spark, pages, method):
    """The corpus-scale band/census frames persisted by the LSH operators
    are freed at pipeline end — by run_pipeline and by the facade methods
    that compose their own edges — and the returned frames stay
    actionable afterwards (recompute-at-worst, never wrong)."""
    from deduplication_framework_spark.config import PipelineConfig
    from deduplication_framework_spark.operators import lsh
    from deduplication_framework_spark.plans.pipeline import run_pipeline

    if method == "pipeline":
        res = run_pipeline(
            spark, pages, PipelineConfig(),
            detectors=["exact", "minhash", "simhash"], verify=False,
        )
    else:
        res = dedup_texts(spark, pages, method=method)
    assert lsh._LIVE_CENSUS_CACHES == [], "pipeline must release its caches"
    assert res.keepers.count() > 0
    assert res.clusters.count() > 0


def test_store_resumes_every_stage(spark, pages, tmp_path):
    """With a store, a repeated facade call resumes docs, edges, clusters
    and keepers and returns the same keepers; commits of one method never
    resume another (the store key covers the method)."""
    from deduplication_framework_spark.plans.checkpoint import ParquetTableStore

    store = ParquetTableStore(spark, str(tmp_path / "store"))
    for method in ("md5", "jaccard"):
        first = dedup_texts(spark, pages, method=method, store=store)
        assert not [k for k in first.metrics if k.endswith(".resumed")]
        keep = sorted(r.doc_id for r in first.keepers.collect())
        again = dedup_texts(spark, pages, method=method, store=store)
        for stage in ("docs", "edges", "clusters", "keepers"):
            assert again.metrics[f"{stage}.resumed"] == 1.0
        assert again.cc_rounds == first.cc_rounds
        assert sorted(r.doc_id for r in again.keepers.collect()) == keep
