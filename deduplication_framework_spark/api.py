"""Reference-compatible facade: one call per reference dedup method name.

A user of the reference drives text dedup via ``TextDedupConfig.method`` ∈
{jaccard, md5, simhash, minhash_lsh, ours_lsh} (dispatch at
/root/reference/text/method/pipeline_api.py:286-337, windowed fallback at
:305-311). This module maps each name onto the distributed pipeline with
the matching semantics:

| reference method | here |
|---|---|
| md5          | exact detector over normalized-text md5 (P7) |
| jaccard      | MinHash candidates + full multi-granularity-shingle Jaccard verify (J2 decomposed); windowed fallback honored above max_candidates |
| simhash      | SimHash Hamming-ball detector (J4) |
| minhash_lsh  | MinHash banding, char-grams only, unverified collisions (J6) |
| ours_lsh     | MinHash banding, words + char-grams, unverified collisions (J6) |

simhash and ours_lsh are ``run_pipeline`` calls. md5, minhash_lsh and
jaccard keep only their own edge builder here; docs, edges, clusters and
keepers then go through the pipeline's own stages
(``plans/pipeline.StageRunner`` + ``cluster_and_keep``), so with a
``store`` every method resumes stage by stage, and every method releases
its band/census caches. Keeper selection is min-doc-order per connected
component — the documented order-free equivalent of first-seen-wins
(SURVEY.md W5).
"""

from __future__ import annotations

import hashlib
from dataclasses import replace
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deduplication_framework_spark.config import PipelineConfig
from deduplication_framework_spark.functions.text import (
    make_shingles_udf,
    minhash_features,
    normalize_col,
)
from deduplication_framework_spark.operators.exact import exact_dedup
from deduplication_framework_spark.operators.lsh import (
    _persist_tracked,
    minhash_edges,
)
from deduplication_framework_spark.operators.windowed import (
    windowed_jaccard_dedup,
)
from deduplication_framework_spark.plans.pipeline import (
    PipelineResult,
    StageRunner,
    cluster_and_keep,
    prepare_docs,
    run_pipeline,
)

METHODS = ("jaccard", "md5", "simhash", "minhash_lsh", "ours_lsh")


def _sha1_sigs(docs: DataFrame, cfg: PipelineConfig, include_words: bool):
    """(doc_id, sig) of the facade's own MinHash paths: sha1 whatever
    ``cfg.dedup.hash_family`` says."""
    return minhash_features(
        docs,
        cfg.embedding,
        replace(cfg.dedup, hash_family="sha1"),
        with_shingles=False,
        include_words=include_words,
    )


def _md5_edges(docs: DataFrame, cfg: PipelineConfig) -> DataFrame:
    # reference md5 hashes the NORMALIZED text (pipeline_api.py:350)
    norm = docs.withColumn("text", normalize_col(F.col("text"), cfg.embedding))
    return exact_dedup(norm, hash_fn="md5")[1]


def _chargram_edges(docs: DataFrame, cfg: PipelineConfig) -> DataFrame:
    # the pipeline's minhash detector is ours_lsh (words + char-grams)
    return minhash_edges(_sha1_sigs(docs, cfg, include_words=False), None, cfg)[0]


def _jaccard_edges(docs: DataFrame, cfg: PipelineConfig) -> DataFrame:
    if docs.count() > cfg.dedup.max_candidates:
        # reference fallback: rolling-window quick dedup
        assigns = windowed_jaccard_dedup(
            docs,
            threshold=cfg.dedup.threshold,
            window_size=cfg.dedup.window_size,
            emb=cfg.embedding,
        )
        return assigns.filter(F.col("doc_id") != F.col("keeper_id")).select(
            F.col("keeper_id").alias("src"),
            F.col("doc_id").alias("dst"),
            F.lit(None).cast("double").alias("sim"),
        )
    # MinHash candidate gen (recall-complete at theta via the S-curve) +
    # FULL multi-granularity-shingle Jaccard verification — the J2 greedy
    # decomposed (SURVEY.md §2.3)
    sh = make_shingles_udf(cfg.embedding)
    shingles = _persist_tracked(docs.select("doc_id", sh("text").alias("shingles")))
    return minhash_edges(_sha1_sigs(docs, cfg, include_words=True), shingles, cfg)[0]


_EDGE_BUILDERS = {
    "md5": _md5_edges,
    "minhash_lsh": _chargram_edges,
    "jaccard": _jaccard_edges,
}


def dedup_texts(
    spark: SparkSession,
    pages: DataFrame,
    method: str = "ours_lsh",
    cfg: Optional[PipelineConfig] = None,
    store=None,
) -> PipelineResult:
    """Run the reference method by name over a pages/docs DataFrame. With
    a ``store`` every method commits and resumes its stages: simhash and
    ours_lsh under run_pipeline's key, the others under
    ``sha256(config_hash|api|method)``."""
    cfg = cfg or PipelineConfig()
    # None/empty → the signature default (ours_lsh), not a divergent one
    method = (method or "ours_lsh").lower()
    if method == "simhash":
        return run_pipeline(spark, pages, cfg, detectors=["simhash"], store=store)
    if method == "ours_lsh":
        return run_pipeline(
            spark, pages, cfg, detectors=["exact", "minhash"],
            verify=False, store=store,
        )
    if method not in _EDGE_BUILDERS:
        raise ValueError(f"Unknown text deduplication method: {method}")
    chash = hashlib.sha256(
        (cfg.config_hash() + "|api|" + method).encode("utf-8")
    ).hexdigest()
    stage = StageRunner(store, chash)
    docs = stage("docs", lambda: prepare_docs(pages), ["pages"])
    build = _EDGE_BUILDERS[method]
    return cluster_and_keep(stage, docs, lambda: build(docs, cfg), cfg)
