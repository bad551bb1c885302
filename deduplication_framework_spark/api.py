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

Keeper selection is min-doc-order per connected component — the documented
order-free equivalent of first-seen-wins (SURVEY.md W5).
"""

from __future__ import annotations

from dataclasses import replace
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deduplication_framework_spark.config import PipelineConfig
from deduplication_framework_spark.functions import kernels as K
from deduplication_framework_spark.functions.text import (
    make_fused_features_udf,
    make_shingles_udf,
)
from deduplication_framework_spark.operators.cluster import (
    clusters_from_edges,
    keepers as keepers_op,
)
from deduplication_framework_spark.operators.exact import exact_dedup
from deduplication_framework_spark.operators.lsh import (
    candidate_pairs,
    minhash_bands,
)
from deduplication_framework_spark.operators.verify import verify_jaccard
from deduplication_framework_spark.plans.pipeline import (
    PipelineResult,
    prepare_docs,
    run_pipeline,
)

METHODS = ("jaccard", "md5", "simhash", "minhash_lsh", "ours_lsh")


def _sha1_sig(cfg: PipelineConfig, text_col: str, include_words: bool = True):
    """MinHash signature column of the facade-assembled paths: sha1
    whatever ``cfg.dedup.hash_family`` says."""
    fused = make_fused_features_udf(
        cfg.embedding,
        replace(cfg.dedup, hash_family="sha1"),
        with_minhash=True,
        include_words=include_words,
    )
    return fused(text_col)["sig"]


def _finalize(
    docs, edges, clusters, keep, rounds, cfg, method, store
) -> PipelineResult:
    """Shared tail for the facade-assembled paths: adaptive CC already ran;
    commit the durable outputs through the store when one is attached (the
    run_pipeline-delegating paths get full stage resume instead)."""
    if store is not None:
        import hashlib

        chash = hashlib.sha256(
            (cfg.config_hash() + "|api|" + method).encode("utf-8")
        ).hexdigest()
        edges = store.write(edges, "edges", chash, lineage=["docs"])
        clusters = store.write(clusters, "clusters", chash, lineage=["edges"])
        keep = store.write(keep, "keepers", chash, lineage=["clusters"])
    return PipelineResult(docs, edges, clusters, keep, rounds, {})


def dedup_texts(
    spark: SparkSession,
    pages: DataFrame,
    method: str = "ours_lsh",
    cfg: Optional[PipelineConfig] = None,
    store=None,
) -> PipelineResult:
    """Run the reference method by name over a pages/docs DataFrame."""
    cfg = cfg or PipelineConfig()
    # None/empty → the signature default (ours_lsh), not a divergent one
    method = (method or "ours_lsh").lower()
    cc_thresh = cfg.spark.cc_broadcast_threshold

    if method == "md5":
        # reference md5 hashes the NORMALIZED text (pipeline_api.py:350)
        docs = prepare_docs(pages).persist()
        from deduplication_framework_spark.functions.text import normalize_col

        norm_docs = docs.withColumn("text", normalize_col(F.col("text"), cfg.embedding))
        uniq, edges = exact_dedup(norm_docs, hash_fn="md5")
        clusters, rounds = clusters_from_edges(
            docs, edges.select("src", "dst"), driver_threshold=cc_thresh
        )
        keep = keepers_op(docs, clusters)
        return _finalize(docs, edges, clusters, keep, rounds, cfg, method, store)

    if method == "simhash":
        return run_pipeline(spark, pages, cfg, detectors=["simhash"], store=store)

    if method in ("minhash_lsh", "ours_lsh"):
        include_words = method == "ours_lsh"
        if include_words:
            return run_pipeline(
                spark, pages, cfg, detectors=["exact", "minhash"],
                verify=False, store=store,
            )
        # char-grams-only variant assembled here (the pipeline default is
        # ours_lsh); shares every operator
        docs = prepare_docs(pages).persist()
        b, r = K.optimal_band_param(cfg.dedup.threshold, cfg.dedup.num_perm)
        sigs = docs.select(
            "doc_id", _sha1_sig(cfg, "text", include_words=False).alias("sig")
        )
        bands = minhash_bands(sigs, b, r)
        pairs, _ = candidate_pairs(bands, bucket_cap=cfg.spark.bucket_cap)
        edges = pairs.withColumn("sim", F.lit(None).cast("double"))
        clusters, rounds = clusters_from_edges(
            docs, edges.select("src", "dst"), driver_threshold=cc_thresh
        )
        keep = keepers_op(docs, clusters)
        return _finalize(docs, edges, clusters, keep, rounds, cfg, method, store)

    if method == "jaccard":
        docs = prepare_docs(pages).persist()
        n_docs = docs.count()
        if n_docs > cfg.dedup.max_candidates:
            # reference fallback: rolling-window quick dedup
            from deduplication_framework_spark.operators.windowed import (
                windowed_jaccard_dedup,
            )

            assigns = windowed_jaccard_dedup(
                docs,
                threshold=cfg.dedup.threshold,
                window_size=cfg.dedup.window_size,
                emb=cfg.embedding,
            )
            edges = assigns.filter(F.col("doc_id") != F.col("keeper_id")).select(
                F.col("keeper_id").alias("src"),
                F.col("doc_id").alias("dst"),
                F.lit(None).cast("double").alias("sim"),
            )
            clusters, rounds = clusters_from_edges(
                docs, edges.select("src", "dst"), driver_threshold=cc_thresh
            )
            keep = keepers_op(docs, clusters)
            return _finalize(
                docs, edges, clusters, keep, rounds, cfg, method, store
            )

        # exact path: MinHash candidate gen (recall-complete at theta via the
        # S-curve) + FULL multi-granularity-shingle Jaccard verification —
        # the J2 greedy decomposed (SURVEY.md §2.3)
        sh = make_shingles_udf(cfg.embedding)
        shingles = docs.select("doc_id", sh("text").alias("shingles")).persist()
        sigs = docs.select("doc_id", _sha1_sig(cfg, "text").alias("sig"))
        b, r = K.optimal_band_param(cfg.dedup.threshold, cfg.dedup.num_perm)
        bands = minhash_bands(sigs, b, r)
        pairs, _ = candidate_pairs(bands, bucket_cap=cfg.spark.bucket_cap)
        edges = verify_jaccard(pairs, shingles, cfg.dedup.threshold)
        clusters, rounds = clusters_from_edges(
            docs, edges.select("src", "dst"), driver_threshold=cc_thresh
        )
        keep = keepers_op(docs, clusters)
        return _finalize(docs, edges, clusters, keep, rounds, cfg, method, store)

    raise ValueError(f"Unknown text deduplication method: {method}")
