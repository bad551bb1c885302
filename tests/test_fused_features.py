"""The fused featurization UDF must be BIT-IDENTICAL to the driver-side
kernels it runs per document (minhash signature / LSH verification
shingles / simhash fingerprint / winnowing fingerprints) — every Arrow
featurization caller rides on the fused pass, and the kernels are the spec
(pinned to datasketch / simhash-lib by tests/test_kernels.py)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from deduplication_framework_spark.config import PipelineConfig
from deduplication_framework_spark.functions import kernels as K
from deduplication_framework_spark.functions.text import (
    make_fused_features_udf,
)


@pytest.mark.parametrize("include_words", [True, False])
def test_fused_matches_kernels(spark, pages, include_words):
    """include_words=False is the API's char-grams-only minhash_lsh path."""
    cfg = PipelineConfig()
    emb, ded = cfg.embedding, cfg.dedup
    kgram, window = cfg.suffix.kgram_size, cfg.suffix.winnow_window
    docs = pages.limit(120).select(
        F.col("doc_order").alias("doc_id"), "text"
    )
    fused = make_fused_features_udf(
        emb,
        ded,
        with_minhash=True,
        with_lsh_feats=True,
        with_simhash=True,
        with_winnow=True,
        kgram=kgram,
        window=window,
        include_words=include_words,
    )
    got = (
        docs.select("doc_id", "text", fused("text").alias("f"))
        .select("doc_id", "text", "f.*")
        .collect()
    )
    assert len({r.doc_id for r in got}) == 120

    n = max(1, emb.ngram_size)
    perms = K.minhash_permutations(ded.num_perm)
    for g in got:
        norm = K.normalize_text(
            g.text, emb.lowercase, emb.strip_non_alnum,
            emb.collapse_whitespace, emb.strip_mode,
        )
        feats = K.lsh_word_tokens(norm, ded.max_words) if include_words else []
        feats += K.lsh_char_grams(norm, n, ded.max_char_grams)
        sig = K.minhash_signature([f.encode("utf-8") for f in feats], perms)
        shingles = (
            np.unique(K.hash_features_u64(feats).astype(np.uint32))
            .view(np.int32)
            .tolist()
        )
        simhash = int(np.uint64(K.simhash64(norm)).view(np.int64))
        fps = K.winnow_fingerprints(g.text, kgram, window)
        winnow = (
            np.unique(np.array([h for h, _ in fps], dtype=np.uint64))
            .view(np.int64)
            .tolist()
        )
        assert g.sig == sig.astype(np.int64).tolist(), (
            f"minhash sig diverged for doc {g.doc_id}"
        )
        assert g.shingles == shingles, f"shingles diverged for doc {g.doc_id}"
        assert g.simhash == simhash, f"simhash diverged for doc {g.doc_id}"
        assert g.winnow == winnow, f"winnow diverged for doc {g.doc_id}"


def test_fused_partial_field_selection(spark, pages):
    """Field gating: only the requested feature families appear."""
    cfg = PipelineConfig()
    docs = pages.limit(5).select(F.col("doc_order").alias("doc_id"), "text")
    fused = make_fused_features_udf(
        cfg.embedding, cfg.dedup, with_simhash=True
    )
    out = docs.select(fused("text").alias("f")).select("f.*")
    assert out.columns == ["simhash"]
    assert out.count() == 5


def test_jvm_family_rejected_by_arrow_path_but_ok_simhash_only():
    """hash_family="jvm" has no Arrow featurization (the pipeline routes
    it to functions/jvm_minhash.jvm_minhash_features); asking this UDF
    for minhash/lsh features under it must fail loudly, while a
    simhash-only request (the mixed-detector case) must succeed."""
    cfg = PipelineConfig()
    cfg.dedup.hash_family = "jvm"
    with pytest.raises(ValueError, match="jvm"):
        make_fused_features_udf(
            cfg.embedding, cfg.dedup, with_minhash=True
        )
    make_fused_features_udf(
        cfg.embedding, cfg.dedup, with_minhash=False, with_simhash=True
    )
