"""Text feature columns: pure-SQL normalization + the two Arrow UDFs.

Design rule (SURVEY.md §2.9 / BASELINE.json input_hint): no per-row Python
UDFs — everything Python is a pandas (Arrow-batched) UDF, and anything
expressible as builtin column functions stays JVM-side.

Two Arrow UDFs exist: ``make_shingles_udf`` (the multi-granularity 64-bit
shingle set that exact-Jaccard verification uses) and
``make_fused_features_udf``, the only featurization path for MinHash
signatures, LSH verification features, SimHash fingerprints and winnowing
fingerprints; ``minhash_features`` is the one MinHash featurizer every
caller uses (the fused UDF, or the JVM family). Both UDFs delegate
per-document math to
:mod:`deduplication_framework_spark.functions.kernels` — the spec, pinned
to datasketch / simhash-lib by tests/test_kernels.py and shared with the
NumPy oracle — so Spark-vs-oracle tests isolate the *distributed*
machinery (banding, pair-gen, CC) rather than re-testing hashing.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.functions import pandas_udf

from deduplication_framework_spark.config import (
    TextDedupConfig,
    TextEmbeddingConfig,
)
from deduplication_framework_spark.functions import kernels as K

# ---------------------------------------------------------------------------
# normalization — reference pipeline_api.py:218-226, as JVM column expressions
# ---------------------------------------------------------------------------

# (?U) = Java UNICODE_CHARACTER_CLASS so \w/\s match Python's re semantics.
_JAVA_NON_ALNUM = r"(?U)[^\w\s一-鿿]"
_JAVA_WS = r"(?U)\s+"


def normalize_col(col: Column, cfg: Optional[TextEmbeddingConfig] = None) -> Column:
    """lower → strip non-[\\w\\s一-鿿] → collapse whitespace → trim, entirely
    JVM-side (whole-stage codegen; no Python in the hot path)."""
    cfg = cfg or TextEmbeddingConfig()
    out = col
    if cfg.lowercase:
        out = F.lower(out)
    if cfg.strip_non_alnum:
        repl = " " if cfg.strip_mode == "space" else ""
        out = F.regexp_replace(out, _JAVA_NON_ALNUM, repl)
    if cfg.collapse_whitespace:
        out = F.regexp_replace(out, _JAVA_WS, " ")
    # Python str.strip() (the kernel) strips ALL whitespace; F.trim only
    # ASCII spaces — regex-trim keeps parity when collapse_whitespace=False.
    # \x1c-\x1f added explicitly: Java's Unicode \s (White_Space property)
    # excludes the FS/GS/RS/US separators that Python's isspace() includes
    return F.regexp_replace(out, r"(?U)^[\s\x1c-\x1f]+|[\s\x1c-\x1f]+$", "")


def _u64_to_i64(arr: np.ndarray) -> np.ndarray:
    return arr.astype(np.uint64).view(np.int64)


# ---------------------------------------------------------------------------
# normalize + multi-granularity shingles → array<long>
# ---------------------------------------------------------------------------


def make_shingles_udf(cfg: TextEmbeddingConfig):
    """text → sorted distinct 64-bit hashed shingles (char n-grams ∪ word
    n-grams of the normalized text — reference pipeline_api.py:229-242).

    Hashing shingles to int64 keeps the feature sets compact through the
    shuffle and lets Jaccard verification run JVM-side via
    array_intersect/array_union.
    """
    n = max(1, cfg.ngram_size)
    lc, strip, collapse, mode = (
        cfg.lowercase,
        cfg.strip_non_alnum,
        cfg.collapse_whitespace,
        cfg.strip_mode,
    )

    @pandas_udf(T.ArrayType(T.LongType()))
    def shingles(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:
                out.append([])
                continue
            norm = K.normalize_text(t, lc, strip, collapse, mode)
            grams = K.multigranularity_ngrams(norm, n)
            if grams:
                hashed = np.unique(K.hash_features_u64(grams))
                out.append(_u64_to_i64(hashed).tolist())
            else:
                out.append([])
        return pd.Series(out)

    return shingles


# ---------------------------------------------------------------------------
# fused per-doc featurization — ONE Arrow pass for every detector
# ---------------------------------------------------------------------------


def make_fused_features_udf(
    emb: TextEmbeddingConfig,
    ded: TextDedupConfig,
    *,
    with_minhash: bool = False,
    with_lsh_feats: bool = False,
    with_simhash: bool = False,
    with_winnow: bool = False,
    kgram: int = 0,
    window: int = 0,
    include_words: bool = True,
):
    """text → struct of every enabled detector's per-doc features in ONE
    Arrow pass over the corpus.

    Normalization runs once per doc whatever the enabled families, and
    the MinHash 32-bit feature hash and the 64-bit shingle id are sliced
    from the SAME sha1 digest (datasketch's low-4-bytes vs our low-8-bytes —
    one digest per distinct feature instead of two). A per-batch digest cache
    dedups repeated features across docs. Fields (sha1 family):

    * ``sig`` — ``kernels.minhash_signature`` over (first max_words word
      tokens if ``include_words``) + (first max_char_grams space-stripped
      char n-grams) of the normalized text: reference 'ours_lsh' with
      words, 'minhash_lsh' without; values < 2^32 fit LongType exactly;
    * ``shingles`` — the same features as a uint32-unique
      ``kernels.hash_features_u64`` set (signed int32 bit patterns): the
      true Jaccard *of the LSH features*, at half the shuffle bytes of
      64-bit ids (<=400 features/doc → ~4e-5 collision odds, far below
      the 1/400 Jaccard granularity);
    * ``simhash`` — ``kernels.simhash64`` of the normalized text, stored
      as a signed long bit pattern;
    * ``winnow`` — distinct ``kernels.winnow_fingerprints`` of the RAW
      text (exact-substring semantics, no normalization).

    Values are bit-identical to those kernels (pinned by
    tests/test_fused_features.py). Callers that must stay on sha1 whatever
    ``ded.hash_family`` says pass a ``hash_family="sha1"`` copy of ``ded``.
    """
    n = max(1, emb.ngram_size)
    lc, strip, collapse, mode = (
        emb.lowercase,
        emb.strip_non_alnum,
        emb.collapse_whitespace,
        emb.strip_mode,
    )
    num_perm, max_words, max_grams = ded.num_perm, ded.max_words, ded.max_char_grams
    hash_family = ded.hash_family
    need_hash_family = with_minhash or with_lsh_feats
    if need_hash_family and hash_family not in ("sha1", "kr32", "oph"):
        # "jvm" never reaches the Arrow path: minhash_features routes it
        # to functions/jvm_minhash.jvm_minhash_features (per-row JVM
        # exprs) and the pipeline only asks this UDF for the non-minhash
        # detector features
        raise ValueError(
            f"hash_family {hash_family!r} has no Arrow featurization path"
            " (valid here: sha1, kr32, oph; jvm is handled by"
            " functions/jvm_minhash.jvm_minhash_features)"
        )
    perms = (
        K.minhash_permutations(num_perm)
        if with_minhash and hash_family != "oph"
        else None
    )
    if hash_family == "oph":
        from deduplication_framework_spark.functions.oph import (
            oph_from_hashvalues,
        )
    need_feats = with_minhash or with_lsh_feats
    need_norm = need_feats or with_simhash

    fields = []
    if with_minhash:
        fields.append(T.StructField("sig", T.ArrayType(T.LongType())))
    if with_lsh_feats:
        fields.append(T.StructField("shingles", T.ArrayType(T.IntegerType())))
    if with_simhash:
        fields.append(T.StructField("simhash", T.LongType()))
    if with_winnow:
        fields.append(T.StructField("winnow", T.ArrayType(T.LongType())))
    if not fields:
        raise ValueError("make_fused_features_udf: no feature family enabled")
    if with_winnow and (kgram <= 0 or window <= 0):
        raise ValueError(
            "make_fused_features_udf: with_winnow requires kgram > 0 and "
            f"window > 0 (got kgram={kgram}, window={window})"
        )
    out_type = T.StructType(fields)
    names = [f.name for f in fields]

    @pandas_udf(out_type)
    def fused_features(texts: pd.Series) -> pd.DataFrame:
        import hashlib
        import struct as _struct

        cols: dict = {name: [] for name in names}
        digest_cache: dict = {}
        simhash_token_cache: dict = {}

        def digest(feat: str) -> bytes:
            d = digest_cache.get(feat)
            if d is None:
                # bound the cache: a distinct-feature-heavy batch (diverse
                # multilingual word tokens) would otherwise grow it to
                # millions of entries per concurrent python worker
                if len(digest_cache) >= 1_000_000:
                    digest_cache.clear()
                d = hashlib.sha1(feat.encode("utf-8")).digest()
                digest_cache[feat] = d
            return d

        for t in texts:
            raw = t or ""
            norm = (
                K.normalize_text(raw, lc, strip, collapse, mode)
                if need_norm
                else ""
            )
            if need_feats and hash_family in ("kr32", "oph"):
                # fast families: one vectorized pass over the SAME feature
                # sets, no per-feature Python sha1 (the 100-TB path).
                # oph additionally replaces the K-permutation min matrix
                # with the one-pass densified estimator — O(F + K) sig
                # construction per doc instead of O(F·K)
                hv = K.fast_feature_hashes32(
                    norm, n, max_words, max_grams, include_words
                )
                if with_minhash:
                    if hash_family == "oph":
                        sig = oph_from_hashvalues(hv, num_perm)
                    else:
                        sig = K.minhash_from_hashvalues(hv, perms)
                    cols["sig"].append(sig.astype(np.int64).tolist())
                if with_lsh_feats:
                    cols["shingles"].append(
                        np.unique(hv.astype(np.uint32)).view(np.int32).tolist()
                    )
            elif need_feats:
                feats = []
                if include_words:
                    feats.extend(K.lsh_word_tokens(norm, max_words))
                feats.extend(K.lsh_char_grams(norm, n, max_grams))
                digs = [digest(f) for f in feats]
                if with_minhash:
                    hv = np.fromiter(
                        (_struct.unpack("<I", d[:4])[0] for d in digs),
                        dtype=np.uint64,
                        count=len(digs),
                    )
                    sig = K.minhash_from_hashvalues(hv, perms)
                    cols["sig"].append(sig.astype(np.int64).tolist())
                if with_lsh_feats:
                    if digs:
                        u64 = np.fromiter(
                            (_struct.unpack("<Q", d[:8])[0] for d in digs),
                            dtype=np.uint64,
                            count=len(digs),
                        )
                        cols["shingles"].append(
                            np.unique(u64.astype(np.uint32)).view(np.int32).tolist()
                        )
                    else:
                        cols["shingles"].append([])
            if with_simhash:
                s = K.simhash64_cached(norm, simhash_token_cache)
                cols["simhash"].append(s - (1 << 64) if s >= (1 << 63) else s)
            if with_winnow:
                if raw:
                    fps = K.winnow_fingerprints(raw, kgram, window)
                    hashed = np.unique(
                        np.array([h for h, _ in fps], dtype=np.uint64)
                    )
                    cols["winnow"].append(_u64_to_i64(hashed).tolist())
                else:
                    cols["winnow"].append([])
        return pd.DataFrame(cols, columns=names)

    return fused_features


def minhash_features(
    df: DataFrame,
    emb: TextEmbeddingConfig,
    ded: TextDedupConfig,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    with_shingles: bool = True,
    include_words: bool = True,
) -> DataFrame:
    """(id, text) → (id, sig[, shingles]): the one MinHash featurizer,
    dispatching on ``ded.hash_family``. ``jvm`` builds both columns from
    per-row JVM expressions (``functions/jvm_minhash.jvm_minhash_features``:
    no Python workers); every other family is one pass of the fused Arrow
    UDF above. ``shingles`` are the LSH features' own sorted-distinct ids,
    the input ``operators/verify.verify_jaccard`` expects; callers that
    verify on other features pass ``with_shingles=False``."""
    if ded.hash_family == "jvm":
        from deduplication_framework_spark.functions.jvm_minhash import (
            jvm_minhash_features,
        )

        feats = jvm_minhash_features(
            df,
            num_perm=ded.num_perm,
            ngram_size=emb.ngram_size,
            max_words=ded.max_words,
            max_char_grams=ded.max_char_grams,
            include_words=include_words,
            id_col=id_col,
            text_col=text_col,
            emb=emb,
        )
        return feats.select(id_col, "sig", *(["shingles"] if with_shingles else []))
    fused = make_fused_features_udf(
        emb,
        ded,
        with_minhash=True,
        with_lsh_feats=with_shingles,
        include_words=include_words,
    )
    return df.select(id_col, fused(text_col).alias("f")).select(id_col, "f.*")


# ---------------------------------------------------------------------------
# JVM-side verification expressions (no Python)
# ---------------------------------------------------------------------------


def jaccard_expr(a: Column, b: Column) -> Column:
    """|A∩B| / |A∪B| with the reference's both-empty → 1.0 rule
    (pipeline_api.py:478-485). Operates on array<long> shingle sets."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union == 0, F.lit(1.0)).otherwise(inter / union)


def word_bigram_sets(
    df,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    lowercase: bool = False,
) -> "DataFrame":
    """``(doc_id, grams)`` word-bigram shingle SETS over a text column —
    the sparse-universe featurization the prefix-filtered set-similarity
    join wants (operators/setjoin.py docstring: dense char-gram universes
    degrade toward all-pairs). One definition shared by the gate query
    (``ssjoin_dup_edges``, lowercase=False to match its DuckDB oracle)
    and the bench workload (lowercase=True), so the shingle rule cannot
    drift between the two surfaces. Docs with <2 tokens emit no row.
    Pure JVM expressions — rides the scan at scale."""
    from deduplication_framework_spark.functions.quality import _WS_JAVA

    text = F.trim(F.col(text_col))
    if lowercase:
        text = F.lower(text)
    # explicit whitespace class (not \s): Java \s includes \x0B, RE2's
    # does not — the shared twin keeps the DuckDB oracles byte-identical
    toks = F.split(text, _WS_JAVA)
    # LET-BINDING TRAP (r6): when a consumer stacks any expression over
    # ``grams`` (a filter, another array_distinct, …), Catalyst's alias
    # substitution can inline the token-array definition INTO the bigram
    # lambda — ``split(text)`` then re-evaluates PER ELEMENT and the
    # projection goes quadratic in document length (measured 0.6s → 27s
    # for the 20k-doc corpus the moment setjoin added its
    # distinct+filter on top). Binding the token array as a lambda
    # VARIABLE (transform over a 1-element array) is substitution-proof:
    # lambda variables cannot be inlined into, so the split runs once
    # per row no matter what the consumer stacks. Values are identical
    # (element_at is 1-based: element_at(ts, i)==toks[i-1]).
    grams = F.transform(
        F.array(F.col("toks")),
        lambda ts: F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(ts) - 1),
                lambda i: F.concat(
                    F.element_at(ts, i), F.lit(" "), F.element_at(ts, i + 1)
                ),
            )
        ),
    )[0]
    return (
        df.select(F.col(id_col).alias("doc_id"), toks.alias("toks"))
        .filter(F.size("toks") >= 2)
        .select("doc_id", grams.alias("grams"))
    )
