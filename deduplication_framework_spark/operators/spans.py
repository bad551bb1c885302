"""Exact span-level deduplication (keep the global first occurrence).

Beyond-reference addition from the public training-data playbook: the
reference deduplicates whole documents (``text/method/pipeline_api.py``);
large-scale corpora also drop *repeated spans* — paragraphs, lines, or
fixed word-chunks — keeping only the first occurrence corpus-wide
(Dolma's paragraph dedup, CCNet's line-hash dedup). A boilerplate span
shared by a million pages survives in exactly one of them.

Spark form, scale posture:

* spans carry an ``md5(span)`` 128-bit key so the keep-first shuffle moves
  16-byte keys plus the span text once, and groups only ever contain true
  duplicates (collision budget 2^-128 per pair, the same budget accepted
  by ``operators/exact.py``);
* keep-first is one ``min(struct(order, pos, ...))`` aggregation per hash
  group — one shuffle with map-side combine, no self-join, no window
  straggler on hot spans;
* reassembly is one ``groupBy(doc)`` with an ``array_sort(collect_list)``
  — doc-keyed, so both shuffles partition cleanly at any corpus size.
  A document whose every span was seen earlier re-emits as empty text
  (callers filter on ``n_kept`` if they want to drop it).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.functions import pandas_udf


def explode_spans(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """(id, pos, span) — split ``text_col`` on the ``sep`` regex, drop
    spans that are empty after trimming (separator runs / blank lines),
    keep 0-based original positions so reassembly preserves order."""
    exploded = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "span"),
    )
    return exploded.filter(F.trim(F.col("span")) != "")


def dedup_spans_df(
    spans: DataFrame,
    *,
    id_col: str = "doc_id",
    order_col: str | None = None,
) -> DataFrame:
    """Keep-first over pre-exploded spans (id, pos, span): the single
    surviving row per distinct span text is the one with the smallest
    (order, pos) corpus-wide; every later copy — including repeats inside
    the same document — is dropped.

    Implemented as ``groupBy(hash).agg(min(struct(order, pos, ...)))``
    rather than a row_number window: min-of-struct gets map-side partial
    aggregation, so a boilerplate span repeated a million times collapses
    to one row per map partition BEFORE the shuffle — a window would ship
    every copy to a single straggler task."""
    order_col = order_col or id_col
    rest = [c for c in spans.columns if c not in (order_col, "pos")]
    first = (
        spans.groupBy(F.md5(F.col("span")).alias("_h"))
        .agg(
            F.min(
                F.struct(F.col(order_col), F.col("pos"), *rest)
            ).alias("_w")
        )
        .select("_w.*")
    )
    return first.select(*spans.columns)


def dedup_spans(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    join_sep: str = "\n",
) -> DataFrame:
    """Document-level result: (id, n_spans, n_kept, text_dedup).

    ``n_spans`` counts the doc's non-empty spans, ``n_kept`` how many
    survived keep-first, ``text_dedup`` the survivors re-joined with
    ``join_sep`` in original order ('' when nothing survived — the
    whole document was boilerplate already seen earlier).
    """
    spans = explode_spans(docs, id_col=id_col, text_col=text_col, sep=sep)
    return assemble_dedup(
        docs.select(id_col), spans, id_col=id_col, join_sep=join_sep
    )


def assemble_dedup(
    doc_ids: DataFrame,
    spans: DataFrame,
    *,
    id_col: str = "doc_id",
    order_col: str | None = None,
    join_sep: str = "\n",
) -> DataFrame:
    """Keep-first + reassembly over pre-exploded spans (id, pos, span);
    callers that chunk differently (fixed word windows, sentences) reuse
    the shared shuffle plan. ``doc_ids`` carries every document that must
    appear in the output, including those whose spans all deduped away."""
    kept = dedup_spans_df(spans, id_col=id_col, order_col=order_col)
    return reassemble_spans(
        doc_ids, spans, kept, id_col=id_col, join_sep=join_sep
    )


def reassemble_spans(
    doc_ids: DataFrame,
    spans: DataFrame,
    kept: DataFrame,
    *,
    id_col: str = "doc_id",
    join_sep: str = "\n",
) -> DataFrame:
    """(all spans, surviving spans) → per-doc (id, n_spans, n_kept,
    text_dedup) with survivors re-joined in original position order —
    the reassembly half of ``assemble_dedup``, reusable by any keep
    policy (exact keep-first, near-dup cluster keep-first, ...)."""
    per_doc_total = spans.groupBy(id_col).agg(F.count("*").alias("n_spans"))
    per_doc_kept = kept.groupBy(id_col).agg(
        F.count("*").alias("n_kept"),
        F.concat_ws(
            join_sep,
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "span"))),
                lambda s: s["span"],
            ),
        ).alias("text_dedup"),
    )
    return (
        doc_ids
        .join(per_doc_total, id_col, "left")
        .join(per_doc_kept, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
        )
    )


def near_dedup_spans(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    join_sep: str = "\n",
    order_col: str | None = None,
    cfg=None,
) -> tuple[DataFrame, dict]:
    """Fuzzy span-level dedup: keep the global FIRST occurrence of each
    NEAR-duplicate span cluster (Jaccard >= cfg.dedup.threshold), drop
    every other member — the near-dup generalization of ``dedup_spans``
    (SlimPajama/Dolma-style paragraph dedup where lightly-edited
    boilerplate must still collapse).

    Reuses the document pipeline's detector machinery at span
    granularity, with the exact pass as a rep-collapse prefix (the same
    structural win as suffix_array's collapse_exact):

    1. exact keep-first (``dedup_spans_df``) collapses byte-identical
       spans to their earliest occurrence — a million-copy boilerplate
       span enters MinHash ONCE;
    2. reps get a 64-bit identity ``xxhash64(span)`` (distinct texts by
       construction; a collision would weld two clusters at ~2^-64 per
       rep pair — the budget already accepted by ``operators/exact.py``);
    3. datasketch-spec MinHash signatures (``minhash_features``, sha1)
       → the pipeline's one MinHash edge chain ``lsh.minhash_edges``
       (bands → ``candidate_pairs`` with salted/capped hot buckets →
       ``verify_jaccard`` over the reps' full multi-granularity shingles)
       → ``clusters_from_edges`` (the driver union-find when the edges
       fit ``cc_broadcast_threshold``);
    4. per cluster, the surviving span is the rep with the smallest
       (order, pos) — min-of-struct, map-side combinable;
    5. reassembly via the shared ``reassemble_spans`` shuffle plan.

    Returns (per-doc frame like ``dedup_spans``, info dict with
    ``cc_rounds`` and the LSH ``bucket_stats`` frame). Holds the rep frame
    as an ``lsh._cut`` — call ``lsh.release_census_caches()`` (or run
    inside the pipeline) to free it once the output has materialized.
    """
    from dataclasses import replace

    from ..config import PipelineConfig
    from ..functions.text import make_shingles_udf, minhash_features
    from .cluster import clusters_from_edges
    from .lsh import _cut, minhash_edges

    cfg = cfg or PipelineConfig()
    order_col = order_col or id_col

    spans = explode_spans(docs, id_col=id_col, text_col=text_col, sep=sep)
    if order_col != id_col:
        # explode_spans emits only (id, pos, span); re-attach the explicit
        # order column so keep-first ranks by it
        spans = spans.join(docs.select(id_col, order_col), id_col)
    # one materialization before the fan-out
    reps, n = _cut(
        dedup_spans_df(spans, id_col=id_col, order_col=order_col)
        .withColumn("_rid", F.xxhash64("span")),
        n=F.count("*"),
    )
    n_reps = n["n"]

    # sha1 signatures whatever cfg.dedup.hash_family says
    sigs = minhash_features(
        reps, cfg.embedding, replace(cfg.dedup, hash_family="sha1"),
        id_col="_rid", text_col="span", with_shingles=False,
    )
    shingle_udf = make_shingles_udf(cfg.embedding)
    feats = reps.select("_rid", shingle_udf(F.col("span")).alias("shingles"))
    edges, bucket_stats = minhash_edges(sigs, feats, cfg, id_col="_rid")
    labels, cc_rounds = clusters_from_edges(
        reps, edges, id_col="_rid",
        driver_threshold=cfg.spark.cc_broadcast_threshold,
    )

    keepers = (
        reps.join(labels.withColumnRenamed("doc_id", "_rid"), "_rid")
        .groupBy("cluster_id")
        .agg(F.min(F.struct(order_col, "pos", "_rid")).alias("_w"))
        .select(F.col("_w._rid").alias("_rid"))
    )
    kept = reps.join(keepers, "_rid", "left_semi").drop("_rid")
    out = reassemble_spans(
        docs.select(id_col), spans, kept, id_col=id_col, join_sep=join_sep
    )
    return out, {
        "cc_rounds": cc_rounds,
        "n_exact_reps": n_reps,
        "bucket_stats": bucket_stats,
    }


def remove_frequent_spans(
    docs: DataFrame,
    *,
    max_count: int = 2,
    count: str = "occurrences",
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    join_sep: str = "\n",
    hot_broadcast_threshold: int = 2_000_000,
) -> tuple:
    """Boilerplate removal by corpus frequency: drop EVERY occurrence of
    any span whose corpus frequency exceeds ``max_count``, keep the rest
    (C4's 'discard any three-sentence span occurring more than once'
    rule, and the RefinedWeb/CCNet hot-line filter, at span granularity).
    Unlike :func:`dedup_spans` (keep the FIRST copy), a hot span here
    survives NOWHERE — nav bars and cookie banners vanish, they don't
    get one lucky host document.

    ``count="occurrences"`` (default) thresholds on total occurrence
    count: the frequency aggregation gets full map-side combine — a span
    repeated a million times collapses to one row per map partition
    before the shuffle. ``count="docs"`` thresholds on DISTINCT document
    count (repeats inside one doc count once): the distinct forces one
    (span, doc) row per pair through the shuffle — semantically stricter,
    structurally heavier; prefer occurrences at scale unless within-doc
    repetition would mis-trip the threshold.

    The hot-span set (md5 keys, one row per hot span) is persisted,
    eagerly counted, and broadcast for a map-side anti join under
    ``hot_broadcast_threshold`` (boilerplate sets are tiny relative to
    the corpus); above it the anti join shuffles. Tracked cache —
    released by ``lsh.release_census_caches()``.

    Returns ``(df, stats)``: one row per input doc
    ``(id_col, n_spans, n_kept, text_dedup)`` and
    ``stats = {n_hot_spans, hot_join_path}``.
    """
    from deduplication_framework_spark.operators.lsh import _persist_tracked

    if count not in ("occurrences", "docs"):
        raise ValueError(
            f"count must be 'occurrences' or 'docs', got {count!r}"
        )
    if max_count < 1:
        raise ValueError(f"max_count must be >= 1, got {max_count}")

    spans = explode_spans(docs, id_col=id_col, text_col=text_col, sep=sep)
    # the exploded frame feeds three consumers (hot census, kept anti
    # join, reassembly's per-doc totals) — persist it so the corpus-wide
    # split/explode runs ONCE; the hot census below is the eager action
    # that fills the cache before the consumers fan out. Tracked cache —
    # released by lsh.release_census_caches().
    keyed = _persist_tracked(
        spans.select(F.col(id_col), "pos", "span", F.md5("span").alias("_h"))
    )
    freq_agg = (
        F.count("*") if count == "occurrences"
        else F.countDistinct(id_col)
    )
    hot = _persist_tracked(
        keyed.groupBy("_h")
        .agg(freq_agg.alias("_n"))
        .filter(F.col("_n") > max_count)
        .select("_h")
    )
    n_hot = hot.count()
    hot_join_path = (
        "broadcast" if n_hot <= hot_broadcast_threshold else "shuffle"
    )
    hot_side = F.broadcast(hot) if hot_join_path == "broadcast" else hot
    kept = keyed.join(hot_side, "_h", "left_anti").select(
        id_col, "pos", "span"
    )
    out = reassemble_spans(
        docs.select(id_col),
        keyed.select(id_col, "pos", "span"),  # cached — not a re-explode
        kept,
        id_col=id_col,
        join_sep=join_sep,
    )
    return out, {"n_hot_spans": n_hot, "hot_join_path": hot_join_path}


def _positions_hashes128_udf(min_len: int):
    """text → struct(h1, h2): the 128-bit double-Karp-Rabin key of the
    length-``min_len`` gram at EVERY position (aligned with 0-based char
    offset — no per-doc dedup, unlike kernels.lgram_hashes128: removal
    needs every occurrence's position, including within-doc repeats)."""
    from deduplication_framework_spark.functions import kernels as K

    @pandas_udf(
        T.StructType(
            [
                T.StructField("h1", T.ArrayType(T.LongType())),
                T.StructField("h2", T.ArrayType(T.LongType())),
            ]
        )
    )
    def pos_keys(texts: pd.Series) -> pd.DataFrame:
        c1, c2 = [], []
        for t in texts:
            h1 = K.rolling_kgram_hashes(t or "", min_len)
            h2 = K.rolling_kgram_hashes(
                t or "", min_len, K._KR_BASE2, K._KR_BASE2_INV
            )
            c1.append(np.ascontiguousarray(h1).view(np.int64))
            c2.append(np.ascontiguousarray(h2).view(np.int64))
        return pd.DataFrame({"h1": c1, "h2": c2})

    return pos_keys


def remove_repeated_substrings(
    docs: DataFrame,
    *,
    min_len: int = 50,
    min_count: int = 2,
    key_mode: str = "hash",
    id_col: str = "doc_id",
    text_col: str = "text",
    hot_broadcast_threshold: int = 2_000_000,
) -> tuple:
    """ExactSubstr corpus-level repeated-substring removal (Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better"):
    delete every character that lies inside some substring of length
    >= ``min_len`` occurring >= ``min_count`` times anywhere in the corpus
    (across OR within documents — every copy goes; run exact doc-dedup
    first or identical documents erase each other). Unlike
    :func:`dedup_spans` / :func:`remove_frequent_spans`, the spans are
    UNALIGNED: a quote starting mid-sentence in one doc and mid-paragraph
    in another is still caught.

    Reduction (exact, standard): a char is part of a repeated substring of
    length >= L iff it is covered by some length-L window whose gram
    occurs >= min_count times — so mark every position whose L-gram is
    corpus-hot, union the [pos, pos+L) intervals per doc, cut.

    Scale posture: one row per CHARACTER POSITION (the suffix-array cost
    class, same as operators/suffix_array.py). ``key_mode="hash"``
    (default) ships 16-byte double-Karp-Rabin keys through the census
    shuffle (collision budget 2^-93 at 10^14 positions — the
    kernels.lgram_hashes128 bound); ``key_mode="raw"`` ships the L-char
    gram itself, JVM-only — the spec mode the DuckDB oracle mirrors,
    parity pinned in tests/test_spans.py. The census gets full map-side
    combine (count per key); the hot keyset (>= min_count) is persisted,
    eagerly counted, and broadcast into the position join under
    ``hot_broadcast_threshold``, else shuffle-joined. Interval union +
    text cut is a bounded per-doc Arrow pass over the (sparse) covered
    positions. ASCII/BMP corpora only in mixed-mode use: Python slicing
    counts code points, matching Spark/DuckDB substring on BMP text.

    Returns ``(df, stats)``: one row per input doc
    ``(id_col, n_chars, n_removed_chars, n_spans_removed, text_clean)``
    and ``stats = {n_hot_grams, hot_join_path}``.
    """
    from deduplication_framework_spark.operators.lsh import _persist_tracked

    if key_mode not in ("hash", "raw"):
        raise ValueError(f"key_mode must be 'hash' or 'raw', got {key_mode!r}")
    if min_len < 2:
        raise ValueError(f"min_len must be >= 2, got {min_len}")
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")

    base = docs.select(
        F.col(id_col), F.coalesce(F.col(text_col), F.lit("")).alias("_t")
    )
    if key_mode == "raw":
        grams = base.select(
            id_col,
            F.posexplode(
                F.expr(
                    f"CASE WHEN length(_t) >= {min_len} THEN "
                    f"transform(sequence(1, length(_t) - {min_len} + 1),"
                    f" i -> substring(_t, i, {min_len})) "
                    "ELSE array() END"
                )
            ).alias("pos", "_k1"),
        ).withColumn("_k2", F.lit(0))
    else:
        udf = _positions_hashes128_udf(min_len)
        z = base.select(id_col, "_t", udf("_t").alias("_g"))
        grams = z.select(
            id_col,
            F.posexplode(F.arrays_zip("_g.h1", "_g.h2")).alias("pos", "_p"),
        ).select(
            id_col,
            "pos",
            F.col("_p.h1").alias("_k1"),
            F.col("_p.h2").alias("_k2"),
        )
    keyed = _persist_tracked(grams)
    hot = _persist_tracked(
        keyed.groupBy("_k1", "_k2")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") >= min_count)
        .select("_k1", "_k2")
    )
    n_hot = hot.count()  # eager: fills both caches before the fan-out
    # the threshold is calibrated for 16-byte hash keys; raw-mode keys are
    # min_len-char strings, so scale the row budget to the same byte budget
    eff_threshold = (
        hot_broadcast_threshold
        if key_mode == "hash"
        else max(1, hot_broadcast_threshold * 16 // max(16, min_len))
    )
    hot_join_path = "broadcast" if n_hot <= eff_threshold else "shuffle"
    hot_side = F.broadcast(hot) if hot_join_path == "broadcast" else hot
    covered = keyed.join(hot_side, ["_k1", "_k2"], "inner").select(
        id_col, "pos"
    )
    cov_by_doc = covered.groupBy(id_col).agg(
        F.sort_array(F.collect_list("pos")).alias("_cov")
    )

    @pandas_udf(
        T.StructType(
            [
                T.StructField("n_chars", T.LongType()),
                T.StructField("n_removed_chars", T.LongType()),
                T.StructField("n_spans_removed", T.LongType()),
                T.StructField("text_clean", T.StringType()),
            ]
        )
    )
    def cut(texts: pd.Series, covs: pd.Series) -> pd.DataFrame:
        rows = []
        for t, cov in zip(texts, covs):
            t = t or ""
            if cov is None or len(cov) == 0:
                rows.append((len(t), 0, 0, t))
                continue
            spans = []  # merged [a, b) 0-based, cov is sorted
            for p in cov:
                p = int(p)
                if spans and p <= spans[-1][1]:
                    spans[-1][1] = max(spans[-1][1], p + min_len)
                else:
                    spans.append([p, p + min_len])
            kept, last = [], 0
            removed = 0
            for a, b in spans:
                kept.append(t[last:a])
                removed += b - a
                last = b
            kept.append(t[last:])
            rows.append((len(t), removed, len(spans), "".join(kept)))
        return pd.DataFrame(
            rows,
            columns=[
                "n_chars",
                "n_removed_chars",
                "n_spans_removed",
                "text_clean",
            ],
        )

    out = (
        base.join(cov_by_doc, id_col, "left")
        .withColumn("_s", cut(F.col("_t"), F.col("_cov")))
        .select(
            id_col,
            F.col("_s.n_chars").alias("n_chars"),
            F.col("_s.n_removed_chars").alias("n_removed_chars"),
            F.col("_s.n_spans_removed").alias("n_spans_removed"),
            F.col("_s.text_clean").alias("text_clean"),
        )
    )
    return out, {"n_hot_grams": n_hot, "hot_join_path": hot_join_path}
