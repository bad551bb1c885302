"""Corpus n-gram LM scoring + perplexity bucketing — the CCNet stage.

CCNet (Wenzek et al. 2020, "CCNet: Extracting High Quality Monolingual
Datasets from Web Crawl Data") scores each document with a language-model
perplexity and splits the corpus into head / middle / tail tertiles; the
head bucket feeds LLaMA-style pretraining mixes. This module rebuilds
that stage Spark-first with a corpus-trained add-one-smoothed bigram LM
(CCNet uses a pretrained external KenLM; training on the corpus itself
keeps the build self-contained — the bucketing semantics are identical,
and an external count table can be dropped in as the ``uni``/``bi``
frames).

Model (k = 1 add-one smoothing, all integers):

* unigram counts ``c(w)`` over lowercased explicit-whitespace tokens,
  ``T`` total tokens, ``V`` vocabulary size;
* first token of a doc scores ``ln((c(w)+1) / (T+V))``, every following
  token scores ``ln((c(w1,w2)+1) / (c(w1)+V))``;
* every log argument is an INTEGER, and each ``ln`` is converted to
  exact micro-units — ``CAST(round(ln(m) * 1e6) AS BIGINT)`` — before
  summation, so a document's score is a BIGINT sum of values from a
  small finite set: order-independent, engine-exact (the DuckDB oracle
  reproduces it bit for bit; cross-engine libm drift on ``ln`` is
  ~4e-9 micro-units vs the rounding boundary — margins pinned per SF in
  tests/test_lm.py).

Scale posture (100 TB):

* counts are two map-side-combinable groupBys (same shuffle class as
  LSH banding); scoring is equi-joins on token / bigram keys — AQE
  handles hot-key skew, and the model frames can be broadcast when an
  external (small) LM is supplied;
* the input projection is held once as a lineage cut (``lsh._cut``:
  the count jobs are concurrent consumers — CLAUDE.md pitfall), and so
  is the unigram table, whose totals are observed while it is cut;
* bucketing defaults to ``approx=True``: two approximate-percentile
  cutoffs observed while the scored frame is cut, then a map-side CASE
  — no global sort, same head/middle/tail semantics up to quantile-sketch
  error at the cut lines (CCNet itself buckets by precomputed cutoffs).
  ``approx=False`` is the exact-ntile spec path — a GLOBAL
  single-partition sort — reserved for the driver-gate oracle query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from deduplication_framework_spark.functions.quality import (
    _WS_DUCK,
    _WS_SPARK,
)
from deduplication_framework_spark.session import local_frame

__all__ = ["lm_score_docs", "bucket_lm_scores", "lm_oracle_sql"]

_MICRO = "1e6"  # micro-unit scale shared by Spark and the DuckDB oracle


def _micro_ln(arg_sql: str) -> str:
    return f"CAST(round(ln({arg_sql}) * {_MICRO}) AS BIGINT)"


def lm_score_docs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    key_mode: str = "hash64",
) -> DataFrame:
    """``(doc_id, n_tokens, logp_micro)`` — add-one bigram LM log-prob in
    exact micro-units, model trained on ``docs`` itself (closed-corpus
    self-scoring: every scored bigram exists in the counts, so no
    unseen-key path is needed). Empty/whitespace-only docs emit no row.

    ``key_mode="hash64"`` (default) replaces every token with its
    ``xxhash64`` BEFORE the count/join spine — long keys instead of
    strings through two corpus-scale shuffles, measured ~1.8x on the
    join spine at 200k docs. Counts (and therefore scores) are
    IDENTICAL to ``key_mode="raw"`` unless two distinct vocabulary
    words collide in 64 bits (birthday ~V^2/2^65: ~1e-10 at V=10^5,
    ~3e-2 at V=10^9 — and a collision merges two words' counts, a
    micro-unit perturbation of the affected docs, not a failure).
    ``"raw"`` is the spec mode the DuckDB oracle mirrors; cross-mode
    parity is pinned in tests/test_lm.py."""
    from deduplication_framework_spark.operators.lsh import _cut

    if key_mode not in ("hash64", "raw"):
        raise ValueError(f"key_mode must be hash64|raw, got {key_mode!r}")
    keyed = (
        "transform(t0, w -> xxhash64(w)) AS t"
        if key_mode == "hash64"
        else "t0 AS t"
    )
    # uni/bi counts + scoring scans are concurrent consumers: cut once
    base, _ = _cut(
        docs.filter(F.expr(f"length(trim({text_col})) > 0"))
        .select(
            F.col(id_col).alias("doc_id"),
            F.expr(f"split(lower(trim({text_col})), '{_WS_SPARK}')").alias(
                "t0"
            ),
        )
        .selectExpr("doc_id", keyed)
    )

    uni, tot = _cut(
        base.select(F.explode("t").alias("w")).groupBy("w").agg(
            F.count("*").alias("c")
        ),
        tt=F.sum("c"),
        vv=F.count("*"),
    )
    if tot["tt"] is None:  # zero non-empty docs: empty frame, stable schema
        return local_frame(
            base.sparkSession, "doc_id long, logp_micro long, n_tokens long"
        )
    tt, vv = int(tot["tt"]), int(tot["vv"])

    kt = "BIGINT" if key_mode == "hash64" else "STRING"
    pairs = base.select(
        "doc_id",
        F.explode(
            F.expr(
                "IF(size(t) < 2,"
                f" CAST(array() AS ARRAY<STRUCT<w1: {kt}, w2: {kt}>>),"
                " transform(sequence(0, size(t) - 2),"
                " i -> struct(t[i] AS w1, t[i + 1] AS w2)))"
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    bic = pairs.groupBy("w1", "w2").agg(F.count("*").alias("c12"))

    first_terms = (
        base.select("doc_id", F.expr("t[0]").alias("w"))
        .join(uni, "w")
        .select(
            "doc_id",
            F.expr(
                f"{_micro_ln('c + 1')} - {_micro_ln(f'{tt} + {vv}')}"
            ).alias("term"),
        )
    )
    # score each DISTINCT bigram once on the small aggregated frame, then
    # join the term back to the full pair stream — one full-stream shuffle
    # on (w1, w2) instead of two (the bic groupBy's exchange is reusable)
    bigram_terms = bic.join(
        uni.select(F.col("w").alias("w1"), "c"), "w1"
    ).select(
        "w1",
        "w2",
        F.expr(
            f"{_micro_ln('c12 + 1')} - {_micro_ln(f'c + {vv}')}"
        ).alias("term"),
    )
    # SHUFFLE_HASH, not sort-merge: both sides still exchange on
    # (w1, w2), but neither gets sorted — measured −30% e2e at 200k
    # docs. Build side = the distinct-bigram term table (one row per
    # bigram, hash-balanced: a hot bigram is still ONE build row, so
    # skew lands on the streamed side where it's harmless)
    bi_terms = pairs.join(
        bigram_terms.hint("SHUFFLE_HASH"), ["w1", "w2"]
    ).select("doc_id", "term")
    return (
        first_terms.unionByName(bi_terms)
        .groupBy("doc_id")
        .agg(
            F.sum("term").alias("logp_micro"),
            F.count("*").alias("n_tokens"),
        )
    )


def bucket_lm_scores(
    scored: DataFrame, *, n_buckets: int = 3, approx: bool = True
) -> DataFrame:
    """Add ``avg_logp`` (logp_micro/n_tokens) and a CCNet-style bucket
    (``head``/``middle``/``tail`` for 3; bucket index string otherwise),
    best-scoring docs first. ``approx=True`` (the DEFAULT and the 100-TB
    path — CCNet's own bucketing is cutoff-based, not rank-based):
    cutoffs from one ``percentile_approx`` observed while the scored
    frame is cut, then a map-side CASE — no global sort.
    ``approx=False`` is the exact-ntile spec used ONLY where a DuckDB
    oracle needs deterministic rank semantics (the driver gate query): it
    is a partition-less global window — every row flows through ONE
    task — and must never appear in a production plan (pinned by
    tests/test_plans.py)."""
    avg = F.col("logp_micro") * 1.0 / F.col("n_tokens")
    scored = scored.withColumn("avg_logp", avg)
    names = (
        {1: "head", 2: "middle", 3: "tail"}
        if n_buckets == 3
        else {i: str(i) for i in range(1, n_buckets + 1)}
    )
    if approx:
        from deduplication_framework_spark.operators.lsh import _cut

        # cut the (small, one-row-per-doc) scored frame, observing the
        # cutoffs: the caller's action then reads it instead of re-scoring
        probs = [i / n_buckets for i in range(1, n_buckets)]
        scored, q = _cut(
            scored, q=F.percentile_approx("avg_logp", probs, 10_000)
        )
        cuts = q["q"]
        if cuts is None:  # empty input: keep the output schema stable
            return scored.withColumn(
                "bucket", F.lit(names[n_buckets]).cast("string")
            )
        # avg DESC ordering: above the top cut -> bucket 1, etc.; the
        # HIGHEST cut must be the outermost when() (first match wins)
        expr = None
        for i, cut in enumerate(reversed(cuts)):
            cond = F.col("avg_logp") >= float(cut)
            lbl = F.lit(names[i + 1])
            expr = (
                F.when(cond, lbl) if expr is None else expr.when(cond, lbl)
            )
        return scored.withColumn(
            "bucket", expr.otherwise(F.lit(names[n_buckets]))
        )
    w = Window.orderBy(F.desc("avg_logp"), F.asc("doc_id"))
    tile = F.ntile(n_buckets).over(w)
    mapping = F.create_map(
        *[x for k, v in names.items() for x in (F.lit(k), F.lit(v))]
    )
    return scored.withColumn("bucket", mapping[tile])


def lm_oracle_sql(
    *, table: str, id_col: str, text_col: str, n_buckets: int = 3
) -> str:
    """DuckDB twin of ``lm_score_docs`` + exact-ntile ``bucket_lm_scores``
    (k=1, micro-units, same tokenization class, same tie-break)."""
    assert n_buckets == 3
    toks = f"string_split_regex(lower(trim({text_col})), '{_WS_DUCK}')"
    return f"""
        WITH base AS (
            SELECT {id_col} AS doc_id, {toks} AS t
            FROM {table} WHERE length(trim({text_col})) > 0
        ), uni AS (
            SELECT w, count(*) AS c
            FROM (SELECT unnest(t) AS w FROM base) GROUP BY w
        ), consts AS (
            SELECT CAST(sum(c) AS BIGINT) AS tt, count(*) AS vv FROM uni
        ), pairs AS (
            SELECT doc_id,
                   unnest(list_transform(range(0, len(t) - 1),
                          i -> {{'w1': t[i + 1], 'w2': t[i + 2]}}),
                          recursive := true)
            FROM base
        ), bic AS (
            SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY w1, w2
        ), terms AS (
            SELECT b.doc_id,
                   {_micro_ln("u.c + 1")}
                   - {_micro_ln("consts.tt + consts.vv")} AS term
            FROM base b JOIN uni u ON u.w = b.t[1] CROSS JOIN consts
            UNION ALL
            SELECT p.doc_id,
                   {_micro_ln("bc.c12 + 1")}
                   - {_micro_ln("u.c + consts.vv")} AS term
            FROM pairs p
            JOIN bic bc ON bc.w1 = p.w1 AND bc.w2 = p.w2
            JOIN uni u ON u.w = p.w1
            CROSS JOIN consts
        ), scored AS (
            SELECT doc_id, CAST(sum(term) AS BIGINT) AS logp_micro,
                   count(*) AS n_tokens
            FROM terms GROUP BY doc_id
        )
        SELECT doc_id, n_tokens, logp_micro,
               round(logp_micro * 1.0 / n_tokens, 6) AS avg_logp,
               CASE ntile(3) OVER (
                        ORDER BY logp_micro * 1.0 / n_tokens DESC, doc_id)
                    WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                    ELSE 'tail' END AS bucket
        FROM scored
    """
