"""DSIR-style importance weighting — hashed-unigram log-likelihood ratio.

DSIR (Xie et al. 2023, "Data Selection for Language Models via Importance
Resampling", NeurIPS) scores every raw document by the likelihood ratio
between a *target* distribution (the high-quality corpus you want more
of) and the *raw* distribution, both modeled as bag-of-hashed-n-gram
unigram models, then resamples the raw pool proportionally. This module
rebuilds the scoring stage Spark-first and engine-exactly.

Model (add-one smoothing, all integers — the ``operators/lm.py`` trick):

* every token is hashed into one of ``B`` buckets via the low 60 bits of
  ``md5(token)`` mod ``B`` (15 hex chars -> always fits a signed BIGINT;
  the identical expression is emitted for Spark and DuckDB, so the
  feature map cannot drift between engines);
* bucket counts ``ct(b)`` over the target slice and ``cr(b)`` over the
  RAW slice (the complement — DSIR trains the two models on separate
  corpora: target = the high-quality set, raw = the pool being scored;
  folding the target rows into the raw model would force ``ct <= cr``
  everywhere and make the zero threshold unreachable), with totals
  ``Tt`` / ``Tr``;
* each token contributes
  ``ln((ct(b)+1)/(Tt+B)) - ln((cr(b)+1)/(Tr+B))``
  with every ``ln(integer)`` rounded to exact micro-units BEFORE the
  per-doc sum, so a document's log-weight is a BIGINT sum over a small
  finite set — order-independent and engine-exact;
* ``selected = logw_micro > 0``: the doc looks more target-like than
  raw-like (an integer compare; full DSIR resampling instead draws
  Gumbel top-k over these weights — the weights are the hard part).

Scale posture (100 TB):

* one map-side-combinable groupBy over hashed buckets (``B`` rows out —
  the shuffle is tiny regardless of corpus size; target and raw counts
  ride the SAME aggregation via a conditional sum, not two passes);
* the per-bucket term table is ``B`` rows and is broadcast into the
  token stream; the only corpus-scale shuffle is the per-doc sum
  (map-side combinable on ``doc_id``);
* the tokenized projection is held once as a lineage cut (``lsh._cut``;
  bucket census and doc scoring are concurrent consumers — CLAUDE.md
  pitfall), the corpus token totals observed during its one action.

Reference scope: the reference engine has no data-selection stage; this
is part of the "operations a large-scale training-data pipeline needs"
surface (quality/LM scoring siblings: functions/quality.py,
operators/lm.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deduplication_framework_spark.functions.hash60 import (
    duck_md5_low60,
    spark_md5_low60,
)
from deduplication_framework_spark.functions.quality import (
    _WS_DUCK,
    _WS_SPARK,
)
from deduplication_framework_spark.operators.lm import _micro_ln
from deduplication_framework_spark.session import local_frame

__all__ = ["dsir_log_weights", "dsir_oracle_sql"]

DEFAULT_BUCKETS = 1024


def _spark_bucket(tok: str, n_buckets: int) -> str:
    return f"pmod({spark_md5_low60(tok)}, {n_buckets})"


def _duck_bucket(tok: str, n_buckets: int) -> str:
    return f"({duck_md5_low60(tok)} % {n_buckets})"


def dsir_log_weights(
    docs: DataFrame,
    *,
    target_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """``(doc_id, n_tokens, logw_micro, selected)`` — DSIR hashed-unigram
    log importance weight in exact micro-units. ``target_col`` is a
    boolean column marking the target slice (e.g. ``lang = 'en'``); the
    target model is trained on the slice, the raw model on its
    COMPLEMENT (the pool being scored — see module docstring). Every
    row is scored, whichever slice it sits in.
    Empty/whitespace-only docs emit no row (lm_score_docs convention)."""
    from deduplication_framework_spark.operators.lsh import _cut

    # bucket census + doc scoring are concurrent consumers: cut once, the
    # raw and target token totals observed during the cut's action
    toks, tot = _cut(
        docs.filter(F.expr(f"length(trim({text_col})) > 0"))
        .select(
            F.col(id_col).alias("doc_id"),
            F.col(target_col).cast("boolean").alias("is_t"),
            F.explode(
                F.expr(f"split(lower(trim({text_col})), '{_WS_SPARK}')")
            ).alias("w"),
        )
        .withColumn("b", F.expr(_spark_bucket("w", n_buckets)))
        .drop("w"),
        tr=F.sum((~F.col("is_t")).cast("long")),
        tt=F.sum(F.col("is_t").cast("long")),
    )
    if tot["tr"] is None:  # zero non-empty docs: empty frame, stable schema
        return local_frame(
            toks.sparkSession,
            "doc_id long, n_tokens long, logw_micro long, selected boolean",
        )
    tr, tt = int(tot["tr"]), int(tot["tt"])
    counts = toks.groupBy("b").agg(
        F.sum((~F.col("is_t")).cast("long")).alias("cr"),
        F.sum(F.col("is_t").cast("long")).alias("ct"),
    )

    terms = counts.select(
        "b",
        F.expr(
            f"({_micro_ln('ct + 1')} - {_micro_ln(f'{tt} + {n_buckets}')})"
            f" - ({_micro_ln('cr + 1')}"
            f" - {_micro_ln(f'{tr} + {n_buckets}')})"
        ).alias("term"),
    )
    return (
        toks.join(F.broadcast(terms), "b")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("term").alias("logw_micro"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "logw_micro",
            (F.col("logw_micro") > 0).alias("selected"),
        )
    )


def dsir_oracle_sql(
    *,
    table: str,
    id_col: str,
    text_col: str,
    target_pred: str,
    n_buckets: int = DEFAULT_BUCKETS,
) -> str:
    """DuckDB twin of ``dsir_log_weights`` (same md5 bucket hash, same
    micro-unit ln rounding, same add-one smoothing). ``target_pred`` is
    the SQL predicate defining the target slice."""
    toks = f"string_split_regex(lower(trim({text_col})), '{_WS_DUCK}')"
    return f"""
        WITH toks AS (
            SELECT {id_col} AS doc_id, ({target_pred}) AS is_t,
                   {_duck_bucket("unnest(" + toks + ")", n_buckets)} AS b
            FROM {table} WHERE length(trim({text_col})) > 0
        ), counts AS (
            SELECT b,
                   CAST(count(*) FILTER (NOT is_t) AS BIGINT) AS cr,
                   CAST(count(*) FILTER (is_t) AS BIGINT) AS ct
            FROM toks GROUP BY b
        ), consts AS (
            SELECT CAST(sum(cr) AS BIGINT) AS tr,
                   CAST(sum(ct) AS BIGINT) AS tt
            FROM counts
        ), terms AS (
            SELECT b,
                   ({_micro_ln("ct + 1")}
                    - {_micro_ln(f"tt + {n_buckets}")})
                   - ({_micro_ln("cr + 1")}
                      - {_micro_ln(f"tr + {n_buckets}")}) AS term
            FROM counts CROSS JOIN consts
        )
        SELECT t.doc_id, count(*) AS n_tokens,
               CAST(sum(m.term) AS BIGINT) AS logw_micro,
               CAST(sum(m.term) AS BIGINT) > 0 AS selected
        FROM toks t JOIN terms m ON m.b = t.b
        GROUP BY t.doc_id
    """
