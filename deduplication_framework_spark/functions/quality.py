"""Gopher-style document quality filter — keep/drop with rule attribution.

The canonical LLM training-data quality gate (Rae et al. 2021 "Scaling
Language Models: ... Gopher", Table A1; reused by MassiveText / Dolma /
RefinedWeb): per-document scalar signals (word count, mean word length,
symbol-to-word ratio, bullet / ellipsis line fractions, alphabetic-word
fraction, stopword presence) each bounded by a threshold; a document is
kept iff every rule passes, and a dropped document is attributed to the
FIRST failing rule (the report a corpus-curation pipeline wants — same
attribution stance as ``operators/tiers.py``).

Engine parity, the ``langid``/``pii`` pattern: the thresholds and rule
ORDER live once in :data:`RULES`; per-signal expressions have one Spark
and one DuckDB template (the dialects differ in function names only);
the keep/first-fail CASE is GENERATED from the same rule list for both
engines, so the two sides cannot drift.

Scale posture: pure per-row column expressions — no UDF, no shuffle;
at 100 TB the filter rides the scan. All signals derive from ONE token
split per engine (Catalyst dedups the common subexpression; the
generated SQL reuses a CTE column).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "RULES",
    "STOPWORDS",
    "quality_signal_sqls",
    "first_fail_sql",
    "quality_signals_expr",
    "first_fail_expr",
]

# small closed-class list (Gopher requires >= 2 of its stop set present)
STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")

# (rule_name, signal, op, bound) — op is the VIOLATION comparison,
# rules checked in order; first violation names the drop reason.
RULES = (
    ("too_few_words", "n_words", "<", 50),
    ("too_many_words", "n_words", ">", 100_000),
    ("mean_word_len_low", "mean_word_len", "<", 3.0),
    ("mean_word_len_high", "mean_word_len", ">", 10.0),
    ("symbol_ratio_high", "symbol_word_ratio", ">", 0.1),
    ("bullet_lines_high", "bullet_line_frac", ">", 0.9),
    ("ellipsis_lines_high", "ellipsis_line_frac", ">", 0.3),
    ("alpha_words_low", "alpha_word_frac", "<", 0.8),
    ("stopwords_low", "stopword_hits", "<", 2),
)

_BULLETS = ("-", "*", "•")  # line-start bullet markers

# Explicit whitespace class, one set spelled per dialect: Java's \s
# includes \x0B (vertical tab) while RE2's does not (the pii.py lesson),
# so `\s+` silently diverges between Spark and DuckDB on control-char
# input. Naming the union explicitly keeps Spark behavior identical to
# its old `\s+` and makes DuckDB match it.
_WS_SPARK = r"[ \\t\\n\\r\\f\\x0B]+"  # SQL literal -> Java [ \t\n\r\f\x0B]+
_WS_DUCK = r"[ \t\n\r\f\x0B]+"  # DuckDB literal (no escape pass) -> RE2 same
# same pattern handed DIRECTLY to the Java regex engine (F.split /
# F.regexp_* take the regex without a SQL-escape pass) — Java and RE2
# read the explicit class identically, unlike \s (Java includes \x0B,
# RE2 does not: the latent cross-engine divergence these twins close)
_WS_JAVA = _WS_DUCK


def _spark_templates(col: str) -> dict:
    toks = f"split(trim({col}), '{_WS_SPARK}')"
    toks_l = f"split(lower(trim({col})), '{_WS_SPARK}')"
    lines = f"split({col}, '\\n')"
    sw = ", ".join(f"'{w}'" for w in STOPWORDS)
    bullet = " OR ".join(
        f"startswith(trim(l), '{b}')" for b in _BULLETS
    )
    return {
        "n_words": f"size({toks})",
        "mean_word_len": (
            f"length(regexp_replace({col}, '{_WS_SPARK}', '')) / size({toks})"
        ),
        # '#' + unicode ellipsis, per Gopher; ASCII '...' is the LINE
        # rule's business (counting it here would double-fire)
        "symbol_word_ratio": (
            f"((length({col}) - length(replace({col}, '#', ''))) + "
            f"(length({col}) - length(replace({col}, '…', '')))) "
            f"/ size({toks})"
        ),
        "bullet_line_frac": (
            f"size(filter({lines}, l -> {bullet})) / size({lines})"
        ),
        "ellipsis_line_frac": (
            f"size(filter({lines}, l -> endswith(trim(l), '...'))) "
            f"/ size({lines})"
        ),
        "alpha_word_frac": (
            f"size(filter({toks}, w -> w rlike '[A-Za-z]')) / size({toks})"
        ),
        "stopword_hits": (
            f"size(array_intersect(array_distinct({toks_l}), array({sw})))"
        ),
    }


def _duckdb_templates(col: str) -> dict:
    toks = f"string_split_regex(trim({col}), '{_WS_DUCK}')"
    toks_l = f"string_split_regex(lower(trim({col})), '{_WS_DUCK}')"
    lines = f"string_split({col}, chr(10))"
    sw = ", ".join(f"'{w}'" for w in STOPWORDS)
    bullet = " OR ".join(f"starts_with(trim(l), '{b}')" for b in _BULLETS)
    return {
        "n_words": f"len({toks})",
        "mean_word_len": (
            f"length(regexp_replace({col}, '{_WS_DUCK}', '', 'g')) "
            f"/ len({toks})"
        ),
        "symbol_word_ratio": (
            f"((length({col}) - length(replace({col}, '#', ''))) + "
            f"(length({col}) - length(replace({col}, '…', '')))) "
            f"/ len({toks})"
        ),
        "bullet_line_frac": (
            f"len(list_filter({lines}, l -> {bullet})) / len({lines})"
        ),
        "ellipsis_line_frac": (
            f"len(list_filter({lines}, l -> ends_with(trim(l), '...'))) "
            f"/ len({lines})"
        ),
        "alpha_word_frac": (
            f"len(list_filter({toks}, w -> regexp_matches(w, '[A-Za-z]'))) "
            f"/ len({toks})"
        ),
        "stopword_hits": (
            f"len(list_intersect(list_distinct({toks_l}), [{sw}]))"
        ),
    }


def quality_signal_sqls(col: str) -> dict:
    """``{signal: duckdb_sql}`` over a text column."""
    return _duckdb_templates(col)


def quality_signals_expr(col: str) -> dict:
    """``{signal: Column}`` over a text column (pure JVM expressions)."""
    return {k: F.expr(v) for k, v in _spark_templates(col).items()}


def _first_fail(signals: dict) -> str:
    """CASE arm text shared by both engines: only signal references and
    comparison operators appear, so one generator serves both once the
    per-signal SQL is substituted."""
    arms = " ".join(
        f"WHEN ({signals[sig]}) {op} {bound} THEN '{name}'"
        for name, sig, op, bound in RULES
    )
    return f"CASE {arms} ELSE 'pass' END"


def first_fail_sql(col: str) -> str:
    """DuckDB CASE naming the first violated rule (or 'pass')."""
    return _first_fail(_duckdb_templates(col))


def first_fail_expr(col: str) -> Column:
    """Spark Column naming the first violated rule (or 'pass')."""
    return F.expr(_first_fail(_spark_templates(col)))


def apply_quality_filter(docs, *, text_col: str = "text", repetition: bool = False):
    """Gopher-gate a corpus: keep docs passing every rule, drop the rest
    with first-fail attribution. Returns ``(kept, metrics)`` where
    ``metrics`` carries the input/kept sizes and one
    ``quality.drop_<rule>`` counter per violated rule (the drop census is
    observed while the labelled corpus is cut, so it runs no job of its
    own). ``repetition=True`` additionally applies the
    Gopher Table-A1 repetition thresholds (``repetition.REP_RULES``,
    checked AFTER the scalar rules) via the staged mass builder.

    Scale posture: pure per-row expressions plus one ``count_if`` per rule
    name, observed during the cut's one action."""
    ff = "_q_ff"
    d = docs.withColumn(ff, first_fail_expr(text_col))
    if repetition:
        from deduplication_framework_spark.functions.repetition import (
            REP_RULES,
            with_repetition_masses,
        )

        d = with_repetition_masses(d, text_col).withColumn(
            "_q_nc", F.expr(f"length(trim({text_col}))")
        )
        arms = " ".join(
            f"WHEN _q_nc > 0 AND {mass} / _q_nc > {bound} THEN '{name}'"
            for name, mass, bound in REP_RULES
        )
        d = d.withColumn(
            ff,
            F.expr(
                f"CASE WHEN {ff} != 'pass' THEN {ff} {arms}"
                f" ELSE 'pass' END"
            ),
        ).drop("_q_nc", *[mass for _, mass, _ in REP_RULES])
    # the census and the returned frame are two consumers of the
    # (expensive, with repetition=True) signal expressions: cut once,
    # counting every possible first-fail name during the cut's action
    from deduplication_framework_spark.operators.lsh import _cut

    names = ["pass"] + [r[0] for r in RULES]
    if repetition:
        names += [r[0] for r in REP_RULES]
    d, census = _cut(d, **{n: F.count_if(F.col(ff) == n) for n in names})
    kept = d.filter(F.col(ff) == "pass").drop(ff)
    metrics = {
        "quality.n_in": float(sum(census.values())),
        "quality.n_kept": float(census["pass"]),
    }
    for rule, n in census.items():
        if rule != "pass" and n:
            metrics[f"quality.drop_{rule}"] = float(n)
    return kept, metrics
