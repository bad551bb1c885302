"""Gopher-rule quality filter (functions/quality.py): rule semantics on
real text (the testdata corpus is single-line word soup — newline/bullet
semantics live here), first-fail ordering, and engine parity."""

import duckdb
import pytest

from deduplication_framework_spark.functions.quality import (
    RULES,
    first_fail_expr,
    first_fail_sql,
    quality_signal_sqls,
    quality_signals_expr,
)

_GOOD = (
    "The quick brown fox jumps over the lazy dog and then, to the "
    "surprise of everyone that could have been watching, it kept "
    "running with great joy across the wide open field toward the "
    "river where all of the other animals had gathered to drink and "
    "rest in the warm afternoon sun before night came over the hills."
)

# (label, text, expected first_fail)
CASES = [
    ("pass", _GOOD, "pass"),
    ("short", "the and of to be quick fox", "too_few_words"),
    ("huge", " ".join(["the", "and", "words"] * 34000), "too_many_words"),
    # 60 single-char words -> mean length 1 (word count passes)
    ("tiny_words", " ".join(["a"] * 60), "mean_word_len_low"),
    # 60 very long words -> mean length >> 10
    ("huge_words", " ".join(["x" * 25] * 60), "mean_word_len_high"),
    # hash symbols on good text
    ("hashy", _GOOD + " " + " ".join(["#"] * 9), "symbol_ratio_high"),
    # every line a bullet
    ("bullets", "\n".join(f"- item {i} of the list to be read"
                          for i in range(12)) + " " + _GOOD.replace("\n", " "),
     "bullet_lines_high"),
    # most lines end with ellipsis
    ("ellipsis", "\n".join(f"line {i} of the story trails off..."
                           for i in range(12)), "ellipsis_lines_high"),
    # numeric tokens: alphabetic-word fraction below 0.8
    ("numeric", _GOOD + " " + " ".join(str(i) for i in range(40)),
     "alpha_words_low"),
    # long, word-shaped, but no closed-class stopwords
    ("soup", " ".join(f"zq{i}x" for i in range(80)), "stopwords_low"),
    # vertical tab between words: Java's \s splits on \x0B, RE2's does
    # not — the explicit whitespace class must make both engines agree
    ("vtab", _GOOD.replace(" running ", " run\x0bning ", 1), "pass"),
]


@pytest.fixture(scope="module")
def flags(spark):
    df = spark.createDataFrame([(c[1],) for c in CASES], ["text"])
    sig = quality_signals_expr("text")
    rows = df.select(
        first_fail_expr("text").alias("ff"),
        *[v.alias(k) for k, v in sig.items()],
    ).collect()
    return rows


def test_rule_semantics_and_first_fail_order(flags):
    for (label, _text, want), row in zip(CASES, flags):
        assert row.ff == want, f"{label}: {row.ff} != {want} ({row})"


def test_every_rule_exercised():
    covered = {want for _, _, want in CASES}
    assert covered == {name for name, *_ in RULES} | {"pass"}


def test_duckdb_twin_is_bit_identical(spark, flags):
    con = duckdb.connect()
    con.execute("CREATE TABLE t(text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(c[1],) for c in CASES])
    sqls = quality_signal_sqls("text")
    keys = sorted(sqls)
    dd = con.execute(
        f"SELECT {first_fail_sql('text')}, "
        + ", ".join(f"CAST({sqls[k]} AS DOUBLE)" for k in keys)
        + " FROM t"
    ).fetchall()
    got = [
        (r.ff, *[float(r[k]) for k in keys]) for r in flags
    ]
    assert [tuple(r) for r in dd] == got


def test_ordering_short_beats_stopwords(spark):
    """'zz qq' violates BOTH too_few_words and stopwords_low — the first
    rule in RULES order must name the drop."""
    df = spark.createDataFrame([("zz qq",)], ["text"])
    assert df.select(first_fail_expr("text").alias("ff")).collect()[0].ff == (
        "too_few_words"
    )


# passes every scalar rule, but the repeated block trips the Gopher
# repetition thresholds (first-fail lands on a top_*gram rule)
_REP = _GOOD + " " + ("we repeat this exact phrase again " * 12).strip()


def test_apply_quality_filter_keep_drop_and_census(spark):
    from deduplication_framework_spark.functions.quality import (
        apply_quality_filter,
    )

    df = spark.createDataFrame(
        [(0, _GOOD), (1, "zz qq"), (2, _REP)], ["doc_order", "text"]
    )
    kept, m = apply_quality_filter(df)
    assert sorted(r.doc_order for r in kept.collect()) == [0, 2]
    assert m["quality.n_in"] == 3.0
    assert m["quality.n_kept"] == 2.0
    assert m["quality.drop_too_few_words"] == 1.0
    assert "_q_ff" not in kept.columns


def test_apply_quality_filter_repetition_rules(spark):
    from deduplication_framework_spark.functions.repetition import REP_RULES
    from deduplication_framework_spark.functions.quality import (
        apply_quality_filter,
    )

    df = spark.createDataFrame(
        [(0, _GOOD), (1, "zz qq"), (2, _REP)], ["doc_order", "text"]
    )
    kept, m = apply_quality_filter(df, repetition=True)
    assert [r.doc_order for r in kept.collect()] == [0]
    rep_names = {name for name, _, _ in REP_RULES}
    rep_drops = {
        k: v
        for k, v in m.items()
        if k.startswith("quality.drop_") and k[len("quality.drop_"):] in rep_names
    }
    assert sum(rep_drops.values()) == 1.0  # the _REP doc, attributed
    # scalar rules are checked FIRST: the short doc keeps its scalar name
    assert m["quality.drop_too_few_words"] == 1.0
