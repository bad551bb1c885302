"""The CLI's preprocessing-layer table: the resume keys it renders, the
flag dependencies it enforces, and the layer caches main() frees.

The input_tag strings are folded into every stage's resume key, so they
are an on-disk contract: an existing --checkpoint-dir only resumes if the
same flags render byte-identical tags. The literals below are that
contract; change one only together with a checkpoint migration note."""

import json
import os

import pytest

from deduplication_framework_spark import __main__ as cli

_BASE = ["--synthetic", "10", "--output", "unused"]


def _tag(*flags):
    _, args = cli.parse_args(_BASE + list(flags))
    return cli.input_tag(args)


@pytest.mark.parametrize(
    "flags, tag",
    [
        ([], ""),
        (["--block-urls"], "block_urls:1"),
        (["--dedup-against", "H"], "dedup_against:H"),
        (
            ["--dedup-against", "H", "--dedup-against-fuzzy"],
            "dedup_against:H|dedup_against_fuzzy:H",
        ),
        (["--quality-filter"], "quality:0"),
        (["--quality-filter", "--quality-repetition"], "quality:1"),
        (["--lm-filter", "middle,head"], "lm_filter:head,middle"),
        (["--remove-repeated-substrings", "40"], "repeated_substrings:40"),
        (["--remove-frequent-spans", "3"], "frequent_spans:3"),
        (["--span-dedup"], "span_dedup:\n"),
        (
            ["--span-dedup", r"\s+", "--span-dedup-fuzzy"],
            "span_dedup_fuzzy:\\s+",
        ),
        (["--decontaminate-against", "E"], "decontaminate:E:8"),
        (
            ["--decontaminate-against", "E", "--decontaminate-ngram", "5"],
            "decontaminate:E:5",
        ),
    ],
)
def test_input_tag_per_layer(flags, tag):
    assert _tag(*flags) == tag


def test_input_tag_full_stack_ignores_argv_order():
    # argv in reverse of the run order: the tag still follows LAYERS
    tag = _tag(
        "--decontaminate-against", "E",
        "--span-dedup",
        "--remove-frequent-spans", "3",
        "--remove-repeated-substrings", "40",
        "--lm-filter", "middle,head",
        "--quality-filter",
        "--dedup-against-fuzzy",
        "--dedup-against", "H",
        "--block-urls",
    )
    assert tag == (
        "block_urls:1|dedup_against:H|dedup_against_fuzzy:H|quality:0"
        "|lm_filter:head,middle|repeated_substrings:40|frequent_spans:3"
        "|span_dedup:\n|decontaminate:E:8"
    )


# every flag dependency the CLI enforces, as (flag, the flag it needs) and
# (flag, the mode it cannot join)
REQUIRES = [
    ("--dedup-against-fuzzy", "--dedup-against"),
    ("--fuzzy-index", "--dedup-against-fuzzy"),
    ("--fuzzy-index-admit", "--fuzzy-index"),
    ("--quality-repetition", "--quality-filter"),
    ("--span-dedup-fuzzy", "--span-dedup"),
    ("--decontaminate-ngram", "--decontaminate-against"),
    ("--sweep-eval", "--sweep"),
]
INCOMPATIBLE = [
    (flag, "--sweep")
    for flag in (
        "--block-urls",
        "--dedup-against",
        "--dedup-against-fuzzy",
        "--quality-filter",
        "--lm-filter",
        "--remove-repeated-substrings",
        "--remove-frequent-spans",
        "--span-dedup",
        "--decontaminate-against",
        "--assign-splits",
        "--soft-weights",
        "--eval-recall",
    )
]
_VALUES = {
    "--dedup-against": "H",
    "--fuzzy-index": "D",
    "--decontaminate-against": "E",
    "--decontaminate-ngram": "5",
    "--lm-filter": "head",
    "--remove-repeated-substrings": "40",
    "--remove-frequent-spans": "3",
    "--assign-splits": "0.2",
    "--sweep": "0.8",
}


def _argv(flag):
    """``flag`` (with a value if it takes one) plus every flag it needs."""
    out = [flag] + ([_VALUES[flag]] if flag in _VALUES else [])
    for f, base in REQUIRES:
        if f == flag:
            out += _argv(base)
    return out


def test_dependency_tables_match_the_cli():
    assert sorted(cli.REQUIRES) == sorted(REQUIRES)
    assert sorted(cli.INCOMPATIBLE) == sorted(INCOMPATIBLE)


@pytest.mark.parametrize(
    "kind, flag, other",
    [("requires", f, b) for f, b in REQUIRES]
    + [("incompatible", f, o) for f, o in INCOMPATIBLE],
)
def test_flag_dependency_is_a_usage_error(
    kind, flag, other, monkeypatch, capsys
):
    """Each pair fails as an argparse usage error (exit 2) before any
    Spark session exists; the legal combination parses."""
    import deduplication_framework_spark.session as session

    def no_spark(*a, **k):
        raise AssertionError("validation let a bad flag combination through")

    monkeypatch.setattr(session, "get_spark", no_spark)
    ok = _BASE + _argv(flag)
    if kind == "requires":
        bad = _BASE + [flag] + ([_VALUES[flag]] if flag in _VALUES else [])
        message = f"{flag} requires {other}"
    else:
        bad = ok + _argv(other)
        message = f"is not supported with {other}"
    with pytest.raises(SystemExit) as exc:
        cli.main(bad)
    assert exc.value.code == 2
    assert message in capsys.readouterr().err
    cli.parse_args(ok)


_GOOD = (
    "The quick brown fox jumps over the lazy dog and then, to the "
    "surprise of everyone that could have been watching, it kept "
    "running with great joy across the wide open field toward the "
    "river where all of the other animals had gathered to drink and "
    "rest in the warm afternoon sun before night came over the hills."
)
_GOOD2 = (
    "When the old bridge over the river was finally rebuilt, the people "
    "of the village gathered on both of its banks to watch the first "
    "cart roll across, and the children ran ahead of it while their "
    "parents talked about the long winter that had kept them apart from "
    "the market town for so many weeks."
)


def test_cli_quality_filter(spark, tmp_path):
    """--quality-filter end to end: per-rule drop counts land in
    summary.json, an identical rerun resumes, and adding
    --quality-repetition (tag quality:1 vs quality:0) does not."""
    inp = str(tmp_path / "pages_q")
    spark.createDataFrame(
        [
            (0, "u0", _GOOD, "en"),
            (1, "u1", _GOOD2, "en"),
            (2, "u2", "the and of to be quick fox", "en"),
            (3, "u3", " ".join(f"zq{i}x" for i in range(80)), "en"),
        ],
        ["doc_order", "url", "text", "lang"],
    ).write.parquet(inp)
    out = str(tmp_path / "out_q")
    argv = [
        "--input", inp, "--output", out, "--detectors", "exact",
        "--checkpoint-dir", str(tmp_path / "ckpt_q"), "--quality-filter",
    ]

    def run(extra=()):
        assert cli.main(argv + list(extra)) == 0
        with open(os.path.join(out, "summary.json")) as fh:
            return json.load(fh)

    summary = run()
    m = summary["metrics"]
    assert m["quality.n_in"] == 4.0
    assert m["quality.n_kept"] == 2.0
    assert m["quality.drop_too_few_words"] == 1.0
    assert m["quality.drop_stopwords_low"] == 1.0
    assert summary["docs"] == 2
    assert "keepers.resumed" not in m

    assert run()["metrics"].get("keepers.resumed") == 1.0
    assert "keepers.resumed" not in run(["--quality-repetition"])["metrics"]


@pytest.mark.parametrize(
    "flags",
    [
        ["--span-dedup", "--remove-frequent-spans", "1"],
        ["--span-dedup", "--span-dedup-fuzzy"],
    ],
    ids=["exact", "fuzzy"],
)
def test_cli_layer_caches_are_released(spark, tmp_path, flags):
    """The span layers persist their per-doc results for the pipeline's
    many consumers; main() must unpersist them before it returns, or
    every CLI call in a long-lived session leaks cached frames. The fuzzy
    span layer's clustering must leave no CC checkpoints behind either."""
    inp = str(tmp_path / "pages_c")
    spark.createDataFrame(
        [
            (0, "u0", "intro zero\nhot span\nbody zero", "en"),
            (1, "u1", "intro one\nhot span\nbody one", "en"),
            (2, "u2", "hot span\ncold pair", "en"),
            (3, "u3", "cold pair", "en"),
        ],
        ["doc_order", "url", "text", "lang"],
    ).write.parquet(inp)
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    assert cli.main([
        "--input", inp, "--output", str(tmp_path / "out_c"),
        "--detectors", "exact", "--checkpoint-dir", str(tmp_path / "ckpt_c"),
        *flags,
    ]) == 0
    assert jsc.getPersistentRDDs().size() <= before


class _Stop(Exception):
    pass


def test_stacked_layers_reach_the_pipeline_as_one_checkpoint(
    spark, tmp_path, monkeypatch
):
    """Every layer's output is cut by a checkpoint, so the pipeline gets a
    one-leaf plan however many layers stack. Without the cut each layer
    re-plans all the layers below it: the plan grows 3-5x per layer, to
    thousands of lines after five, and a deep enough stack exhausts the
    driver heap. The spy stops main() before the pipeline runs."""
    from deduplication_framework_spark.plans import pipeline

    plans = []

    def spy(spark, pages, *args, **kwargs):
        plans.append(pages._jdf.queryExecution().analyzed().toString())
        raise _Stop

    monkeypatch.setattr(pipeline, "run_pipeline", spy)
    shared = "menu home about\nthe river ran wide and slow past the mill\n"
    inp, ev = str(tmp_path / "pages_s"), str(tmp_path / "eval_s")
    spark.createDataFrame(
        [(i, f"u{i}", f"{shared}note {i} on the weather", "en")
         for i in range(8)]
        + [(8, "u8", "one two three four five six seven eight nine", "en")],
        ["doc_order", "url", "text", "lang"],
    ).write.parquet(inp)
    spark.createDataFrame(
        [("one two three four five six seven eight nine",)], ["text"]
    ).write.parquet(ev)
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    with pytest.raises(_Stop):
        cli.main([
            "--input", inp, "--output", str(tmp_path / "out_s"),
            "--detectors", "exact",
            "--remove-repeated-substrings", "20",
            "--remove-frequent-spans", "5",
            "--span-dedup",
            "--decontaminate-against", ev, "--decontaminate-ngram", "4",
        ])
    (plan,) = plans
    lines = plan.strip().splitlines()
    assert len(lines) <= 3, f"{len(lines)}-line plan:\n{plan[:3000]}"
    assert "LogicalRDD" in lines[-1]
    assert jsc.getPersistentRDDs().size() <= before


def test_observed_layer_metrics(spark):
    """A layer's counts are observe() aggregates read after its cut:
    reading them before any action over the frame raises instead of
    blocking, and a sparse count that observed 0 is left out."""
    from pyspark.sql import functions as F

    metrics = cli._Observed(
        spark.range(3),
        {"n": F.count("*"), "n_big": F.count_if(F.col("id") > 5)},
        sparse=["n_big"],
    )
    with pytest.raises(RuntimeError, match="materializ"):
        metrics["n"]
    metrics.frame.collect()
    assert dict(metrics) == {"n": 3.0}
