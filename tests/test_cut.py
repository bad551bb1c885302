"""The one materialize-once mechanism (operators/lsh.py::_cut): a lineage
cut whose counts are observed during its one action, whose size
statistics count the bytes it really holds, and whose blocks
``release_census_caches()`` frees."""

import pytest
from pyspark.sql import functions as F

from deduplication_framework_spark.operators.lsh import (
    _cut,
    release_census_caches,
)


def _size(df):
    return df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()


def test_cut_sizes_array_and_map_columns_by_observed_bytes(spark):
    """An ``array<string>`` of ~1 KB elements counts its elements' octet
    lengths (not the 20 B default of one string), a map its keys and
    values, a NULL array nothing; a join against the cut is not planned
    ``broadcast`` once those bytes exceed the threshold."""
    el = "y" * 1000
    rows = spark.range(200).select(
        "id",
        F.when(F.col("id") % 10 != 0, F.array(*[F.lit(el)] * 4)).alias("a"),
        F.create_map(F.lit("key"), F.col("id")).alias("m"),
    )
    cut, seen = _cut(
        rows,
        el_bytes=F.sum(F.aggregate("a", F.lit(0), lambda acc, x: acc + F.length(x))),
        n=F.count("*"),
    )
    try:
        assert seen == {"el_bytes": 180 * 4 * 1000, "n": 200}
        map_bytes = 200 * (3 + 8)
        assert seen["el_bytes"] + map_bytes <= _size(cut)
        assert _size(cut) <= seen["el_bytes"] + map_bytes + 200 * 16 + 8

        key = "spark.sql.autoBroadcastJoinThreshold"
        prior = spark.conf.get(key)
        try:
            spark.conf.set(key, str(seen["el_bytes"] // 2))
            plan = (
                spark.range(10**6).join(cut, "id")
                ._jdf.queryExecution().sparkPlan().toString()
            )
        finally:
            spark.conf.set(key, prior)
        assert "BroadcastHashJoin" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
    finally:
        release_census_caches()


def _suffix_rank(spark):
    from deduplication_framework_spark.operators.suffix_array import (
        substring_edges_suffix_array,
    )

    span = "the-quick-brown-fox-jumps-over"
    docs = spark.createDataFrame(
        [(0, "AAAA " + span + " BBBB"), (1, "CCCCCC" + span + "DD"),
         (2, "AAAA " + span + " BBBB"), (3, "nothing shared at all here")],
        "doc_id long, text string",
    )
    edges, stats = substring_edges_suffix_array(
        docs, min_match_chars=24, mode="rank", collapse_exact=True
    )
    stats.collect()
    return edges


def _bloom(spark):
    from deduplication_framework_spark.operators.bloom import (
        incremental_new_rows,
    )

    old = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(40)], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(100 + i, f"doc {i * 3}") for i in range(30)], "doc_id long, text string"
    )
    out, _ = incremental_new_rows(new, old)
    return out


def _tiers(spark):
    from deduplication_framework_spark.operators.tiers import (
        keeper_assign,
        tiered_dedup,
    )

    df = spark.createDataFrame(
        [(i, f"t{i % 7}", f"u{i % 5}") for i in range(30)],
        "doc_id long, text string, url string",
    )
    out, _ = tiered_dedup(
        df,
        [
            ("exact", lambda d: keeper_assign(d, F.col("text"))),
            ("url", lambda d: keeper_assign(d, F.col("url"))),
        ],
    )
    return out


def _ssjoin(spark):
    from deduplication_framework_spark.operators.setjoin import ssjoin_jaccard

    df = spark.createDataFrame(
        [(i, [f"g{(i + j) % 13}" for j in range(6)]) for i in range(30)],
        "doc_id long, grams array<string>",
    )
    edges, _ = ssjoin_jaccard(df, threshold=0.5, dense=False)
    return edges


@pytest.mark.parametrize(
    "build",
    [_suffix_rank, _bloom, _tiers, _ssjoin],
    ids=["suffix_array_rank", "bloom_incremental", "tiered_dedup", "ssjoin"],
)
def test_release_frees_every_block_an_operator_holds(spark, build):
    """Once the output has materialized, release_census_caches() leaves no
    block the operator held: the persistent RDD count is back to where
    it started."""
    jsc = spark.sparkContext._jsc
    release_census_caches()
    start = len(jsc.getPersistentRDDs())
    assert build(spark).collect() is not None
    release_census_caches()
    assert len(jsc.getPersistentRDDs()) == start


def test_prepare_docs_dense_ids_outlive_a_release(spark):
    """Without an order column, prepare_docs numbers the pages densely by
    (warc_ts, url), and the docs stay readable after
    release_census_caches(): run_pipeline releases the registry while
    the docs it returns still read the rank cut."""
    from deduplication_framework_spark.plans.pipeline import prepare_docs

    rows = [(f"u{i % 7}", 1000 - i // 3, f"text {i}", "en") for i in range(40)]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts long, text string, lang string"
    )
    docs = prepare_docs(pages)
    release_census_caches()
    rank = {k: i for i, k in enumerate(sorted({(ts, u) for u, ts, _, _ in rows}))}
    want = sorted((rank[(ts, u)], t) for u, ts, t, _ in rows)
    assert sorted((r.doc_id, r.text) for r in docs.collect()) == want
