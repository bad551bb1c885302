"""Physical-plan guards (VERDICT round 1, Next round #3/#5): the entry
queries that were O(N²) BroadcastNestedLoopJoins and the windowed fallback's
single-partition window must stay fixed. These assert on the formatted plan
string — the cheapest regression tripwire for a scale property that small-sf
correctness tests can't see."""

import contextlib
import io

from pyspark.sql import functions as F

from deduplication_framework_spark.config import TextEmbeddingConfig
from deduplication_framework_spark.operators.windowed import (
    windowed_jaccard_dedup,
)


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


SF_DIR = "/root/testdata/sf0.001"


def test_length_band_candidates_plan_has_no_nested_loop(spark):
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.q_length_band_candidates(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # the log2-length bucket equi-join must be a real hash join
    assert "Join" in plan


def test_cosine_neighbor_counts_plan_has_no_nested_loop(spark):
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.q_cosine_neighbor_counts(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_windowed_dedup_plan_has_no_single_partition_exchange(spark, pages):
    out = windowed_jaccard_dedup(
        pages.selectExpr("doc_order as doc_id", "text"),
        threshold=0.9,
        n_chunks=8,
        emb=TextEmbeddingConfig(),
    )
    plan = _plan(out)
    assert "SinglePartition" not in plan, plan


def test_windowed_chunk_col_matches_reference_loop(spark):
    """chunk_col path semantics vs an INDEPENDENT greedy replay: keep a doc
    iff no kept doc among the last window_size kept has multigranularity
    Jaccard >= t (first match in kept order wins); chunks are isolated
    (a cross-chunk dup must NOT merge); a small window must actually MISS
    a dup that a full window would catch (the fallback's documented recall
    trade-off — asserting the miss proves the window is honored)."""
    from deduplication_framework_spark.functions import kernels as K

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = [
        (0, base),                       # kept
        (1, "completely different words here about spark shuffles"),
        (2, base + " x"),                # dup of 0 — but window may miss
        (3, "third unrelated text with its own vocabulary entirely"),
        (4, base + " y"),                # dup of 0/2
        (5, "fourth unrelated doc padding out the first chunk nicely"),
        (6, base + " z"),                # chunk 2: same text class, but
        (7, "fifth unrelated entry"),    # cross-chunk pairs must not merge
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"]).withColumn(
        "ch", F.expr("doc_id DIV 6")
    )

    def replay(window):
        feats = [
            K.multigranularity_ngrams(K.normalize_text(t, True, True, True), 3)
            for _, t in docs
        ]
        out = {}
        for chunk in (0, 1):
            kept, kof = [], {}
            for i, (did, _) in enumerate(docs):
                if did // 6 != chunk:
                    continue
                hit = None
                for j in kept[max(0, len(kept) - window):]:
                    a, b = feats[i], feats[j]
                    u = a | b
                    if (len(a & b) / len(u) if u else 1.0) >= 0.5:
                        hit = j
                        break
                if hit is None:
                    kept.append(i)
                    out[did] = did
                else:
                    out[did] = docs[hit][0]
        return out

    for window in (1, 100):
        got = {
            r.doc_id: r.keeper_id
            for r in windowed_jaccard_dedup(
                df, threshold=0.5, window_size=window, chunk_col="ch"
            ).collect()
        }
        assert got == replay(window), (window, got)
    # the window=1 run must actually miss the 0~2 dup (kept=[0,1] when 2
    # arrives; window 1 sees only doc 1) while window=100 catches it
    assert replay(1)[2] == 2 and replay(100)[2] == 0
    # chunk isolation: doc 6 duplicates doc 0's class but sits in chunk 1
    assert replay(100)[6] == 6


def test_span_keep_first_plan_combines_map_side(spark):
    """dedup_spans_df's skew posture (a 1M-copy boilerplate span must
    collapse per map partition, not funnel through one window task):
    the plan must be a partial-then-final min aggregation with the
    partial BEFORE the shuffle, and no Window node at all."""
    from deduplication_framework_spark.operators.spans import (
        dedup_spans_df,
        explode_spans,
    )

    import re

    df = spark.createDataFrame([(1, "a\nb"), (2, "b\nc")], ["doc_id", "text"])
    plan = _plan(dedup_spans_df(explode_spans(df), id_col="doc_id"))
    assert "Window" not in plan, plan
    # the detail section numbers nodes bottom-up: the partial aggregate
    # must be an EARLIER node than the shuffle it feeds
    agg = re.search(r"\((\d+)\) \w*Aggregate\n(?:.*\n)*?.*partial_min", plan)
    exch = re.search(r"\((\d+)\) Exchange", plan)
    assert agg and exch, plan
    assert int(agg.group(1)) < int(exch.group(1)), plan


def test_latest_snapshot_plan_combines_map_side(spark):
    """Same skew posture as the span keep-first: a url recrawled millions
    of times must collapse per map partition (partial max before the
    shuffle), never funnel through one window task."""
    import re

    from deduplication_framework_spark.operators.snapshots import (
        latest_snapshot,
    )

    df = spark.createDataFrame(
        [("u", 1, 10, "a"), ("u", 2, 11, "b")],
        ["url", "warc_ts", "cap_id", "text"],
    )
    plan = _plan(latest_snapshot(df, ["url"], "warc_ts", ["cap_id"]))
    assert "Window" not in plan, plan
    agg = re.search(r"\((\d+)\) \w*Aggregate\n(?:.*\n)*?.*partial_max", plan)
    exch = re.search(r"\((\d+)\) Exchange", plan)
    assert agg and exch, plan
    assert int(agg.group(1)) < int(exch.group(1)), plan


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Co-located join evidence: two tables bucketed by the join key into
    the same bucket count join WITHOUT any shuffle — the physical plan has
    zero Exchange nodes. This is the repeated-join posture for corpus-scale
    tables (signature/edge checkpoints keyed by doc_id): pay the
    partitioning once at write time, reuse it every join."""
    from pyspark.sql import functions as F

    left = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"), (F.col("id") * 2).alias("a")
    )
    right = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"), (F.col("id") * 3).alias("b")
    )
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for name, df in [("_bkt_l", left), ("_bkt_r", right)]:
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            (
                df.write.bucketBy(8, "doc_id")
                .sortBy("doc_id")
                .option("path", str(tmp_path / name))
                .saveAsTable(name)
            )
        joined = spark.table("_bkt_l").join(spark.table("_bkt_r"), "doc_id")
        plan = _plan(joined)
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan, plan
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        spark.sql("DROP TABLE IF EXISTS _bkt_l")
        spark.sql("DROP TABLE IF EXISTS _bkt_r")


def test_broadcast_semi_join_never_shuffles_probe_side(spark, tmp_path):
    """The verify routes of operators/bloom.py and
    operators/incremental_fuzzy.py reduce corpus-scale history (keys /
    band table) to the batch's hit keys with
    history.join(broadcast(hit_keys), key, "left_semi"). Pin the plan
    shape that posture relies on: the broadcast hint yields a
    BroadcastHashJoin LeftSemi and the HISTORY side is read straight from
    its scan — no Exchange (shuffle) of the corpus-scale probe side, even
    with auto-broadcast disabled."""
    from pyspark.sql import functions as F

    hist = str(tmp_path / "hist_bands")
    spark.range(0, 50_000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 9973).alias("band_key"),
    ).write.parquet(hist)
    history = spark.read.parquet(hist)
    hit_keys = spark.range(0, 40).select(
        (F.col("id") * 7).alias("band_key")
    )
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        semi = history.join(F.broadcast(hit_keys), "band_key", "left_semi")
        plan = _plan(semi)
        assert "BroadcastHashJoin" in plan, plan
        assert "Exchange" not in plan.replace(
            "BroadcastExchange", "BroadcastXchg"
        ), plan
        # band_key = id % 9973 over ids 0..49999: keys < 135 occur 6x,
        # the rest 5x; hit keys are 0,7,...,273 -> 20 keys in each class
        assert semi.count() == 20 * 6 + 20 * 5
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)


def test_sequence_packing_single_shard_exchange(spark):
    """The packed layout must cost exactly ONE shuffle (hash on shard)
    and reuse its sort for both window computations — no global sort,
    no second Exchange (operators/packing.py scale posture)."""
    from pyspark.sql import functions as F

    from deduplication_framework_spark.operators.packing import (
        pack_sequences,
    )

    df = spark.range(0, 10_000).select(
        F.col("id").alias("doc_id"),
        F.repeat(F.lit("w "), 5).alias("text"),
    )
    plan = _plan(pack_sequences(df, n_shards=16))
    tree = plan.split("\n\n")[0]  # formatted: tree, blank, node details
    assert tree.count("Exchange") == 1, plan
    assert "hashpartitioning(shard" in plan, plan
    assert tree.count("Sort") == 1, plan


def test_lm_default_bucketing_has_no_single_partition_window(spark):
    """VERDICT r4 #2: ``bucket_lm_scores``' DEFAULT — the CLI
    ``--lm-filter`` / production surface — must be the map-side
    approx-cutoff bucketing: no partition-less ntile Window, no
    Exchange SinglePartition anywhere in the plan. The exact global
    ntile survives only behind ``approx=False`` for the driver-gate
    oracle query."""
    from pyspark.sql import functions as F

    from deduplication_framework_spark.operators.lm import (
        bucket_lm_scores,
        lm_score_docs,
    )
    from deduplication_framework_spark.operators.lsh import (
        release_census_caches,
    )

    df = spark.range(0, 200).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("the a of tok"), (F.col("id") % 17).cast("string")
        ).alias("text"),
    )
    out = bucket_lm_scores(lm_score_docs(df))
    plan = _plan(out)
    release_census_caches()
    assert "SinglePartition" not in plan, plan
    assert "ntile" not in plan.lower(), plan


def test_repeated_substrings_plan_shape(spark):
    """ExactSubstr removal scale pins: census is a partial-then-final
    aggregation (map-side combine on the gram keys — a boilerplate gram
    repeated a million times collapses per map partition), the hot-set
    join is broadcast under the threshold, and the only Python in the
    plan is Arrow-batched (featurization + cut UDFs) — never
    row-at-a-time."""
    import re

    from deduplication_framework_spark.operators.spans import (
        remove_repeated_substrings,
    )

    docs = spark.createDataFrame(
        [(i, f"text {i} " * 20) for i in range(50)], ["doc_id", "text"]
    )
    out, _ = remove_repeated_substrings(docs, min_len=12, key_mode="hash")
    plan = _plan(out)
    assert "BatchEvalPython" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert not re.search(r"BroadcastNestedLoopJoin|CartesianProduct", plan)
    # partial census aggregate BEFORE its exchange (bottom-up numbering)
    agg = re.search(r"\((\d+)\) HashAggregate\n(?:.*\n)*?.*partial_count", plan)
    assert agg, plan
