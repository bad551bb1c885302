"""Streaming surface: stateless signature stream + incremental exact dedup
with persistent state across micro-batches and restarts."""

import os

import pytest
from pyspark.sql import functions as F

from deduplication_framework_spark.sources.pages import PAGES_SCHEMA
from deduplication_framework_spark.streaming.incremental import (
    run_incremental_exact_dedup,
    stream_signatures,
)


def _write_batch(spark, pages, lo, hi, out):
    pages.filter((F.col("doc_order") >= lo) & (F.col("doc_order") < hi)).select(
        "url", "warc_ts", "html", "text", "lang"
    ).coalesce(1).write.mode("append").parquet(out)


def test_incremental_exact_dedup(spark, pages, tmp_path):
    src = str(tmp_path / "stream_src")
    state = str(tmp_path / "state")

    _write_batch(spark, pages, 0, 200, src)
    q, handler = run_incremental_exact_dedup(spark, src, state, PAGES_SCHEMA)
    q.awaitTermination()

    k1 = handler.keepers().count()
    d1 = (
        pages.filter(F.col("doc_order") < 200)
        .select(F.xxhash64("text").alias("h"))
        .distinct()
        .count()
    )
    assert k1 == d1

    # second batch includes exact copies of batch-1 docs (the exact class
    # spans rows 300-360: copies of each other, not of batch 1) plus fresh
    _write_batch(spark, pages, 200, 400, src)
    q2, handler2 = run_incremental_exact_dedup(spark, src, state, PAGES_SCHEMA)
    q2.awaitTermination()

    total_distinct = (
        pages.filter(F.col("doc_order") < 400)
        .select(F.xxhash64("text").alias("h"))
        .distinct()
        .count()
    )
    assert handler2.keepers().count() == total_distinct
    # no duplicate hashes in the keeper sink
    kdf = handler2.keepers()
    assert (
        kdf.select(F.xxhash64("text").alias("h")).distinct().count() == kdf.count()
    )


def test_incremental_dedup_replay_idempotent(spark, pages, tmp_path):
    """foreachBatch is at-least-once: replaying a batch_id (crash between
    the keeper write and the checkpoint commit) must not duplicate keeper
    rows, including after a PARTIAL failure where the batch's seen-hashes
    were written but keepers were not."""
    from deduplication_framework_spark.streaming.incremental import (
        IncrementalExactDedup,
    )

    state = str(tmp_path / "replay_state")
    b0 = pages.filter(F.col("doc_order") < 200).select(
        "url", "warc_ts", "html", "text", "lang"
    )
    b1 = pages.filter(
        (F.col("doc_order") >= 200) & (F.col("doc_order") < 400)
    ).select("url", "warc_ts", "html", "text", "lang")

    h = IncrementalExactDedup(spark, state)
    h.process_batch(b0, 0)
    h.process_batch(b1, 1)
    expect = h.keepers().count()

    # full replays (handler restart, same batch ids) are no-ops
    h2 = IncrementalExactDedup(spark, state)
    h2.process_batch(b0, 0)
    h2.process_batch(b1, 1)
    assert h2.keepers().count() == expect

    # partial-failure replay: wipe batch 1's keeper dir but keep its seen
    # hashes (the crash-after-first-write window) — replay must restore the
    # same keeper rows, not compute an empty fresh set against its own seen
    import shutil

    shutil.rmtree(os.path.join(state, "keepers", "batch=1"))
    h3 = IncrementalExactDedup(spark, state)
    h3.process_batch(b1, 1)
    assert h3.keepers().count() == expect
    kdf = h3.keepers()
    assert (
        kdf.select(F.xxhash64("text").alias("h")).distinct().count()
        == kdf.count()
    )


def test_stream_signatures_matches_batch(spark, pages, tmp_path):
    src = str(tmp_path / "sig_src")
    _write_batch(spark, pages, 0, 50, src)

    stream = spark.readStream.schema(PAGES_SCHEMA).parquet(src)
    sigs = stream_signatures(stream)
    q = (
        sigs.writeStream.format("memory")
        .queryName("sig_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r.url: (tuple(r.sig), r.simhash)
        for r in spark.sql("SELECT * FROM sig_out").collect()
    }

    batch = stream_signatures(
        spark.read.schema(PAGES_SCHEMA).parquet(src)
    )
    expect = {r.url: (tuple(r.sig), r.simhash) for r in batch.collect()}
    assert got == expect and len(got) == 50


def test_stream_ingest_stats_watermarked(spark, pages, tmp_path):
    """Append mode emits a window only after the watermark (set by a PRIOR
    micro-batch) passes its end — so run two availableNow cycles over a
    shared checkpoint and compare against the batch-side closed-window
    oracle."""
    import datetime

    from deduplication_framework_spark.streaming.incremental import (
        stream_ingest_stats,
    )

    src = str(tmp_path / "agg_src")
    ckpt = str(tmp_path / "agg_ckpt")
    out = str(tmp_path / "agg_out")

    def run_once():
        stream = spark.readStream.schema(PAGES_SCHEMA).parquet(src)
        agg = stream_ingest_stats(stream, "10 minutes", "5 minutes")
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    _write_batch(spark, pages, 0, 300, src)
    run_once()
    batch1_max = (
        spark.read.schema(PAGES_SCHEMA).parquet(src)
        .agg(F.max("warc_ts")).collect()[0][0]
    )
    _write_batch(spark, pages, 300, 600, src)
    run_once()

    emitted = spark.read.parquet(out)
    erows = emitted.collect()
    assert erows, "watermark must have closed at least one window"

    # semantic properties of append-mode emission (availableNow may chunk
    # into several internal micro-batches, so the exact emitted SET depends
    # on internal file batching — the guarantees do not):
    batch = spark.read.schema(PAGES_SCHEMA).parquet(src)
    global_max = batch.agg(F.max("warc_ts")).collect()[0][0]
    expect = {
        (r.window_start, r.lang): (r.n_pages, r.sum_chars)
        for r in batch.groupBy(
            F.window("warc_ts", "10 minutes").alias("w"), "lang"
        )
        .agg(F.count("*").alias("n_pages"), F.sum(F.length("text")).alias("sum_chars"))
        .select(F.col("w.start").alias("window_start"), "lang", "n_pages", "sum_chars")
        .collect()
    }
    seen = set()
    for r in erows:
        # 1. emitted only once
        assert (r.window_start, r.lang) not in seen
        seen.add((r.window_start, r.lang))
        # 2. only windows the final watermark could have closed
        assert r.window_end <= global_max - datetime.timedelta(minutes=5)
        # 3. counts are FINAL — equal to the batch rollup for that window
        assert (r.n_pages, r.sum_chars) == expect[(r.window_start, r.lang)]
    # 4. every batch-1 window strictly older than the run-1 watermark made it
    cutoff1 = batch1_max - datetime.timedelta(minutes=5)
    must_emit = {
        (k, lang)
        for (k, lang) in expect
        if k + datetime.timedelta(minutes=10) <= cutoff1
    }
    assert must_emit <= seen


def test_keepers_empty_before_any_batch(spark, tmp_path):
    """ADVICE r2: keepers() before any committed batch must return an empty
    frame (zero parquet paths used to raise AnalysisException), and after a
    batch it must carry the recorded keeper schema."""
    from deduplication_framework_spark.streaming.incremental import (
        IncrementalExactDedup,
    )

    h = IncrementalExactDedup(spark, str(tmp_path / "state"))
    assert h.keepers().count() == 0
    batch = spark.createDataFrame(
        [("u1", "aa"), ("u2", "aa"), ("u3", "bb")], "url string, text string"
    )
    h.process_batch(batch, 0)
    assert h.keepers().count() == 2
    # fresh handler over the same state dir: schema file answers even when
    # only torn dirs would be visible
    h2 = IncrementalExactDedup(spark, str(tmp_path / "state"))
    assert set(h2.keepers().columns) == {"url", "text"}


def test_stateful_simhash_matches_batch(spark, pages, tmp_path):
    """Stateful streaming LSH (applyInPandasWithState): across multiple
    micro-batches, the emitted candidate set must equal the exact all-pairs
    Hamming<=10 set (pigeonhole blocking is lossless and no cap binds) —
    including pairs whose members arrive in DIFFERENT micro-batches."""
    from deduplication_framework_spark.config import PipelineConfig
    from deduplication_framework_spark.functions.text import (
        make_fused_features_udf,
    )
    from deduplication_framework_spark.streaming.stateful import (
        stateful_simhash_candidates,
    )

    docs = pages.select(F.col("doc_order").alias("doc_id"), "text")
    cfg = PipelineConfig()
    sh = make_fused_features_udf(cfg.embedding, cfg.dedup, with_simhash=True)
    fps = docs.select(
        "doc_id", sh("text")["simhash"].alias("simhash")
    ).collect()

    # exact oracle: all pairs within Hamming 10 (spec kernel, not a local
    # re-derivation)
    from deduplication_framework_spark.functions.kernels import (
        hamming_distance64 as ham,
    )

    vals = {r.doc_id: r.simhash for r in fps}
    ids = sorted(vals)
    expected = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if ham(vals[a], vals[b]) <= 10
    }
    assert len(expected) > 10, "fixture must plant near-dup fingerprints"

    # three micro-batches (maxFilesPerTrigger=1) — cross-batch pairs matter
    src = tmp_path / "fp_stream"
    src.mkdir()
    third = len(fps) // 3
    for i, chunk in enumerate(
        (fps[:third], fps[third : 2 * third], fps[2 * third :])
    ):
        spark.createDataFrame(chunk, "doc_id long, simhash long").coalesce(
            1
        ).write.parquet(str(src / f"b{i}"))
    stream = (
        spark.readStream.schema("doc_id long, simhash long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "b*"))
    )
    out = stateful_simhash_candidates(stream, dist=10)
    q = (
        out.writeStream.format("memory")
        .queryName("stateful_cands")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.src, r.dst)
        for r in spark.sql("SELECT src, dst FROM stateful_cands").collect()
    }
    assert got == expected


def test_stateful_simhash_state_cap_accounting(spark, tmp_path):
    """state_cap bounds per-bucket state: overflow members still match
    against the RETAINED set but aren't added, every drop is counted in
    n_state_evicted, and a bucket that evicts WITHOUT emitting a match
    surfaces a NULL-edge accounting row (no silent loss). Docs arrive in
    separate micro-batches so the retained member is deterministic
    (within-batch group row order is an implementation detail)."""
    from deduplication_framework_spark.streaming.stateful import (
        stateful_simhash_candidates,
    )

    # doc 4 shares doc 1's low pigeonhole blocks but sits far outside the
    # Hamming ball: it lands in doc-1 buckets, never matches, and with the
    # cap full can only appear through the accounting row
    far = 12345 ^ (0xFFFFF << 20)
    batches = [[(1, 12345)], [(2, 12345)], [(3, 12345)], [(4, far)]]
    src = tmp_path / "s"
    src.mkdir()
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, "doc_id long, simhash long").coalesce(
            1
        ).write.parquet(str(src / f"b{i}"))
    stream = (
        spark.readStream.schema("doc_id long, simhash long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "b*"))
    )
    out = stateful_simhash_candidates(stream, dist=10, state_cap=1)
    q = (
        out.writeStream.format("memory")
        .queryName("cap_cands")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "c"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM cap_cands").collect()
    pairs = {(r.src, r.dst) for r in rows if r.src is not None}
    # docs 2 and 3 match the retained doc 1; the (2,3) pair is the
    # documented cap loss, visible through the eviction counter
    assert pairs == {(1, 2), (1, 3)}
    assert max(r.n_state_evicted for r in rows) >= 1
    # doc 4 evicted from a bucket with no match this trigger -> NULL-edge
    # accounting row
    assert any(r.src is None and r.n_state_evicted >= 1 for r in rows)


def test_stateful_eviction_counter_fresh_within_trigger(spark, tmp_path):
    """ADVICE r3: a match row emitted in the SAME trigger as a later
    eviction must carry the end-of-trigger eviction count, not a stale
    snapshot — otherwise an eviction after the last match in a trigger is
    invisible until the bucket next emits."""
    from deduplication_framework_spark.streaming.stateful import (
        stateful_simhash_candidates,
    )

    # batch 1 fills the cap with doc 1; batch 2 delivers docs 2 and 3
    # together: both match the retained doc 1, both are evicted (cap=1),
    # so every match row of the trigger must read n_state_evicted == 2
    batches = [[(1, 12345)], [(2, 12345), (3, 12345)]]
    src = tmp_path / "s"
    src.mkdir()
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, "doc_id long, simhash long").coalesce(
            1
        ).write.parquet(str(src / f"b{i}"))
    stream = (
        spark.readStream.schema("doc_id long, simhash long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "b*"))
    )
    out = stateful_simhash_candidates(stream, dist=10, state_cap=1)
    q = (
        out.writeStream.format("memory")
        .queryName("fresh_evict")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "c"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM fresh_evict").collect()
    match_rows = [r for r in rows if r.src is not None]
    assert {(r.src, r.dst) for r in match_rows} == {(1, 2), (1, 3)}
    assert all(r.n_state_evicted == 2 for r in match_rows), [
        (r.src, r.dst, r.n_state_evicted) for r in match_rows
    ]


def test_stateful_minhash_matches_batch_band_collisions(spark, pages, tmp_path):
    """Stateful streaming MinHash-LSH: across micro-batches, the emitted
    pair set must equal the batch all-pairs band-collision set (docs
    sharing >= 1 of the b band keys) over the same signatures — including
    pairs split across micro-batches."""
    from deduplication_framework_spark.config import PipelineConfig
    from deduplication_framework_spark.functions import kernels as K
    from deduplication_framework_spark.functions.text import (
        make_fused_features_udf,
    )
    from deduplication_framework_spark.streaming.stateful import (
        stateful_minhash_candidates,
    )

    cfg = PipelineConfig()
    b, r = K.optimal_band_param(cfg.dedup.threshold, cfg.dedup.num_perm)
    docs = pages.select(F.col("doc_order").alias("doc_id"), "text")
    mh = make_fused_features_udf(cfg.embedding, cfg.dedup, with_minhash=True)
    sigs = docs.select("doc_id", mh("text")["sig"].alias("sig")).collect()

    # oracle: group by exact band tuples (xxhash64 collisions only ADD
    # candidates and are ~2^-64 here)
    buckets = {}
    for row in sigs:
        for bi in range(b):
            key = (bi, tuple(row.sig[bi * r : (bi + 1) * r]))
            buckets.setdefault(key, []).append(row.doc_id)
    expected = set()
    for members in buckets.values():
        ms = sorted(members)
        for i, a in enumerate(ms):
            for c in ms[i + 1 :]:
                expected.add((a, c))
    assert len(expected) > 10, "fixture must plant LSH-colliding signatures"

    src = tmp_path / "sig_stream"
    src.mkdir()
    third = len(sigs) // 3
    for i, chunk in enumerate(
        (sigs[:third], sigs[third : 2 * third], sigs[2 * third :])
    ):
        spark.createDataFrame(
            chunk, "doc_id long, sig array<long>"
        ).coalesce(1).write.parquet(str(src / f"b{i}"))
    stream = (
        spark.readStream.schema("doc_id long, sig array<long>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "b*"))
    )
    out = stateful_minhash_candidates(stream, b=b, r=r)
    q = (
        out.writeStream.format("memory")
        .queryName("mh_cands")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "mh_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r2.src, r2.dst)
        for r2 in spark.sql("SELECT src, dst FROM mh_cands").collect()
    }
    assert got == expected


def test_stateful_minhash_state_cap_accounting(spark, tmp_path):
    """state_cap bounds per-bucket MinHash state: overflow docs still match
    the retained members, every drop is counted, and counters carry the
    end-of-trigger value on the trigger's match rows."""
    from deduplication_framework_spark.streaming.stateful import (
        stateful_minhash_candidates,
    )

    # identical signatures → same bucket in every band; cap=1 retains doc 1
    sig = [7, 8, 9, 10]
    batches = [[(1, sig)], [(2, sig), (3, sig)]]
    src = tmp_path / "s"
    src.mkdir()
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, "doc_id long, sig array<long>").coalesce(
            1
        ).write.parquet(str(src / f"b{i}"))
    stream = (
        spark.readStream.schema("doc_id long, sig array<long>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "b*"))
    )
    out = stateful_minhash_candidates(stream, b=2, r=2, state_cap=1)
    q = (
        out.writeStream.format("memory")
        .queryName("mh_cap")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "c"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM mh_cap").collect()
    match_rows = [r for r in rows if r.src is not None]
    # docs 2 and 3 pair with the retained doc 1 in both bands; (2,3) is the
    # documented cap loss, visible through the counter
    assert {(r.src, r.dst) for r in match_rows} == {(1, 2), (1, 3)}
    # per bucket: docs 2 and 3 both evicted in batch 2 -> end-of-trigger
    # count 2 on every match row of that trigger
    assert all(r.n_state_evicted == 2 for r in match_rows)


def test_stateful_replay_does_not_consume_state_slots(spark, tmp_path):
    """Code-review r4: a re-delivered doc_id (at-least-once replay /
    duplicate input row) must not occupy another state slot — a duplicate
    slot would evict a genuinely new doc and fabricate capped recall
    loss. Doc 1 arrives twice before doc 2: with state_cap=2, doc 2 must
    still be retained (no eviction at all)."""
    from deduplication_framework_spark.streaming.stateful import (
        stateful_minhash_candidates,
    )

    sig = [5, 6, 7, 8]
    batches = [[(1, sig)], [(1, sig)], [(2, sig)], [(3, sig)]]
    src = tmp_path / "s"
    src.mkdir()
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, "doc_id long, sig array<long>").coalesce(
            1
        ).write.parquet(str(src / f"b{i}"))
    stream = (
        spark.readStream.schema("doc_id long, sig array<long>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "b*"))
    )
    out = stateful_minhash_candidates(stream, b=2, r=2, state_cap=2)
    q = (
        out.writeStream.format("memory")
        .queryName("mh_replay")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "c"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM mh_replay").collect()
    # doc 2 was retained (slot not wasted on the replayed doc 1), so doc 3
    # pairs with BOTH 1 and 2; doc 3 itself is the only eviction
    pairs = {(r.src, r.dst) for r in rows if r.src is not None}
    assert pairs == {(1, 2), (1, 3), (2, 3)}
    assert max(r.n_state_evicted for r in rows) == 1



class _FakeGroupState:
    """The slice of ``GroupState`` the band match function touches."""

    def __init__(self):
        self.value = None

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return self.value

    def update(self, value):
        self.value = value


def test_band_match_composite_group_semantics():
    """Spark-free: two buckets (band keys 1 and 257) share one composite
    state group. The cap and the replay guard hold per bucket, the
    eviction counter sums the group's drops and is stamped with its
    end-of-trigger value, an evicting trigger with no match emits the
    NULL-edge row, and rows outside the Hamming limit never pair."""
    import pandas as pd

    from deduplication_framework_spark.streaming.stateful import _match_bands

    state = _FakeGroupState()

    def trigger(rows):
        pdf = pd.DataFrame(rows, columns=["band_key", "doc_id", "fp"])
        out = list(_match_bands(iter([pdf]), state, 3, 2))
        return {
            tuple(None if pd.isna(v) else int(v) for v in row)
            for df in out
            for row in df.itertuples(index=False)
        }

    # bucket 1 fills its cap of 2 while bucket 257 holds one member: the
    # group retains 3 docs with nothing evicted
    assert trigger([(1, 10, 0), (1, 11, 0), (257, 20, 0)]) == {(10, 11, 0, 0)}
    assert state.get == ([1, 1, 257], [10, 11, 20], [0, 0, 0], 0)
    # doc 10 is new to bucket 257 (joins it) but a replay in bucket 1
    # (matches, takes no slot, is not an eviction); docs 12 and 22 arrive
    # at full buckets: two drops, both stamped on every row of the trigger
    assert trigger(
        [(257, 10, 0), (1, 10, 0), (1, 12, 0), (257, 22, 0)]
    ) == {
        (10, 20, 0, 2),
        (10, 11, 0, 2),
        (10, 12, 0, 2),
        (11, 12, 0, 2),
        (20, 22, 0, 2),
        (10, 22, 0, 2),
    }
    assert state.get == ([1, 1, 257, 257], [10, 11, 20, 10], [0] * 4, 2)
    # Hamming 8 > 3 from both bucket-1 members: no pair, and two
    # evictions (doc 20 is retained in bucket 257, not in bucket 1), so
    # the trigger's only row is the NULL-edge accounting row
    null_row = (None, None, None, 4)
    assert trigger([(1, 30, 0xFF), (1, 20, 0xFF)]) == {null_row}
    # Hamming 3 <= 3: pairs, carrying the distance
    assert trigger([(257, 40, 0b111)]) == {(20, 40, 3, 5), (10, 40, 3, 5)}
    # a trigger that neither matches nor evicts emits nothing
    assert trigger([(9, 50, 0)]) == set()
    assert state.get[3] == 5


# the two stateful LSH layouts before the shared band operator:
# (grouping of the band rows, state schema, output schema, Spark's error
# class on restart). The SimHash key's band_key was NOT NULL where the
# composite pmod group is nullable, so the key check fires first.
_OLD_LAYOUTS = {
    "simhash": (
        lambda bands: bands.groupBy("band_idx", "band_key"),
        "ids array<long>, fps array<long>, evicted long",
        "src long, dst long, hamming int, n_state_evicted long",
        "STATE_STORE_KEY_SCHEMA_NOT_COMPATIBLE",
    ),
    "minhash": (
        lambda bands: bands.withColumn(
            "_grp", F.pmod(F.col("band_key"), F.lit(256))
        ).groupBy("band_idx", "_grp"),
        "bkeys array<long>, ids array<long>, evicted long",
        "src long, dst long, n_state_evicted long",
        "STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE",
    ),
}


@pytest.mark.parametrize("family", sorted(_OLD_LAYOUTS))
def test_stateful_old_checkpoint_layout_fails_loudly(spark, tmp_path, family):
    """A query restarted on a checkpoint written with the older state
    layout of its family must fail on Spark's state schema check, never
    read the old state as the new layout. A parquet sink, because a
    memory sink refuses to recover."""
    from pyspark.errors import StreamingQueryException
    from pyspark.sql.streaming.state import GroupStateTimeout

    from deduplication_framework_spark.operators.lsh import (
        minhash_bands,
        simhash_bands,
    )
    from deduplication_framework_spark.streaming.stateful import (
        stateful_minhash_candidates,
        stateful_simhash_candidates,
    )

    group, state_schema, out_schema, error = _OLD_LAYOUTS[family]
    schema = {
        "simhash": "doc_id long, simhash long",
        "minhash": "doc_id long, sig array<long>",
    }[family]
    value = {"simhash": 12345, "minhash": [7, 8, 9, 10]}[family]
    src = tmp_path / "s"
    src.mkdir()

    def add_batch(i, doc_id):
        spark.createDataFrame([(doc_id, value)], schema).coalesce(
            1
        ).write.parquet(str(src / f"b{i}"))

    def stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "b*"))
        )

    def run(df):
        q = (
            df.writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "c"))
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    def old_state(key, pdfs, state):
        state.update(([0], [0], 0))
        return iter(())

    if family == "simhash":
        bands = simhash_bands(stream(), 10)
        restarted = stateful_simhash_candidates(stream(), dist=10)
    else:
        bands = minhash_bands(stream(), b=2, r=2)
        restarted = stateful_minhash_candidates(stream(), b=2, r=2)
    add_batch(0, 1)
    run(
        group(bands).applyInPandasWithState(
            old_state,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    add_batch(1, 2)
    with pytest.raises(StreamingQueryException, match=error):
        run(restarted)

def test_stream_text_candidates_minhash(spark, pages, tmp_path):
    """Text-in end to end: raw pages stream → Arrow featurization inside
    the streaming query → stateful MinHash-LSH; emitted pairs equal the
    batch band-collision oracle over the same texts."""
    from deduplication_framework_spark.config import PipelineConfig
    from deduplication_framework_spark.functions import kernels as K
    from deduplication_framework_spark.functions.text import (
        make_fused_features_udf,
    )
    from deduplication_framework_spark.streaming.stateful import (
        stream_text_candidates,
    )

    cfg = PipelineConfig()
    b, r = K.optimal_band_param(cfg.dedup.threshold, cfg.dedup.num_perm)
    sub = pages.select("doc_order", "text")
    rows = sub.orderBy("doc_order").collect()

    mh = make_fused_features_udf(cfg.embedding, cfg.dedup, with_minhash=True)
    sigs = sub.select("doc_order", mh("text")["sig"].alias("sig")).collect()
    buckets = {}
    for row in sigs:
        for bi in range(b):
            key = (bi, tuple(row.sig[bi * r : (bi + 1) * r]))
            buckets.setdefault(key, []).append(row.doc_order)
    expected = set()
    for members in buckets.values():
        ms = sorted(members)
        for i, a in enumerate(ms):
            for c in ms[i + 1 :]:
                expected.add((a, c))
    assert expected, "fixture slice must contain LSH-colliding docs"

    src = tmp_path / "txt_stream"
    src.mkdir()
    half = len(rows) // 2
    for i, chunk in enumerate((rows[:half], rows[half:])):
        spark.createDataFrame(chunk, "doc_order long, text string").coalesce(
            1
        ).write.parquet(str(src / f"b{i}"))
    stream = (
        spark.readStream.schema("doc_order long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "b*"))
    )
    # hash_family="jvm" has no Arrow path: the stream must still sign with
    # sha1 and emit the same pairs
    jvm_cfg = PipelineConfig()
    jvm_cfg.dedup.hash_family = "jvm"
    for name, run_cfg in (("txt_cands", cfg), ("txt_cands_jvm", jvm_cfg)):
        out = stream_text_candidates(stream, run_cfg, detector="minhash")
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / name))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = {
            (r2.src, r2.dst)
            for r2 in spark.sql(f"SELECT src, dst FROM {name}").collect()
        }
        assert got == expected, name


def test_stream_span_dedup_matches_batch_keep_first(spark, tmp_path):
    """Streaming keep-first span dedup: across micro-batches fed in doc
    order, the kept span set equals the batch operator's keep-first over
    the concatenated corpus, and drop accounting sums to the duplicate
    copy count."""
    from deduplication_framework_spark.operators.spans import (
        dedup_spans_df,
        explode_spans,
    )
    from deduplication_framework_spark.streaming.stateful import (
        stream_span_dedup,
    )

    rows = [
        (0, "alpha\nboiler\nbeta"),
        (1, "boiler\ngamma"),
        (2, "delta\nboiler\nalpha"),
        (3, "epsilon\ngamma\nepsilon"),
        (4, "boiler"),
        (5, "zeta\ndelta"),
    ]
    docs = spark.createDataFrame(rows, ["doc_order", "text"])
    batch_kept = {
        (r.doc_order, r.pos, r.span)
        for r in dedup_spans_df(
            explode_spans(docs, id_col="doc_order"), id_col="doc_order"
        ).collect()
    }
    n_total = explode_spans(docs, id_col="doc_order").count()

    src = tmp_path / "span_stream"
    src.mkdir()
    for i, chunk in enumerate((rows[:2], rows[2:4], rows[4:])):
        spark.createDataFrame(chunk, "doc_order long, text string").coalesce(
            1
        ).write.parquet(str(src / f"b{i}"))
    stream = (
        spark.readStream.schema("doc_order long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "b*"))
    )
    q = (
        stream_span_dedup(stream)
        .writeStream.format("memory")
        .queryName("span_keep")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "span_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.sql(
        "SELECT doc_id, pos, span, kept, n_dropped FROM span_keep"
    ).collect()
    got_kept = {(r.doc_id, r.pos, r.span) for r in out if r.kept}
    assert got_kept == batch_kept
    # per-span cumulative counters: the max per span is the final count;
    # their sum equals every duplicate copy in the corpus
    final_drops = {}
    for r in out:
        final_drops[r.span] = max(final_drops.get(r.span, 0), r.n_dropped)
    assert sum(final_drops.values()) == n_total - len(batch_kept)


def test_stateful_latest_snapshot_matches_batch(spark, tmp_path):
    """Streaming keep-latest per url: after all micro-batches, the LAST
    emitted row per key must equal the batch latest_snapshot of the
    union — including out-of-order arrivals, ties broken by digest, and
    NULL timestamps."""
    from deduplication_framework_spark.operators.snapshots import (
        latest_snapshot,
    )
    from deduplication_framework_spark.streaming.stateful import (
        stateful_latest_snapshot,
    )

    batches = [
        # (url, ts_micros, digest)
        [("a", 100, "d1"), ("b", 50, "d2"), ("c", None, "d3")],
        [("a", 90, "d4"),   # late: loses, emits nothing
         ("b", 50, "d9"),   # same ts, larger digest: wins by tie
         ("c", 10, "d0")],  # real ts beats NULL
        [("a", 200, "d5"), ("d", None, None)],  # new winner; NULL-NULL key
    ]
    src = tmp_path / "snap_stream"
    src.mkdir()
    for i, chunk in enumerate(batches):
        spark.createDataFrame(
            chunk, "url string, ts_micros long, digest string"
        ).coalesce(1).write.parquet(str(src / f"b{i}"))
    stream = (
        spark.readStream.schema("url string, ts_micros long, digest string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "b*"))
    )
    out = stateful_latest_snapshot(stream, key_col="url")
    q = (
        out.writeStream.format("memory")
        .queryName("latest_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "snap_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    emitted = spark.sql(
        "SELECT * FROM latest_stream ORDER BY n_updates"
    ).collect()
    # last emitted winner per key
    last = {}
    for r in emitted:
        last[r.url] = (r.ts_micros, r.digest)

    union = spark.createDataFrame(
        [row for b in batches for row in b],
        "url string, ts_micros long, digest string",
    )
    want = {
        r.url: (r.ts_micros, r.digest)
        for r in latest_snapshot(
            union, ["url"], "ts_micros", tie_cols=["digest"]
        ).collect()
    }
    assert last == want
    # the losing recrawl (a, 90) must not have produced an emission
    a_rows = [r for r in emitted if r.url == "a"]
    assert [r.ts_micros for r in a_rows] == [100, 200]
    assert a_rows[-1].n_updates == 2
