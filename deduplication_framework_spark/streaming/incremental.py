"""Incremental dedup over a streaming pages source.

Two surfaces:

* ``stream_signatures`` — stateless: every micro-batch of pages gets
  normalized + MinHash/SimHash featurized by the same fused Arrow UDF as
  the batch pipeline (map-only → trivially streaming-safe, exactly-once
  with a checkpointed sink).

* ``incremental_exact_dedup`` — stateful via ``foreachBatch``: each batch is
  exact-hash deduped within itself AND against the persistent `seen`
  table; only first-seen rows are appended to the keeper sink. This is the
  streaming analog of the reference's first-seen-wins md5 dedup
  (/root/reference/text/method/pipeline_api.py:340-370), with the in-memory
  ``seen`` dict replaced by a parquet state table (Iceberg on a cluster).

Near-dup detectors stay micro-batch + periodic compaction by design: LSH
bucketing requires a shuffle over accumulated signatures, so the streaming
job appends signatures continuously and the batch pipeline re-clusters from
the checkpointed signature table (cheap thanks to config-hash resume).
"""

from __future__ import annotations

import os
from dataclasses import replace
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deduplication_framework_spark.config import PipelineConfig
from deduplication_framework_spark.functions.text import make_fused_features_udf
from deduplication_framework_spark.operators import connected_components as cc
from deduplication_framework_spark.session import local_frame


def stream_signatures(
    pages_stream: DataFrame, cfg: Optional[PipelineConfig] = None
) -> DataFrame:
    """Streaming pages → (url, warc_ts, sig, simhash). Stateless map: one
    fused Arrow pass computes both (sha1 signatures whatever
    ``cfg.dedup.hash_family`` says)."""
    cfg = cfg or PipelineConfig()
    fused = make_fused_features_udf(
        cfg.embedding,
        replace(cfg.dedup, hash_family="sha1"),
        with_minhash=True,
        with_simhash=True,
    )
    return pages_stream.select(
        "url", "warc_ts", fused("text").alias("f")
    ).select("url", "warc_ts", "f.sig", "f.simhash")


def stream_ingest_stats(
    pages_stream: DataFrame,
    window_duration: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked windowed ingest rollup: per (event-time window, lang)
    page counts + byte volume. Late pages beyond the watermark are dropped;
    append-mode-safe (state finalizes when the watermark passes the
    window)."""
    return (
        pages_stream.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window_duration).alias("w"), "lang")
        .agg(
            F.count("*").alias("n_pages"),
            F.sum(F.length("text")).alias("sum_chars"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "lang",
            "n_pages",
            "sum_chars",
        )
    )


class IncrementalExactDedup:
    """foreachBatch handler maintaining a persistent seen-hash state table.

    State layout: ``<state_dir>/seen/batch=<id>`` and
    ``<state_dir>/keepers/batch=<id>`` parquet subdirectories, one pair per
    micro-batch. foreachBatch is AT-LEAST-ONCE (a crash between the two
    writes and the checkpoint commit replays the batch), so the handler is
    idempotent per ``batch_id``: each replay OVERWRITES its own batch
    subdirectories (never appends to a shared table), and the anti-join
    against ``seen`` excludes the current batch's own partition so a replay
    after a partial seen-write recomputes the same survivors rather than an
    empty set. This is the streaming analog of the reference's
    first-seen-wins md5 dedup (pipeline_api.py:340-370).
    """

    def __init__(self, spark: SparkSession, state_dir: str, schema=None):
        self.spark = spark
        self.state_dir = state_dir
        # the stream's input schema (keepers() uses it to answer before any
        # batch has committed; after the first commit the recorded
        # keeper_schema.json takes over)
        self.schema = schema
        self.seen_path = os.path.join(state_dir, "seen")
        self.keepers_path = os.path.join(state_dir, "keepers")
        os.makedirs(state_dir, exist_ok=True)

    def _committed_batch_dirs(self, root: str, exclude: Optional[int] = None):
        """Only batch subdirs with a _SUCCESS marker — a torn dir from a
        crash mid-write must be INVISIBLE (its batch will be replayed and
        overwritten), never silently read as partial/empty state."""
        out = []
        if os.path.isdir(root):
            for d in sorted(os.listdir(root)):
                if not d.startswith("batch="):
                    continue
                bid = int(d.split("=", 1)[1])
                if exclude is not None and bid == exclude:
                    continue
                sub = os.path.join(root, d)
                if os.path.exists(os.path.join(sub, "_SUCCESS")):
                    out.append(sub)
        return out

    def _seen(self, exclude_batch: Optional[int] = None) -> DataFrame:
        dirs = self._committed_batch_dirs(self.seen_path, exclude_batch)
        if not dirs:
            return local_frame(self.spark, "text_hash long")
        return self.spark.read.parquet(*dirs).select("text_hash")

    def _done(self, batch_id: int) -> bool:
        return os.path.exists(
            os.path.join(self.keepers_path, f"batch={batch_id}", "_SUCCESS")
        ) and os.path.exists(
            os.path.join(self.seen_path, f"batch={batch_id}", "_SUCCESS")
        )

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if self._done(batch_id):
            return  # replayed batch, both writes already committed
        hashed = batch_df.withColumn("text_hash", F.xxhash64("text"))
        # within-batch first-seen (min url as the deterministic tiebreak)
        from pyspark.sql import Window

        w = Window.partitionBy("text_hash").orderBy("url")
        firsts = (
            hashed.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        seen = self._seen(exclude_batch=batch_id)
        # one cut feeds both writes; freed here, not via the operators'
        # release registry, which a long-lived stream never drains
        fresh = cc._stats_bounded_local_ckpt(
            firsts.join(seen, "text_hash", "left_anti")
        )
        # record the keeper schema so keepers() can answer (empty) before
        # any batch dir exists; tmp+rename keeps the write atomic under
        # foreachBatch replay
        sj = os.path.join(self.state_dir, "keeper_schema.json")
        if not os.path.exists(sj):
            import json

            tmp = sj + ".tmp"
            with open(tmp, "w") as fh:
                json.dump(fresh.drop("text_hash").schema.jsonValue(), fh)
            os.replace(tmp, sj)
        # overwrite (not append) the batch-scoped subdirs: replay-safe
        fresh.drop("text_hash").write.mode("overwrite").parquet(
            os.path.join(self.keepers_path, f"batch={batch_id}")
        )
        fresh.select("text_hash").write.mode("overwrite").parquet(
            os.path.join(self.seen_path, f"batch={batch_id}")
        )
        cc._free(fresh)

    def keepers(self) -> DataFrame:
        dirs = self._committed_batch_dirs(self.keepers_path)
        if not dirs:
            # no batch committed yet (or every dir is torn): an empty frame
            # with the keeper schema, mirroring _seen()'s empty case —
            # spark.read.parquet() with zero paths raises AnalysisException
            sj = os.path.join(self.state_dir, "keeper_schema.json")
            if os.path.exists(sj):
                import json

                from pyspark.sql.types import StructType

                with open(sj) as fh:
                    return local_frame(
                        self.spark, StructType.fromJson(json.load(fh))
                    )
            if self.schema is not None:
                return local_frame(self.spark, self.schema)
            return local_frame(self.spark, "url string, text string")
        return self.spark.read.parquet(*dirs)


def run_incremental_exact_dedup(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    schema,
    checkpoint_dir: Optional[str] = None,
):
    """readStream(parquet dir) → foreachBatch(IncrementalExactDedup).
    Returns the StreamingQuery (caller drives with processAllAvailable or
    awaitTermination)."""
    handler = IncrementalExactDedup(spark, state_dir, schema=schema)
    stream = spark.readStream.schema(schema).parquet(source_dir)
    q = (
        stream.writeStream.foreachBatch(handler.process_batch)
        .option(
            "checkpointLocation",
            checkpoint_dir or os.path.join(state_dir, "_checkpoint"),
        )
        .trigger(availableNow=True)
        .start()
    )
    return q, handler
