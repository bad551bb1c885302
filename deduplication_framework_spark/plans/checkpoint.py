"""Checkpointing table store: atomic commits, config-hash resume, lineage +
row-count metrics per stage (north_rule).

Production target is Iceberg (atomic snapshot commits, table properties for
the config hash); this sandbox image ships no Iceberg jars, so the default
backend provides the same *contract* over parquet directories:

* atomic commit: write to ``<name>.tmp-<nonce>`` then ``os.rename`` into
  place (rename is atomic on a posix filesystem);
* resume key: sha256 config hash stored in ``_commit.json`` next to the data
  (Iceberg: a table property) — reference analog
  ``/root/reference/pipelines/stage_utils.py:15-17`` +
  ``orchestrator.py:65-83`` (``_SUCCESS`` + config-hash skip);
* lineage + metrics: ``_commit.json`` records upstream stage names, row
  count, per-part-file row counts (read from the written files' parquet
  footers on the driver, empty files dropped), and detector-specific
  counters (bucket / collision stats) — the ``_metrics`` surface
  (SURVEY.md A2/A3);
* schema: ``_commit.json`` also records the frame's schema JSON, so the
  post-write re-read and every resumed ``read()`` skip parquet schema
  inference. A commit the store wrote before the schema was recorded has
  no ``schema`` key; it still loads and those reads fall back to
  inference, so older checkpoint dirs stay resumable.

A parquet commit therefore submits only the jobs of its own ``df.write``,
and reading a committed stage submits none.

Swap ``catalog="iceberg"`` on a real cluster: ``IcebergStore`` uses
``df.writeTo(...).createOrReplace()`` + table properties (gated behind
import-try; raises here).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field
from typing import Dict, List, Optional

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from deduplication_framework_spark.session import local_frame


@dataclass
class StageCommit:
    stage: str
    config_hash: str
    rows: int
    partitions: int
    partition_rows: List[int]
    lineage: List[str]
    metrics: Dict[str, float]
    committed_at: float = field(default_factory=time.time)
    schema: str = ""  # StructType JSON; "" = not recorded (older commits)

    def to_json(self) -> str:
        return json.dumps(self.__dict__, sort_keys=True)


# metrics_df's columns: a StageCommit's fields (less its schema) in name
# order, the two dict/list fields as JSON text
_ROLLUP_SCHEMA = (
    "committed_at double, config_hash string, lineage array<string>, "
    "metrics string, partition_rows string, partitions long, rows long, "
    "stage string"
)


def _stage_commit(
    name: str,
    config_hash: str,
    part_rows: List[int],
    lineage: Optional[List[str]],
    metrics: Optional[Dict[str, float]],
    schema: str = "",
) -> StageCommit:
    """The StageCommit record over a per-partition row census — shared by
    both store backends (the 'per-partition lineage + row-count metrics'
    the north rule asks for)."""
    return StageCommit(
        stage=name,
        config_hash=config_hash,
        rows=int(sum(part_rows)),
        partitions=len(part_rows),
        partition_rows=[int(x) for x in part_rows],
        lineage=lineage or [],
        metrics={k: float(v) for k, v in (metrics or {}).items()},
        schema=schema,
    )


def _footer_rows(path: str) -> List[int]:
    """Row count of every non-empty part file under a written parquet dir,
    in part order, read from the footers on the driver (no Spark job)."""
    rows = (
        pq.read_metadata(os.path.join(path, f)).num_rows
        for f in sorted(os.listdir(path))
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )
    return [n for n in rows if n]


class ParquetTableStore:
    """Parquet-backed stage store with atomic rename commits."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _commit_path(self, name: str) -> str:
        return os.path.join(self.root, f"{name}._commit.json")

    def read_commit(self, name: str) -> Optional[StageCommit]:
        p = self._commit_path(name)
        if not os.path.exists(p) or not os.path.exists(self._path(name)):
            return None
        # fail closed on a torn/garbage record: "not committed" → recompute,
        # never a raise into the pipeline (commit json writes are
        # temp+os.replace, but the filesystem owes us nothing after a crash)
        try:
            with open(p) as fh:
                return StageCommit(**json.load(fh))
        except (json.JSONDecodeError, TypeError, KeyError, ValueError):
            return None

    def is_valid(self, name: str, config_hash: str) -> bool:
        c = self.read_commit(name)
        return c is not None and c.config_hash == config_hash

    def _load(self, path: str, schema: str) -> DataFrame:
        reader = self.spark.read
        if schema:
            reader = reader.schema(StructType.fromJson(json.loads(schema)))
        return reader.parquet(path)

    def write(
        self,
        df: DataFrame,
        name: str,
        config_hash: str,
        lineage: Optional[List[str]] = None,
        metrics: Optional[Dict[str, float]] = None,
    ) -> DataFrame:
        """Materialize df atomically; returns the re-read (checkpointed) df.

        ``partition_rows`` holds one row count per written part file, read
        from the parquet footers (zero-row files dropped, so an empty frame
        commits ``partitions == 0``) — the 'per-partition lineage +
        row-count metrics' the north rule asks for. The frame's schema is
        recorded in the commit and the re-read uses it, so the only Spark
        jobs a commit submits are the write's own.
        """
        tmp = self._path(f"{name}.tmp-{uuid.uuid4().hex[:8]}")
        final = self._path(name)
        df.write.mode("overwrite").parquet(tmp)
        commit = _stage_commit(
            name, config_hash, _footer_rows(tmp), lineage, metrics,
            schema=df.schema.json(),
        )
        if os.path.exists(final):
            shutil.rmtree(final)
        os.rename(tmp, final)
        tmp_commit = self._commit_path(name) + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp_commit, "w") as fh:
            fh.write(commit.to_json())
        os.replace(tmp_commit, self._commit_path(name))
        return self._load(final, commit.schema)

    def update_metrics(self, name: str, metrics: Dict[str, float]) -> None:
        """Merge detector/stage metrics into an existing commit record —
        the pipeline records each detector's bucket metrics after its
        edges write, so resumed runs can read them back instead of
        recomputing the banding jobs."""
        c = self.read_commit(name)
        if c is None:
            return
        c.metrics.update({k: float(v) for k, v in metrics.items()})
        tmp = self._commit_path(name) + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            fh.write(c.to_json())
        os.replace(tmp, self._commit_path(name))

    def read(self, name: str) -> DataFrame:
        """The committed stage, read with its recorded schema (no Spark
        job); older commits without one fall back to inference."""
        c = self.read_commit(name)
        return self._load(self._path(name), c.schema if c else "")

    def metrics_df(self) -> DataFrame:
        """All stage commits as a DataFrame — the `_metrics` rollup surface."""
        rows = []
        for f in sorted(os.listdir(self.root)):
            if f.endswith("._commit.json"):
                with open(os.path.join(self.root, f)) as fh:
                    c = json.load(fh)
                rows.append((
                    c["committed_at"], c["config_hash"], c["lineage"],
                    json.dumps(c.get("metrics", {})),
                    json.dumps(c.get("partition_rows", [])),
                    c["partitions"], c["rows"], c["stage"],
                ))
        return local_frame(self.spark, _ROLLUP_SCHEMA, rows)


class IcebergTableStore:
    """Iceberg backend: the full ParquetTableStore contract via atomic
    snapshot commits + table properties. The StageCommit record rides the
    ``dedup.commit`` table property as JSON (createOrReplace is an atomic
    snapshot swap — the Iceberg analog of the parquet store's tmp+rename),
    so ``is_valid``/``read_commit``/``update_metrics`` behave identically
    to the parquet store. Requires a Spark session configured with an
    Iceberg catalog (``spark.sql.catalog.<cat>`` =
    org.apache.iceberg.spark.SparkCatalog); no Iceberg jars ship in this
    sandbox image, so coverage here is the mocked-catalog contract-shape
    test (tests/test_store_commit.py::TestIcebergStoreDryRun)."""

    PROP = "dedup.commit"

    def __init__(self, spark: SparkSession, namespace: str,
                 catalog: str = "spark_catalog"):
        try:
            spark.conf.get(f"spark.sql.catalog.{catalog}")
        except Exception as exc:
            raise RuntimeError(
                "Iceberg catalog not configured; use ParquetTableStore"
            ) from exc
        self.spark = spark
        self.namespace = namespace
        self.catalog = catalog
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {catalog}.{namespace}")

    def _full(self, name: str) -> str:
        return f"{self.catalog}.{self.namespace}.{name}"

    def read_commit(self, name: str) -> Optional[StageCommit]:
        # fail closed like the parquet store: missing table / missing
        # property / garbage JSON all mean "not committed"
        try:
            rows = self.spark.sql(
                f"SHOW TBLPROPERTIES {self._full(name)} ('{self.PROP}')"
            ).collect()
            payload = rows[0]["value"]
            return StageCommit(**json.loads(payload))
        except Exception:
            return None

    def is_valid(self, name: str, config_hash: str) -> bool:
        c = self.read_commit(name)
        return c is not None and c.config_hash == config_hash

    def _set_commit(self, name: str, commit: StageCommit) -> None:
        # Spark SQL string literals process backslash escapes as well as
        # quotes: double the backslashes FIRST (a JSON payload carries them
        # via \uXXXX escapes or quoted metric keys), then the quotes
        payload = commit.to_json().replace("\\", "\\\\").replace("'", "''")
        self.spark.sql(
            f"ALTER TABLE {self._full(name)} "
            f"SET TBLPROPERTIES ('{self.PROP}' = '{payload}')"
        )

    def write(self, df, name, config_hash, lineage=None, metrics=None):
        full = self._full(name)
        df.writeTo(full).using("iceberg").createOrReplace()
        back = self.spark.read.table(full)
        part_rows = [
            r["n"]
            for r in back.groupBy(F.spark_partition_id().alias("p"))
            .agg(F.count("*").alias("n"))
            .collect()
        ]
        self._set_commit(
            name, _stage_commit(name, config_hash, part_rows, lineage, metrics)
        )
        return back

    def update_metrics(self, name: str, metrics: Dict[str, float]) -> None:
        c = self.read_commit(name)
        if c is None:
            return
        c.metrics.update({k: float(v) for k, v in metrics.items()})
        self._set_commit(name, c)

    def read(self, name: str) -> DataFrame:
        return self.spark.read.table(self._full(name))
