"""SparkSession factory with the engine's default tuning, and the one way
the package builds a frame from driver-side rows (``local_frame``)."""

from __future__ import annotations

import os
from typing import Iterable, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def get_spark(
    app_name: str = "deduplication_framework_spark",
    master: str = None,
    shuffle_partitions: int = None,
    extra_conf: dict = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(
    spark: SparkSession, schema: Union[str, StructType], rows: Iterable = ()
) -> DataFrame:
    """A driver-built frame as a ``LocalRelation``: ``rows`` (tuples in
    ``schema`` field order) become one ``pyarrow.Table`` handed to
    ``createDataFrame``.

    The only ``createDataFrame`` call in the package. A list of Python rows
    is a pickled RDD instead: its first action starts a Python daemon plus
    one worker per core just to unpickle the rows, and they stay resident
    for the whole session — an empty list included."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    columns = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, struct)
