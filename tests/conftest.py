import os

import pytest

from deduplication_framework_spark.session import get_spark
from deduplication_framework_spark.sources.pages import generate_pages

# one Spark JVM serves the whole suite: under the engine's 48g default heap
# it can outgrow a small host's RAM and be killed mid-run, failing every
# later Spark test. The suite fits in 6g; an explicit SPARK_DRIVER_MEM wins.
os.environ.setdefault("SPARK_DRIVER_MEM", "6g")

N_DOCS = 600
SEED = 42


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[8]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def pages(spark, tmp_path_factory):
    """Deterministic 600-doc corpus with planted duplicate classes, cached to
    parquet once per test session (pipeline tests re-read it cheaply)."""
    path = str(tmp_path_factory.mktemp("data") / "pages")
    generate_pages(spark, N_DOCS, seed=SEED, with_truth=True, num_partitions=8)\
        .write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


@pytest.fixture(scope="session")
def texts(pages):
    """Texts in doc_order — the oracle's input ordering."""
    rows = pages.select("doc_order", "text", "dup_class").orderBy("doc_order").collect()
    assert [r.doc_order for r in rows] == list(range(len(rows)))
    return [r.text for r in rows], [r.dup_class for r in rows]
