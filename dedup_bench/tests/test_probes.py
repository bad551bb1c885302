"""Tests for the benchmark's probes: the /proc CPU sampler, the event-log
reader and the tracer's layer attribution, on toy processes and a toy
Spark job.

    python3 -m pytest dedup_bench/tests -q
"""

import json
import os
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]

from probes import EventLog, ProcTree, Tracer, drain_listener_bus  # noqa: E402

BURN = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.6: pass\n"


def test_proc_tree_counts_an_exited_grandchild():
    """CPU of a worker that exited (and was reaped by its parent) between
    two samples is still counted, through the parent's cutime."""
    tree = ProcTree()
    child = subprocess.Popen(
        [sys.executable, "-c",
         f"import subprocess, sys, time\n"
         f"subprocess.run([sys.executable, '-c', {BURN!r}])\n"
         f"time.sleep(30)\n"])
    try:
        time.sleep(0.3)
        before = tree.sample()["cpu_s"]
        deadline = time.time() + 20
        while time.time() < deadline and len(tree.pids()) > 1:
            time.sleep(0.1)
        assert tree.pids() == [child.pid], "grandchild did not exit"
        assert tree.sample()["cpu_s"] - before >= 0.4
    finally:
        child.kill()
        child.wait(timeout=10)
    assert tree.pids() == []


def test_event_log_reads_only_complete_lines(tmp_path):
    path = tmp_path / "events"
    start = {"Event": "SparkListenerJobStart", "Job ID": 0,
             "Submission Time": 1000, "Stage IDs": [0],
             "Properties": {"spark.jobGroup.id": "lsh#3"}}
    task = {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
        "Executor CPU Time": 2e9, "Executor Run Time": 3000,
        "Memory Bytes Spilled": 2**20, "Disk Bytes Spilled": 0,
        "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                 "Local Bytes Read": 2**20},
        "Shuffle Write Metrics": {"Shuffle Bytes Written": 2 * 2**20}}}
    end = {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2000}
    text = "\n".join(json.dumps(e) for e in (start, task, end))
    path.write_text(text[:-5])
    log = EventLog(str(path))
    log.poll()
    assert log.open_jobs() == 1
    with open(path, "a") as fh:
        fh.write(text[-5:] + "\n")
    log.poll()
    assert log.open_jobs() == 0
    assert log.jobs[0]["group"] == "lsh#3"
    assert log.in_window(0.5, 1.5) == [0] and log.in_window(1.5, 3) == []
    t = log.totals([0])
    assert t == {"exec_cpu_s": 2.0, "exec_run_s": 3.0, "shuffle_read_mb": 1.0,
                 "shuffle_write_mb": 2.0, "spill_mb": 1.0, "tasks": 1.0,
                 "jobs": 1.0}


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    pyspark = pytest.importorskip("pyspark")
    events = tmp_path_factory.mktemp("events")
    spark = (pyspark.sql.SparkSession.builder.master("local[2]")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.shuffle.partitions", "2")
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", f"file://{events}")
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false")
             .getOrCreate())
    yield spark, str(events)
    spark.stop()


def test_tracer_attributes_toy_jobs_and_python_worker_cpu(spark):
    """Jobs land in the span that ran them, shuffle bytes come from the
    event log, and tree CPU includes Python worker time that the
    executor's own CPU time leaves out."""
    import pandas as pd
    from pyspark.sql import functions as F

    spark, events = spark
    sc = spark.sparkContext
    log = EventLog(os.path.join(events, os.listdir(events)[0]))

    @F.pandas_udf("double")
    def burn(x: pd.Series) -> pd.Series:
        t = time.process_time()
        while time.process_time() - t < 0.5:
            pass
        return x * 2.0

    tr = Tracer(sc, ProcTree())
    with tr.span("pipeline"):
        with tr.span("shuffle", rows_in=1000) as c:
            c["rows_out"] = spark.range(1000).groupBy(
                (F.col("id") % 7).alias("k")).count().count()
        with tr.span("udf"):
            spark.range(100).repartition(2).select(burn("id")).collect()
    drain_listener_bus(sc, log)
    layers = tr.layers(log)
    assert layers["shuffle"]["jobs"] >= 1
    assert layers["shuffle"]["shuffle_write_mb"] > 0
    assert layers["shuffle"]["rows_in"] == 1000
    assert layers["shuffle"]["rows_out"] == 7
    assert layers["udf"]["jobs"] >= 1
    # two partitions each burn 0.5 s in a Python worker
    assert layers["udf"]["cpu_s"] - layers["udf"]["jvm_cpu_s"] >= 0.8
    assert layers["udf"]["exec_cpu_s"] < layers["udf"]["cpu_s"]
    assert layers["pipeline"].get("jobs", 0) == 0
    total = tr.spans[0]["t1"] - tr.spans[0]["t0"]
    assert sum(l["wall_s"] for l in layers.values()) == pytest.approx(total)


def test_benchmark_json_names_every_metric_and_workload():
    import run
    from workloads import WORKLOADS

    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]] == \
        run.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == \
        run.PER_LAYER
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(WORKLOADS)
