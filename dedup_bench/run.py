"""Run one workload of the dedup benchmark and print its metrics.

    python3 dedup_bench/run.py --workload checkpoint_resume --seed 1 \
        --seconds 1 --trace 0

Run from the root of a checkout: the program package is imported from
the directory above this one. The last line of standard output is one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``;
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones. Everything the run writes goes under ``.bench_work/`` in the
checkout. See NOTES.md for what each metric and workload means.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

from probes import EventLog, PeakRss, ProcTree, Tracer, drain_listener_bus

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# (name, unit, better)
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("wall_s", "s", "lower"),
    ("rows_per_s", "1/s", "higher"),
    ("cpu_s", "s", "lower"),
    ("shuffle_write_mb", "MB", "lower"),
    ("jobs", "count", "lower"),
    ("peak_rss_mb", "MB", "lower"),
]

LAYERS = ["exact", "featurize", "lsh", "verify", "cluster",
          "connected_components", "checkpoint", "stateful", "pipeline"]
LAYER_KEYS = [("wall_s", "s"), ("cpu_s", "s"), ("jvm_cpu_s", "s"),
              ("shuffle_read_mb", "MB"), ("shuffle_write_mb", "MB"),
              ("spill_mb", "MB"), ("tasks", "count"), ("jobs", "count"),
              ("rows_in", "count"), ("rows_out", "count")]
LAYER_EXTRA = [
    ("featurize.docs_per_cpu_s", "1/s", "higher"),
    ("lsh.candidate_pairs", "count", "lower"),
    ("lsh.max_bucket", "count", "lower"),
    ("lsh.capped_band_rows", "count", "lower"),
    ("verify.yield", "ratio", "higher"),
    ("connected_components.rounds", "count", "lower"),
    ("connected_components.round_wall_s", "s", "lower"),
    ("connected_components.changed_labels", "count", "lower"),
    ("checkpoint.commit_s", "s", "lower"),
    ("checkpoint.bytes_written_mb", "MB", "lower"),
    ("checkpoint.resume_read_s", "s", "lower"),
    ("checkpoint.resume_s", "s", "lower"),
] + [
    (f"stateful.{d}.{k}", u, "lower")
    for d in ("minhash", "simhash")
    for k, u in (("trigger_ms", "ms"), ("state_rows", "count"),
                 ("state_mem_mb", "MB"), ("edges", "count"))
] + [
    ("trace.wall_s", "s", "lower"),
]
# per-op values printed to standard error
REPORTED = ("fresh_s", "resume_s", "cc_s", "rounds", "fingerprint", "edges")

PER_LAYER = [(f"{l}.{k}", u, "higher" if k == "rows_out" else "lower")
             for l in LAYERS for k, u in LAYER_KEYS] + LAYER_EXTRA


def host_settings() -> dict:
    nproc = len(os.sched_getaffinity(0))
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return {
        "master": f"local[{nproc}]",
        "shuffle_partitions": nproc,
        # a sixth of host RAM, at most 2g (the inputs are small): the
        # session default is 48g
        "driver_mem": f"{max(1, min(2, int(ram_gb // 6)))}g",
        "host_ram_gb": round(ram_gb, 1),
        "python": sys.executable,
    }


def start_session(work: str, st: dict):
    """A fresh session on ``work``: event log, local dirs and temp files
    all stay inside it, and Python workers import the program from ROOT."""
    for d in ("events", "local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_DRIVER_MEM"] = st["driver_mem"]
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    # the JVMs would otherwise keep their perf counters under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    from deduplication_framework_spark.session import get_spark

    return get_spark(
        app_name="dedup_bench",
        master=st["master"],
        shuffle_partitions=st["shuffle_partitions"],
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # a fixed, pre-touched heap: a growing one puts G1's resizing
            # choices, not the program, into peak_rss_mb
            "spark.driver.extraJavaOptions":
                f"-Xms{st['driver_mem']} -XX:+AlwaysPreTouch -XX:-UsePerfData "
                "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark, tree) -> None:
    """Stop Spark, wait for the JVM, then make sure no process it started
    (Python daemon and workers) outlives the run."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            try:
                gateway.proc.wait(timeout=60)
            except Exception:
                gateway.proc.kill()
                gateway.proc.wait(timeout=30)
        deadline = time.time() + 30
        while tree.pids() and time.time() < deadline:
            for pid in tree.pids():
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            time.sleep(0.2)


def median_of(samples, key):
    return statistics.median(s[key] for s in samples)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    # fails fast, before any Spark work, when the program is not in the
    # checkout
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; valid: {sorted(WORKLOADS)}")
    with open(os.path.join(HERE, "expected.json")) as fh:
        expected = json.load(fh)

    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    st = host_settings()
    work = os.path.join(ROOT, ".bench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    tree = ProcTree()
    t0 = time.time()
    spark = start_session(work, st)
    session_s = time.time() - t0
    try:
        wl = WORKLOADS[args.workload](spark, work, args.seed, expected)
        return measure(spark, wl, args, st, work, tree, session_s)
    finally:
        stop_session(spark, tree)
        shutil.rmtree(work, ignore_errors=True)


class Ledger:
    """Counts attempted and failed operations."""

    def __init__(self):
        self.attempted = self.failed = 0

    def run(self, op, check):
        """Run ``op()`` and ``check(result)``; return the result, or None
        when the op raised or a check failed (the attempt then counts as
        failed)."""
        self.attempted += 1
        try:
            res = op()
            bad = check(res)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None
        if bad:
            print("check failed: " + "; ".join(bad), file=sys.stderr)
            self.failed += 1
            return None
        return res


def layer_metrics(wl, tr, log, traced, untraced) -> dict:
    res, counters = traced
    layers = tr.layers(log)
    out = {f"{l}.{k}": layers.get(l, {}).get(k, 0.0)
           for l in LAYERS for k, _ in LAYER_KEYS}
    out.update({n: 0.0 for n, _, _ in LAYER_EXTRA})
    out.update(counters)
    out.update(wl.counters(res))
    feat = layers.get("featurize")
    if feat and feat["cpu_s"] > 0:
        out["featurize.docs_per_cpu_s"] = feat["rows_out"] / feat["cpu_s"]
    ck = layers.get("checkpoint", {})
    if ck.get("writes"):
        out["checkpoint.commit_s"] = ck["wall_s"] / ck["writes"]
        out["checkpoint.bytes_written_mb"] = ck["bytes_written_mb"]
    out["checkpoint.resume_read_s"] = layers.get(
        "checkpoint.resume", {}).get("wall_s", 0.0)
    out["checkpoint.resume_s"] = untraced.get("resume_s", 0.0)
    root = next(s for s in tr.spans
                if s["layer"] == "pipeline" and s["parent"] is None)
    out["trace.wall_s"] = root["t1"] - root["t0"]
    return out


def timed(sc, log, tree, fn, s: dict):
    """Run ``fn()``; record its wall time, process-tree CPU and event-log
    totals in ``s``."""
    c0, w0 = tree.sample(), time.time()
    res = fn()
    s["wall_s"] = time.time() - w0
    s["cpu_s"] = tree.sample()["cpu_s"] - c0["cpu_s"]
    drain_listener_bus(sc, log)
    s.update(log.totals(log.in_window(w0, w0 + s["wall_s"])))
    return res


def measure(spark, wl, args, st, work, tree, session_s) -> int:
    sc = spark.sparkContext
    log = EventLog(glob.glob(os.path.join(work, "events", "*"))[0])
    ledger = Ledger()

    prep = []
    for _ in range(3):
        t = time.time()
        wl.prepare()
        prep.append(time.time() - t)
    setup_s = session_s + statistics.median(prep)

    # No warm-up operation: a batch dedup job is one pipeline per session,
    # so its user pays the JVM's first-use costs (JIT, query codegen) on
    # every run, and a warm-up would double the cost of a run.
    samples = []
    with PeakRss(tree) as peak:
        start, i = time.time(), 1
        while time.time() - start < args.seconds:
            drain_listener_bus(sc, log)
            s = {}
            if args.trace:
                # the traced operation takes the place the untraced runs
                # measure; an untraced one follows for the comparison
                # checks and the resume figures
                tr = Tracer(sc, tree)
                traced = ledger.run(lambda: wl.traced(i, tr), lambda _: [])
                res = ledger.run(
                    lambda: wl.op(i, tr),
                    lambda r: wl.check(r) + (
                        wl.check_traced(r, traced[0]) if traced else []))
                if traced is not None and res is not None:
                    drain_listener_bus(sc, log)
                    samples.append(layer_metrics(wl, tr, log, traced, res))
            else:
                res = ledger.run(
                    lambda: timed(sc, log, tree, lambda: wl.op(i), s), wl.check)
                if res is not None:
                    samples.append(s)
            if res is not None:
                print(json.dumps({"op": i, **s, **{
                    k: res[k] for k in REPORTED if k in res}}), file=sys.stderr)
            spark.catalog.clearCache()
            i += 1

    print(json.dumps({"settings": st, "workload": args.workload,
                      "seed": args.seed, "ops": len(samples),
                      "wall_s_all": [round(s.get("wall_s", s.get("trace.wall_s")), 4)
                                     for s in samples],
                      "session_s": session_s, "prepare_s": prep}))
    if not samples:
        print("no operation succeeded", file=sys.stderr)
        return 1
    if args.trace:
        metrics = {n: {"value": median_of(samples, n), "unit": u}
                   for n, u, _ in PER_LAYER}
    else:
        wall = median_of(samples, "wall_s")
        values = {
            "setup_s": setup_s,
            "wall_s": wall,
            "rows_per_s": wl.rows_per_op() / wall,
            "cpu_s": median_of(samples, "cpu_s"),
            "shuffle_write_mb": median_of(samples, "shuffle_write_mb"),
            "jobs": median_of(samples, "jobs"),
            "peak_rss_mb": peak.peak_mb,
        }
        metrics = {n: {"value": values[n], "unit": u} for n, u, _ in END_TO_END}
    print(json.dumps({"correct": ledger.failed == 0,
                      "attempted": ledger.attempted,
                      "failed": ledger.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
