"""spark-submit --py-files scaling anchor — the north rule's ship shape
measured AT TWO CLUSTER SIZES: the packaged CLI pipeline (zip-only
package resolution enforced by tools/submit_smoke.py) run under real
``spark-submit --master local[2]`` and ``local[8]`` over the SAME
pre-written parquet corpus, reporting throughput at both plus the
N→4N scaling efficiency. The in-process anchors (tools/anchor.py
jvm_pipeline, bench --scaling) measure the same criterion without the
submit wire; this one removes the last gap between the evidence and
the rule's wording ("run via spark-submit --py-files ... at two cluster
sizes").

The corpus (sources/pages.py generate_pages — deterministic from the
row index) is synthesized ONCE, in-process, to parquet, and every leg
reads it with ``--input``: synthesis is genuinely outside the timed
window (``--synthetic`` would lazily materialize the generator INSIDE
run_pipeline's elapsed_sec — embarrassingly-parallel Python that would
flatter the efficiency number). Per-leg record: the CLI summary's
``elapsed_sec`` (run_pipeline + keeper/cluster/edge sink writes; JVM
startup and the recall oracle also sit outside) + whole-app event-log
task CPU/run seconds (scheduler-truth secondary signal), read with the
benchmark's ``dedup_bench/probes.py::EventLog``.

Hard assertions:
  * one recall leg (local[8], small corpus, ``--eval-recall``):
    pipeline dup-pair recall vs the capped-space J>=0.95 oracle >= 0.99
    (BASELINE.json's criterion, on the real submit wire);
  * keepers count IDENTICAL across every leg and rep — the answer must
    not depend on the parallelism level;
  * per interleaved pair: efficiency = wall2 / (4 * wall8).

Usage: python tools/scale_submit.py [n_docs] [pairs] [runs_file]
Defaults: 100000 docs, 2 interleaved (2,8) pairs, appends to
BENCH/scale_submit_runs.jsonl. hash_family=kr32 via a temp --config
yaml (the per-core-throughput family; the jvm family's submit behavior
is covered by the in-process anchor + test_cli).
"""

import glob
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# BLAS pinning before any Spark/numpy touch (round-4 lesson)
for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

from dedup_bench.probes import EventLog  # noqa: E402

SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
RECALL_DOCS = 3000  # the J>=0.95 oracle is all-pairs driver Python


def write_corpora(n_docs: int, base: str) -> dict:
    """Synthesize the leg corpora ONCE to parquet (untimed, in-process)."""
    from deduplication_framework_spark.session import get_spark
    from deduplication_framework_spark.sources.pages import generate_pages

    spark = get_spark(app_name="scale-submit-corpus", master="local[8]",
                      shuffle_partitions=8)
    paths = {}
    for n in sorted({n_docs, RECALL_DOCS}):
        p = os.path.join(base, f"corpus_{n}")
        generate_pages(spark, n).write.mode("overwrite").parquet(p)
        paths[n] = p
    spark.stop()
    return paths


def run_leg(cores: int, n_docs: int, input_path: str, cfg_yaml: str,
            zip_path: str, eval_recall: bool = False) -> dict:
    tmp = tempfile.mkdtemp(prefix=f"scale-submit-{cores}-")
    try:
        evdir = os.path.join(tmp, "events")
        os.makedirs(evdir)
        env = dict(
            os.environ,
            SPARK_GRAFT_CPUS=str(cores),
            SPARK_DRIVER_MEM="8g",
        )
        cmd = [
            SUBMIT,
            "--master", f"local[{cores}]",
            "--driver-memory", "8g",
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{evdir}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
            "--py-files", zip_path,
            os.path.join(ROOT, "tools", "submit_smoke.py"),
            "--input", input_path,
            "--output", os.path.join(tmp, "out"),
            "--detectors", "exact,minhash",
            "--config", cfg_yaml,
        ]
        if eval_recall:
            cmd.append("--eval-recall")
        t0 = time.time()
        r = subprocess.run(cmd, capture_output=True, text=True,
                           timeout=1800, env=env, cwd=ROOT)
        wall_total = time.time() - t0
        if r.returncode != 0:
            raise RuntimeError(
                f"submit leg local[{cores}] failed:\n{r.stderr[-4000:]}"
            )
        summary = json.loads(r.stdout.strip().splitlines()[-1])
        log = EventLog(glob.glob(os.path.join(evdir, "*"))[0])
        log.poll()
        app = log.totals(log.jobs)
        return {
            "cores": cores,
            "n_docs": n_docs,
            "pipeline_sec": summary["elapsed_sec"],
            "docs_per_sec": round(n_docs / summary["elapsed_sec"], 1),
            "submit_wall_sec": round(wall_total, 1),
            "keepers": summary["keepers"],
            "cc_rounds": summary["cc_rounds"],
            "app_task_cpu_sec": round(app["exec_cpu_s"], 1),
            "app_task_run_sec": round(app["exec_run_s"], 1),
            "n_tasks": int(app["tasks"]),
            "metrics": {
                k: v for k, v in summary["metrics"].items() if "recall" in k
            },
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main():
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    pairs = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    out = (
        sys.argv[3]
        if len(sys.argv) > 3
        else os.path.join(ROOT, "BENCH", "scale_submit_runs.jsonl")
    )

    # fresh zip, always (test_package freshness lesson)
    subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "make_package.py")],
        check=True, cwd=ROOT,
    )
    zip_path = os.path.join(ROOT, "dist", "deduplication_framework_spark.zip")

    base = tempfile.mkdtemp(prefix="scale-submit-shared-")
    try:
        cfg_yaml = os.path.join(base, "cfg.yaml")
        with open(cfg_yaml, "w") as fh:
            fh.write("dedup:\n  hash_family: kr32\n")
        corpora = write_corpora(n_docs, base)

        # ---- recall leg: the >=0.99 criterion on the real submit wire ----
        recall_leg = run_leg(8, RECALL_DOCS, corpora[RECALL_DOCS],
                             cfg_yaml, zip_path, eval_recall=True)
        rkey = [k for k in recall_leg["metrics"]
                if k.startswith("minhash.recall")]
        assert rkey, f"no recall metric in summary: {recall_leg}"
        recall = recall_leg["metrics"][rkey[0]]
        assert recall >= 0.99, (
            f"submit-wire recall {recall} < 0.99: {recall_leg}"
        )

        # ---- interleaved scaling legs ----
        legs = []
        for _ in range(pairs):
            for cores in (2, 8):
                leg = run_leg(cores, n_docs, corpora[n_docs],
                              cfg_yaml, zip_path)
                legs.append(leg)
                print(json.dumps(leg))
        keeper_counts = {leg["keepers"] for leg in legs}
        assert len(keeper_counts) == 1, (
            f"keepers differ across parallelism levels: {keeper_counts}"
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)

    best = {
        c: min(leg["pipeline_sec"] for leg in legs if leg["cores"] == c)
        for c in (2, 8)
    }
    eff_pairs = [
        round(
            legs[2 * i]["pipeline_sec"]
            / (4 * legs[2 * i + 1]["pipeline_sec"]),
            3,
        )
        for i in range(pairs)
    ]
    rec = {
        "anchor": "spark_submit_pipeline",
        "n_docs": n_docs,
        "hash_family": "kr32",
        "corpus": "pre-written parquet (synthesis outside the timed window)",
        "recall_leg": recall_leg,
        "legs": legs,
        "best_wall": best,
        "best_docs_per_sec": {c: round(n_docs / s, 1) for c, s in best.items()},
        "efficiency_2_to_8_per_pair": eff_pairs,
        "efficiency_2_to_8_best": round(best[2] / (4 * best[8]), 3),
    }
    print(json.dumps(rec))
    with open(out, "a") as f:
        f.write(json.dumps(rec) + "\n")


if __name__ == "__main__":
    main()
