"""tools/anchor.py: the command line rejects what it cannot run before any
Spark session starts, and one real spec run writes a record whose timing
comes from dedup_bench/probes.py's tracer and event-log reader."""

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ANCHOR = os.path.join(ROOT, "tools", "anchor.py")


def _anchor(*args, timeout=60):
    return subprocess.run(
        [sys.executable, ANCHOR, *args], capture_output=True, text=True,
        cwd=ROOT, timeout=timeout,
    )


@pytest.mark.parametrize(
    "args, complaint",
    [
        (["nope", "2", "10"], "unknown spec 'nope'"),
        (["oph", "2", "10", "out.jsonl", "bogus=1"],
         "unknown key 'bogus' for spec oph"),
        (["jvm_pipeline", "2"], "jvm_pipeline needs <cores> <n>"),
    ],
    ids=["spec", "key", "missing-n"],
)
def test_bad_command_line_exits_2_naming_valid_choices(args, complaint):
    r = _anchor(*args)
    assert r.returncode == 2, r.stderr
    assert complaint in r.stderr
    assert "specs: once, jvm_pipeline, oph," in r.stderr
    assert "oph: num_perm=256 families=kr32,oph" in r.stderr
    assert "lshensemble: mode=small|big" in r.stderr
    assert "cc: graph=chains|spath|stree|cliques seed=1" in r.stderr
    assert r.stdout == ""


def test_jvm_pipeline_spec_writes_traced_record(tmp_path):
    runs = tmp_path / "runs.jsonl"
    r = _anchor("jvm_pipeline", "2", "1000", str(runs), timeout=900)
    assert r.returncode == 0, r.stderr[-4000:]
    (line,) = runs.read_text().splitlines()
    rec = json.loads(line)
    assert rec["spec"] == "jvm_pipeline" and rec["n"] == 1000
    assert rec["recall"] == 1.0
    assert rec["planted_pairs"] == 20
    assert rec["n_clusters"] == 980
    assert rec["n_tasks"] > 0
    assert rec["phases"]["pipeline"]["exec_cpu_s"] > 0
    assert rec["busy_core_sec"] > 0 and rec["sec"] > 0
