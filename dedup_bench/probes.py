"""Measurement probes for the dedup benchmark: process-tree CPU and memory
from ``/proc``, Spark event-log task metrics grouped by job group or time
window, and a span tracer that ties the two to the benchmark's layers.

Nothing here imports Spark; the tracer only calls ``setJobGroup`` on the
SparkContext it is given.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from typing import Dict, List, Optional

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> Optional[List[str]]:
    """Fields of /proc/<pid>/stat after the command name, or None if the
    process is gone. Index 0 is the state, 1 the parent pid."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2:].split()


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


class ProcTree:
    """CPU-seconds and resident memory of every descendant of ``root``
    (default: this process), not counting ``root`` itself.

    CPU is utime+stime plus the cutime+cstime of reaped children, so work
    done by a Python worker that exited between two samples is still
    counted once. ``jvm_cpu_s`` counts only processes named ``java``."""

    def __init__(self, root: Optional[int] = None):
        self.root = root or os.getpid()

    def _descendants(self) -> Dict[int, List[str]]:
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    stats[int(name)] = st
        children: Dict[int, List[int]] = {}
        for pid, st in stats.items():
            children.setdefault(int(st[1]), []).append(pid)
        out, todo = {}, list(children.get(self.root, []))
        while todo:
            pid = todo.pop()
            out[pid] = stats[pid]
            todo.extend(children.get(pid, []))
        return out

    def pids(self) -> List[int]:
        return sorted(self._descendants())

    def sample(self) -> Dict[str, float]:
        """{"cpu_s", "jvm_cpu_s", "rss_mb"} summed over the tree now."""
        cpu = jvm = rss = 0.0
        procs = self._descendants()
        comm = {pid: _comm(pid) for pid in procs}
        for pid, st in procs.items():
            # fields 11-14 of the remainder: utime stime cutime cstime
            c = sum(int(x) for x in st[11:15]) / _TICK
            cpu += c
            if comm[pid] == "java":
                jvm += c
            # a child of the JVM with the JVM's code and stack addresses
            # (fields 23-25: startcode endcode startstack) is a spawn in
            # progress (vfork) that shares the JVM's memory, whose RSS
            # would count twice
            ppid = int(st[1])
            if comm.get(ppid) == "java" and st[23:26] == procs[ppid][23:26]:
                continue
            rss += int(st[21]) * _PAGE
        return {"cpu_s": cpu, "jvm_cpu_s": jvm, "rss_mb": rss / 2**20}


class PeakRss:
    """Background sampler of the tree's peak resident memory."""

    def __init__(self, tree: ProcTree, interval_s: float = 0.2):
        self.tree, self.interval_s = tree, interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, self.tree.sample()["rss_mb"])
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


_TASK_KEYS = ("exec_cpu_s", "exec_run_s", "shuffle_read_mb",
              "shuffle_write_mb", "spill_mb", "tasks")


class EventLog:
    """Incremental reader of one Spark JSON event log.

    ``poll()`` consumes the lines appended since the last call. Jobs are
    keyed by id with their job group (``spark.jobGroup.id``), submission
    and completion times in epoch ms; tasks are summed per job through the
    job's stage ids."""

    def __init__(self, path: str):
        self.path = path
        self._offset = 0
        self.jobs: Dict[int, dict] = {}
        self._stage_job: Dict[int, int] = {}

    def poll(self) -> None:
        with open(self.path, "rb") as fh:
            fh.seek(self._offset)
            data = fh.read()
        end = data.rfind(b"\n") + 1
        self._offset += end
        for line in data[:end].splitlines():
            if line.strip():
                self._event(json.loads(line))

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = {"group": props.get("spark.jobGroup.id"),
                   "start_ms": ev["Submission Time"], "end_ms": None}
            job.update({k: 0.0 for k in _TASK_KEYS})
            self.jobs[ev["Job ID"]] = job
            for sid in ev.get("Stage IDs", []):
                self._stage_job.setdefault(sid, ev["Job ID"])
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get(ev["Job ID"])
            if job is not None:
                job["end_ms"] = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            job = self.jobs.get(self._stage_job.get(ev["Stage ID"]))
            m = ev.get("Task Metrics")
            if job is None or not m:
                return
            sr = m.get("Shuffle Read Metrics", {})
            sw = m.get("Shuffle Write Metrics", {})
            job["exec_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            job["exec_run_s"] += m.get("Executor Run Time", 0) / 1e3
            job["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                       + sr.get("Local Bytes Read", 0)) / 2**20
            job["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
            job["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                                + m.get("Disk Bytes Spilled", 0)) / 2**20
            job["tasks"] += 1

    def open_jobs(self) -> int:
        return sum(1 for j in self.jobs.values() if j["end_ms"] is None)

    def totals(self, job_ids) -> Dict[str, float]:
        out = {k: 0.0 for k in _TASK_KEYS}
        out["jobs"] = 0.0
        for jid in job_ids:
            for k in _TASK_KEYS:
                out[k] += self.jobs[jid][k]
            out["jobs"] += 1
        return out

    def in_window(self, t0: float, t1: float) -> List[int]:
        """Jobs submitted within [t0, t1] (epoch seconds)."""
        return [jid for jid, j in self.jobs.items()
                if t0 * 1e3 <= j["start_ms"] <= t1 * 1e3]


def drain_listener_bus(sc, log: EventLog, timeout_s: float = 30.0) -> None:
    """Wait until Spark has logged every event posted so far, then read
    them. A JobEnd event flushes the event log, so once no job is open the
    file holds every task of the finished jobs."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    deadline = time.time() + timeout_s
    log.poll()
    while log.open_jobs() and time.time() < deadline:
        time.sleep(0.05)
        log.poll()


class Tracer:
    """Spans around the benchmark's calls into each layer.

    A span records wall time and the process tree's CPU, sets the Spark
    job group to its name while open, and keeps caller-supplied counts.
    Spans nest; a layer's self time is its spans' time minus their child
    spans'. Each thread keeps its own span stack. Spark task metrics are
    assigned to the span named by a job's group or, for jobs that carry
    none (streaming and other Spark-owned threads), to the innermost span
    whose window contains the job's submission time."""

    def __init__(self, sc, tree: ProcTree):
        self.sc, self.tree = sc, tree
        self.spans: List[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, layer: str, **counts):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        s = {"layer": layer, "parent": parent, "counts": dict(counts),
             "children": []}
        with self._lock:
            s["id"] = len(self.spans)
            self.spans.append(s)
            if parent is not None:
                parent["children"].append(s)
        stack.append(s)
        self.sc.setJobGroup(f"{layer}#{s['id']}", layer)
        c0 = self.tree.sample()
        s["t0"] = time.time()
        try:
            yield s["counts"]
        finally:
            s["t1"] = time.time()
            c1 = self.tree.sample()
            s["cpu_s"] = c1["cpu_s"] - c0["cpu_s"]
            s["jvm_cpu_s"] = c1["jvm_cpu_s"] - c0["jvm_cpu_s"]
            stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"{parent['layer']}#{parent['id']}",
                                    parent["layer"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def _owner(self, job: dict) -> Optional[dict]:
        g = job["group"]
        if g and "#" in g:
            sid = int(g.rsplit("#", 1)[1])
            if sid < len(self.spans) and g == f"{self.spans[sid]['layer']}#{sid}":
                return self.spans[sid]
        t = job["start_ms"] / 1e3
        best = None
        for s in self.spans:
            if s["t0"] <= t <= s.get("t1", t) and (
                    best is None or s["t0"] >= best["t0"]):
                best = s
        return best

    def layers(self, log: EventLog) -> Dict[str, Dict[str, float]]:
        """Per-layer self totals: wall_s, cpu_s, jvm_cpu_s, the event-log
        task sums and jobs, plus the summed span counts."""
        out: Dict[str, Dict[str, float]] = {}

        def acc(layer):
            return out.setdefault(layer, {"wall_s": 0.0, "cpu_s": 0.0,
                                          "jvm_cpu_s": 0.0})

        for s in self.spans:
            a = acc(s["layer"])
            for k in ("wall_s", "cpu_s", "jvm_cpu_s"):
                own = (s["t1"] - s["t0"]) if k == "wall_s" else s[k]
                kids = sum((c["t1"] - c["t0"]) if k == "wall_s" else c[k]
                           for c in s["children"])
                a[k] += own - kids
            for k, v in s["counts"].items():
                a[k] = a.get(k, 0.0) + float(v)
        t0 = min(s["t0"] for s in self.spans)
        t1 = max(s["t1"] for s in self.spans)
        for jid in log.in_window(t0, t1):
            s = self._owner(log.jobs[jid])
            if s is None:
                continue
            a = acc(s["layer"])
            for k, v in log.totals([jid]).items():
                a[k] = a.get(k, 0.0) + v
        return out
