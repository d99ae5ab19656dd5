"""Spans around the engine's public calls, and Spark's own counters.

``Tracer`` keeps spans (name, start, end, parent, run id) in memory; the
workloads wrap every public engine call in one.  Spans are always
recorded, because the end-to-end timings are read from them, but the
Spark-side counters are collected only in a traced run:

- the event log (jobs, tasks, shuffle, spill, GC, and the SQL metrics
  of every executed plan: scan files/bytes/time, Python UDF bytes and
  time), attributed to spans by wall-clock window — the workloads are
  single-client, so every job submitted inside a span belongs to it;
- ``QueryExecution.tracker()`` phase times of each collected frame;
- ``CodegenMetrics`` compile count and time, read at window edges;
- Python UDF worker processes, counted by polling ``/proc``.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        if parent is None and stack:
            parent = stack[-1]
        rec = {
            "name": name, "parent": parent, "run": self.run_id,
            "wall": time.time(), "start": time.perf_counter(), "end": None,
            **attrs,
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def closed(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"] is not None]

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.closed(name)]

    def self_times(self) -> dict[str, tuple[int, float, float]]:
        """Per span name: (count, total seconds, self seconds).  Self time
        is the span's duration minus the union of its children's."""
        kids: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                kids[s["parent"]].append(s)
        out: dict[str, list] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            covered = _union([(k["start"], k["end"]) for k in kids[s["id"]]],
                             s["start"], s["end"])
            row = out.setdefault(s["name"], [0, 0.0, 0.0])
            row[0] += 1
            row[1] += s["end"] - s["start"]
            row[2] += s["end"] - s["start"] - covered
        return {k: tuple(v) for k, v in out.items()}


def _union(intervals, lo: float, hi: float) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile ``p`` (0-100) of ``values``."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def tail(values: list[float]) -> tuple[float, str]:
    """The highest ladder percentile with at least ten samples beyond
    it, and its label.  Under 20 samples no percentile qualifies; the
    figure is then p75, which one outlying sample cannot set on its own
    (the maximum of a handful of samples swung by a quarter from run to
    run)."""
    n = len(values)
    ok = [p for p in TAIL_LADDER if round(n * (100.0 - p) / 100.0, 6) >= 10]
    if not ok:
        return percentile(values, 75.0), f"p75 of n={n}, under 20 samples"
    return percentile(values, ok[-1]), f"p{ok[-1]:g} of n={n}"


# ---------------------------------------------------------------------------
# Counters read through the JVM gateway (traced runs only).
# ---------------------------------------------------------------------------

def codegen_counters(spark) -> tuple[int, float]:
    """(classes compiled, seconds compiling) so far in this JVM, from
    Spark's ``CodegenMetrics`` histograms (compile time is in ms; the
    histogram keeps a sample, so time is count x mean)."""
    cm = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    h = cm.METRIC_COMPILATION_TIME()
    n = int(h.getCount())
    return n, n * float(h.getSnapshot().getMean()) / 1000.0


def plan_phases_ms(df) -> dict[str, float]:
    """Catalyst phase durations of a frame that has been executed."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


WORKER_POLL_S = 0.05


class WorkerCounter:
    """Counts Python worker processes forked under the JVM by polling
    ``/proc`` every ``WORKER_POLL_S`` seconds until stopped."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._poll, daemon=True)

    def start(self) -> "WorkerCounter":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=5)
        return len(self.seen)

    def _poll(self):
        while not self._stop.is_set():
            parents = process_parents()
            daemons = {p for p, pp in parents.items() if pp == self.jvm_pid}
            self.seen.update(p for p, pp in parents.items() if pp in daemons)
            self._stop.wait(WORKER_POLL_S)


def process_parents() -> dict[int, int]:
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        out[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def peak_rss_mb(*pids: int) -> float:
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


# ---------------------------------------------------------------------------
# Event log.
# ---------------------------------------------------------------------------

SCAN_METRICS = {
    "number of files read": "files_read",
    "size of files read": "bytes_read",
    "scan time": "scan_ms",
}
PYTHON_METRICS = {
    "data sent to Python workers": "py_sent",
    "data returned from Python workers": "py_recv",
    "time to run Python workers": "py_run",
}


class EventLog:
    """Jobs, task metrics and SQL metrics from Spark's event log files,
    queryable by wall-clock window."""

    def __init__(self, log_dir: str):
        self.jobs: list[dict] = []
        for entry in sorted(glob.glob(os.path.join(log_dir, "*"))):
            # Spark 4 writes one directory of rolled ``events_<n>_*`` files
            # per application; older layouts write one file.
            if os.path.isdir(entry):
                parts = glob.glob(os.path.join(entry, "events_*"))
                self._load(sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1])))
            else:
                self._load([entry])

    def _load(self, paths: list[str]):
        jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        exec_jobs: dict[int, list[int]] = defaultdict(list)
        metric_kind: dict[int, str] = {}
        metric_type: dict[int, str] = {}
        driver_vals: dict[int, dict[int, float]] = defaultdict(dict)
        for line in _lines(paths):
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = {
                    "start": ev["Submission Time"] / 1000.0, "end": None,
                    "tasks": 0, "run_ms": 0, "gc_ms": 0, "shuffle_read": 0,
                    "shuffle_write": 0, "spill": 0, "sql": defaultdict(float),
                }
                jobs[ev["Job ID"]] = job
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = ev["Job ID"]
                eid = props.get("spark.sql.execution.id")
                if eid is not None:
                    exec_jobs[int(eid)].append(ev["Job ID"])
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev.get("Stage ID")))
                m = ev.get("Task Metrics")
                if job is None or not m:
                    continue
                job["tasks"] += 1
                job["run_ms"] += m.get("Executor Run Time", 0)
                job["gc_ms"] += m.get("JVM GC Time", 0)
                sr = m.get("Shuffle Read Metrics", {})
                job["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                job["shuffle_write"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                job["spill"] += m.get("Disk Bytes Spilled", 0) + m.get("Memory Bytes Spilled", 0)
                for acc in ev.get("Task Info", {}).get("Accumulables", []):
                    k = metric_kind.get(acc.get("ID"))
                    if k is not None:
                        job["sql"][k] += _ms(float(acc.get("Update", 0) or 0), metric_type[acc["ID"]])
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"):
                _plan_metrics(ev.get("sparkPlanInfo") or {}, metric_kind, metric_type)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for acc_id, value in ev.get("accumUpdates", []):
                    if acc_id in metric_kind:
                        driver_vals[ev["executionId"]][acc_id] = float(value)
        for eid, vals in driver_vals.items():
            owners = exec_jobs.get(eid)
            if not owners or owners[0] not in jobs:
                continue
            for acc_id, v in vals.items():
                jobs[owners[0]]["sql"][metric_kind[acc_id]] += _ms(v, metric_type[acc_id])
        for job in jobs.values():
            if job["end"] is None:
                job["end"] = job["start"]
            self.jobs.append(job)

    def window(self, wall_start: float, wall_end: float) -> dict[str, float]:
        """Totals over the jobs submitted inside [wall_start, wall_end],
        plus the part of the window no job was running (driver gap)."""
        sel = [j for j in self.jobs if wall_start <= j["start"] <= wall_end]
        busy = _union([(j["start"], j["end"]) for j in sel], wall_start, wall_end)
        out = {
            "jobs": len(sel),
            "tasks": sum(j["tasks"] for j in sel),
            "driver_gap_s": max(0.0, (wall_end - wall_start) - busy),
            "task_run_s": sum(j["run_ms"] for j in sel) / 1000.0,
            "gc_s": sum(j["gc_ms"] for j in sel) / 1000.0,
            "shuffle_read_bytes": sum(j["shuffle_read"] for j in sel),
            "shuffle_write_bytes": sum(j["shuffle_write"] for j in sel),
            "spill_bytes": sum(j["spill"] for j in sel),
        }
        for k in (*SCAN_METRICS.values(), *PYTHON_METRICS.values()):
            out[k] = sum(j["sql"].get(k, 0.0) for j in sel)
        return out


def _lines(paths: list[str]):
    for path in paths:
        with open(path) as f:
            yield from f


def _plan_metrics(node: dict, kind: dict, mtype: dict):
    for m in node.get("metrics", []):
        k = SCAN_METRICS.get(m.get("name")) or PYTHON_METRICS.get(m.get("name"))
        if k is not None:
            kind[m["accumulatorId"]] = k
            mtype[m["accumulatorId"]] = m.get("metricType", "sum")
    for child in node.get("children", []):
        _plan_metrics(child, kind, mtype)


def _ms(value: float, metric_type: str) -> float:
    """Normalise SQL timing metrics to ms (``nsTiming`` is in ns)."""
    return value / 1e6 if metric_type == "nsTiming" else value
