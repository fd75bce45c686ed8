"""In-memory spans and Spark-side counters for the traced run.

Spans are recorded only from the benchmark's own files, around calls into
the program's layers. They stay in memory and are written once, at the end
of a run. Counters come from public Spark surfaces: job groups through
``statusTracker``, ``StreamingQueryProgress`` and the uncompressed event
log (task metrics plus the SQL metrics of Python nodes).
"""

from __future__ import annotations

import glob
import json
import math
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

# Physical nodes whose SQL metrics measure the Arrow/Python worker boundary.
PYTHON_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "MapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "AggregateInPandas",
    "WindowInPandas",
    "PythonMapInArrow",
)


class Tracer:
    """Spans: (id, name, parent name, start, end), times in epoch seconds.
    Spans of one query, micro-batch or POST share ``id``; a span's parent
    is the enclosing span open on the same id."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._open: dict[str, list[str]] = defaultdict(list)

    @contextmanager
    def span(self, sid: str, name: str):
        if not self.enabled:
            yield
            return
        stack = self._open[sid]
        parent = stack[-1] if stack else None
        stack.append(name)
        t0 = time.time()
        try:
            yield
        finally:
            stack.pop()
            self.spans.append(
                {"id": sid, "name": name, "parent": parent,
                 "start": t0, "end": time.time()}
            )

    def push(self, sid: str, name: str) -> None:
        """Open a span whose start the caller keeps (see :meth:`pop`)."""
        if self.enabled:
            self._open[sid].append(name)

    def pop(self, sid: str, name: str, start: float) -> None:
        if self.enabled:
            stack = self._open[sid]
            stack.remove(name)
            self.add(sid, name, start, time.time(), stack[-1] if stack else None)

    def add(self, sid: str, name: str, start: float, end: float, parent=None):
        if self.enabled:
            self.spans.append(
                {"id": sid, "name": name, "parent": parent, "start": start, "end": end}
            )

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, dict]:
        """Per span name: count, total and self time (duration minus the
        part covered by its children on the same id)."""
        children: dict[tuple, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                children[(s["id"], s["parent"])] += s["end"] - s["start"]
        out: dict[str, dict] = {}
        for s in self.spans:
            d = s["end"] - s["start"]
            row = out.setdefault(s["name"], {"n": 0, "total_s": 0.0, "self_s": 0.0})
            row["n"] += 1
            row["total_s"] += d
            row["self_s"] += d - children.get((s["id"], s["name"]), 0.0)
        return out

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(
                {"spans": self.spans, "self_times": self.self_times(), **extra},
                fh,
            )


def pct(values, q: float) -> float:
    """Linear-interpolated percentile ``q`` in [0, 100]; 0.0 when empty."""
    xs = sorted(values)
    if not xs:
        return 0.0
    if len(xs) == 1:
        return float(xs[0])
    k = (len(xs) - 1) * q / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return float(xs[lo] + (xs[hi] - xs[lo]) * (k - lo))


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def geomean(values) -> float:
    xs = [v for v in values if v > 0]
    return math.exp(sum(math.log(v) for v in xs) / len(xs)) if xs else 0.0


# ------------------------------------------------------------ event log
def eventlog_conf(root: str) -> dict[str, str]:
    """Session conf for the traced run. ``zstandard`` is not installed, so
    the log is written uncompressed to stay parseable from Python."""
    path = os.path.join(root, "eventlog")
    os.makedirs(path, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + path,
        "spark.eventLog.compress": "false",
    }


def _metric_value(kind: str, v: float) -> float:
    if kind == "nsTiming":
        return v / 1e9
    if kind in ("timing", "average"):
        return v / 1e3
    return v


def _plan_metrics(info: dict, into: dict) -> None:
    """accumulatorId -> (node name, metric name, metric type) over a
    sparkPlanInfo tree."""
    for m in info.get("metrics", []):
        into[m["accumulatorId"]] = (info["nodeName"], m["name"], m["metricType"])
    for child in info.get("children", []):
        _plan_metrics(child, into)


def read_eventlog(root: str) -> list[dict]:
    files = [
        p
        for p in glob.glob(os.path.join(root, "eventlog", "**"), recursive=True)
        if os.path.isfile(p)
    ]
    events: list[dict] = []
    for p in sorted(files):
        with open(p) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


# exec_counters() keys and their units; exec.* and python.* layer metrics.
EXEC_UNITS = {
    "jobs": "count", "stages": "count", "tasks": "count",
    "executor_run_s": "s", "executor_cpu_s": "s", "gc_s": "s",
    "shuffle_read_bytes": "bytes", "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes", "input_bytes": "bytes",
}
PYTHON_UNITS = {
    "python.eval_s": "s", "python.rows": "count",
    "python.bytes_sent": "bytes", "python.bytes_returned": "bytes",
}


def as_layers(counters: dict, units: dict, n: int, per: float = 1.0,
              prefix: str = "") -> dict[str, tuple]:
    """Layer entries (value / per, unit, samples) for ``units``' keys."""
    return {prefix + k: (counters.get(k, 0.0) / per, u, n) for k, u in units.items()}


def exec_counters(events: list[dict], keep_job) -> dict[str, float]:
    """Task and SQL-metric totals over the jobs ``keep_job(job_start_event)``
    selects. Times in seconds, sizes in bytes."""
    stage_job: dict[int, int] = {}
    jobs = set()
    for e in events:
        if e["Event"] == "SparkListenerJobStart" and keep_job(e):
            jobs.add(e["Job ID"])
            for sid in e.get("Stage IDs", []):
                stage_job[sid] = e["Job ID"]
    accum_meta: dict[int, tuple] = {}
    for e in events:
        if e["Event"].endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            _plan_metrics(e.get("sparkPlanInfo", {}), accum_meta)
    c = defaultdict(float)
    c["jobs"] = len(jobs)
    stages = set()
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd" or e["Stage ID"] not in stage_job:
            continue
        stages.add((e["Stage ID"], e["Stage Attempt ID"]))
        c["tasks"] += 1
        m = e.get("Task Metrics") or {}
        c["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
        c["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        sr = m.get("Shuffle Read Metrics") or {}
        c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
            "Local Bytes Read", 0
        )
        c["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
            "Disk Bytes Spilled", 0
        )
        c["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        for a in e["Task Info"].get("Accumulables", []):
            meta = accum_meta.get(a.get("ID"))
            if meta is None or not meta[0].startswith(PYTHON_NODES):
                continue
            _, name, kind = meta
            v = _metric_value(kind, float(a.get("Update") or 0))
            if name == "time to run Python workers":
                c["python.eval_s"] += v
            elif name == "number of output rows":
                c["python.rows"] += v
            elif name == "data sent to Python workers":
                c["python.bytes_sent"] += v
            elif name == "data returned from Python workers":
                c["python.bytes_returned"] += v
    c["stages"] = len(stages)
    return dict(c)
