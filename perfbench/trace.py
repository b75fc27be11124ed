"""Benchmark-side spans, self-time arithmetic and Spark event-log parsing.

Spans are recorded by the benchmark around each public call it makes into
the package (it never edits the package). They stay in memory and are
written out with the run's evidence. In a traced run, Spark's own event log
(enabled through ``get_spark(extra_conf=...)``) is parsed afterwards and
every SQL execution, job and stage is joined to the innermost span whose
interval contains it.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# The event log stamps times in whole milliseconds; a span boundary taken
# with time.time() may sit up to this far on the other side of it.
CLOCK_SLACK_S = 0.002


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


class Tracer:
    """Records nested spans (name, start, end, parent, run id) in memory."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, time.time(), None, parent, self.run_id, dict(attrs))
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> Span:
        """Record a span whose interval was measured elsewhere (an event-log
        execution, or a chunk boundary read from committed output)."""
        s = Span(len(self.spans), name, start, end, parent, self.run_id, dict(attrs))
        self.spans.append(s)
        return s

    def to_json(self) -> list[dict]:
        return [s.__dict__ for s in self.spans]


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → its duration minus the part of it that its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None and s.end is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.duration - covered(children.get(s.id, []), s.start, s.end or s.start)
        for s in spans
    }


def innermost(spans: list[Span], start: float, end: float) -> Span | None:
    """The shortest span whose interval contains [start, end]."""
    best = None
    for s in spans:
        if s.end is None:
            continue
        if s.start - CLOCK_SLACK_S <= start and end <= s.end + CLOCK_SLACK_S:
            if best is None or s.duration < best.duration:
                best = s
    return best


# ------------------------------------------------------------- event log

PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
                "FlatMapGroupsInPandas", "FlatMapGroupsInArrow")

_STAGE_METRICS = {
    "internal.metrics.executorRunTime": "executor_run_ms",
    "internal.metrics.executorCpuTime": "executor_cpu_ns",
    "internal.metrics.input.bytesRead": "input_bytes",
    "internal.metrics.output.bytesWritten": "output_bytes",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read_bytes",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_memory_bytes",
    "internal.metrics.diskBytesSpilled": "spill_disk_bytes",
}
_PY_METRICS = {
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_returned",
    "number of output rows": "python_rows",
}


def _event_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    return sorted(f for f in glob.glob(os.path.join(path, "*"))
                  if os.path.isfile(f) and not os.path.basename(f).startswith("."))


def parse_event_log(path: str) -> dict:
    """Read a Spark event log (a file, or the directory of a non-rolling
    ``spark.eventLog.dir``) into executions, jobs and stages with the metrics the benchmark
    uses. Times are seconds since the epoch."""
    python_accums: dict[int, str] = {}
    scan_accums: set[int] = set()
    executions: dict[int, dict] = {}
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}

    def walk(plan: dict) -> None:
        if plan.get("nodeName") in PYTHON_NODES:
            for m in plan.get("metrics", []):
                if m["name"] in _PY_METRICS:
                    python_accums[m["accumulatorId"]] = _PY_METRICS[m["name"]]
        if plan.get("nodeName", "").startswith("Scan "):
            # set on the driver when the scan plans its files, so it comes
            # in the execution's driver updates, not in stage metrics
            for m in plan.get("metrics", []):
                if m["name"] == "size of files read":
                    scan_accums.add(m["accumulatorId"])
        for c in plan.get("children", []):
            walk(c)

    for f in _event_files(path):
        with open(f) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"].rsplit(".", 1)[-1]
                if kind == "SparkListenerSQLExecutionStart":
                    executions[int(e["executionId"])] = {
                        "id": int(e["executionId"]),
                        "start": e["time"] / 1000.0,
                        "end": None,
                        "description": e.get("description", ""),
                        "plan": e.get("physicalPlanDescription", ""),
                    }
                    walk(e.get("sparkPlanInfo") or {})
                elif kind == "SparkListenerSQLAdaptiveExecutionUpdate":
                    walk(e.get("sparkPlanInfo") or {})
                    ex = executions.get(int(e["executionId"]))
                    if ex is not None:
                        ex["plan"] = e.get("physicalPlanDescription", ex["plan"])
                elif kind == "SparkListenerDriverAccumUpdates":
                    ex = executions.get(int(e["executionId"]))
                    if ex is not None:
                        ex["scan_file_bytes"] = ex.get("scan_file_bytes", 0) + sum(
                            float(v) for acc, v in e.get("accumUpdates", []) if acc in scan_accums)
                elif kind == "SparkListenerSQLExecutionEnd":
                    ex = executions.get(int(e["executionId"]))
                    if ex is not None:
                        ex["end"] = e["time"] / 1000.0
                elif kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    exec_id = props.get("spark.sql.execution.id")
                    jobs[e["Job ID"]] = {
                        "id": e["Job ID"],
                        "start": e["Submission Time"] / 1000.0,
                        "end": None,
                        "execution": int(exec_id) if exec_id not in (None, "") else None,
                        "stages": list(e.get("Stage IDs", [])),
                    }
                elif kind == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    m: dict[str, float] = {}
                    py: dict[str, float] = {}
                    for a in info.get("Accumulables", []):
                        name = _STAGE_METRICS.get(a.get("Name"))
                        if name:
                            m[name] = m.get(name, 0) + float(a.get("Value") or 0)
                        elif a.get("ID") in python_accums:
                            k = python_accums[a["ID"]]
                            py[k] = py.get(k, 0) + float(a.get("Value") or 0)
                    m.update(py)
                    m["has_python"] = 1 if py else 0
                    stages[info["Stage ID"]] = {
                        "id": info["Stage ID"],
                        "start": (info.get("Submission Time") or 0) / 1000.0,
                        "end": (info.get("Completion Time") or 0) / 1000.0,
                        "metrics": m,
                    }
    return {"executions": executions, "jobs": jobs, "stages": stages}


def _add(acc: dict, stage: dict) -> None:
    for k, v in stage["metrics"].items():
        if k != "has_python":
            acc[k] = acc.get(k, 0) + v
    if stage["metrics"].get("has_python"):
        acc["python_run_ms"] = acc.get("python_run_ms", 0) + stage["metrics"].get("executor_run_ms", 0)


def join_event_log(tracer: Tracer, log: dict) -> dict[int, dict]:
    """Attach every SQL execution to the innermost span containing it, as a
    child span named ``sql``; attach every job's stage metrics to the span
    of its execution (or, for jobs outside any execution, the innermost
    span containing the job). Returns span id → summed stage metrics."""
    base = [s for s in tracer.spans if s.end is not None]
    per_span: dict[int, dict] = {}
    exec_span: dict[int, Span] = {}
    for ex in sorted(log["executions"].values(), key=lambda x: x["id"]):
        if ex["end"] is None:
            continue
        host = innermost(base, ex["start"], ex["end"])
        if host is None:
            continue
        exec_span[ex["id"]] = tracer.add(
            "sql", max(ex["start"], host.start), min(ex["end"], host.end), host.id,
            execution=ex["id"], description=ex["description"],
        )
        if ex.get("scan_file_bytes"):
            per_span[exec_span[ex["id"]].id] = {"scan_file_bytes": ex["scan_file_bytes"]}
    for job in log["jobs"].values():
        if job["execution"] in exec_span:
            target = exec_span[job["execution"]]
        else:
            target = innermost(base, job["start"], job["end"] or job["start"])
            if target is None:
                continue
        acc = per_span.setdefault(target.id, {})
        for sid in job["stages"]:
            if sid in log["stages"]:
                _add(acc, log["stages"][sid])
    for s in tracer.spans:
        if s.id in per_span:
            s.attrs["stage_metrics"] = per_span[s.id]
    return per_span


def subtree_metrics(tracer: Tracer, root: Span) -> dict:
    """Stage metrics summed over ``root`` and every span below it."""
    kids: dict[int, list[Span]] = {}
    for s in tracer.spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    acc: dict[str, float] = {}
    todo = [root]
    while todo:
        s = todo.pop()
        for k, v in s.attrs.get("stage_metrics", {}).items():
            acc[k] = acc.get(k, 0) + v
        todo.extend(kids.get(s.id, []))
    return acc
