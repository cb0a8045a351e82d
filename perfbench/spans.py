"""Spans around the benchmark's calls into the engine, and the Spark event
log joined onto them.

A span records name, start, end, parent and run id in memory. When the
tracer holds a SparkContext, each span also tags the jobs it starts with a
Spark job group named after the span. After the session stops, the event
log is read and each job is attributed to its span: by job group when the
job carries one of ours, otherwise (streaming micro-batches run on the
stream's own thread and group) to the innermost span whose interval holds
the job's submission time. Task metrics and the SQL accumulables of the
job's stages then sum into one row per span.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# SQL accumulables of the Python-UDF operators (MapInArrow, ArrowEvalPython);
# the timing ones are milliseconds
PY_ACCUMS = {
    "time to start Python workers": "python_start_ms",
    "time to initialize Python workers": "python_init_ms",
    "time to run Python workers": "python_run_ms",
    "data sent to Python workers": "arrow_bytes_to_python",
    "data returned from Python workers": "arrow_bytes_from_python",
}

ROW_KEYS = (
    "jobs",
    "tasks",
    "task_run_ms",
    "task_cpu_ns",
    "gc_ms",
    "shuffle_write_bytes",
    "output_bytes",
    "output_records",
    "python_worker_starts",
    *PY_ACCUMS.values(),
)


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    run_id: str
    start: float  # epoch seconds
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"{self.run_id}.{self.sid}"

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``sc`` set => spans also set Spark job groups."""

    def __init__(self, run_id: str, sc=None):
        self.run_id = run_id
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _tag(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.group, span.name)

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.sid if parent else None, self.run_id, time.time(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        self._tag(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._tag(parent)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


def event_log_files(log_dir: str) -> list[str]:
    """Event files under ``log_dir``, in write order (a rolling v2 log is
    a directory of events_<n>_<app> files; a single-file log is itself)."""
    rolled = glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)
    if rolled:
        return sorted(rolled, key=lambda p: int(os.path.basename(p).split("_")[1]))
    return sorted(p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p))


def _task_row(event: dict) -> dict:
    m = event.get("Task Metrics") or {}
    row = {
        "tasks": 1,
        "task_run_ms": m.get("Executor Run Time", 0),
        "task_cpu_ns": m.get("Executor CPU Time", 0),
        "gc_ms": m.get("JVM GC Time", 0),
        "shuffle_write_bytes": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
        "output_bytes": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
        "output_records": (m.get("Output Metrics") or {}).get("Records Written", 0),
    }
    for acc in (event.get("Task Info") or {}).get("Accumulables", []):
        key = PY_ACCUMS.get(acc.get("Name"))
        if key is not None and acc.get("Update") is not None:
            row[key] = row.get(key, 0) + int(acc["Update"])
    if row.get("python_start_ms", 0) > 0:
        row["python_worker_starts"] = 1
    return row


def read_event_log(files: list[str]) -> tuple[dict[int, dict], list[tuple[int, dict]]]:
    """-> (jobs by id: {group, submit, end, stages}, [(stage id, task row)])."""
    jobs: dict[int, dict] = {}
    tasks: list[tuple[int, dict]] = []
    for path in files:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[e["Job ID"]] = {
                        "group": (e.get("Properties") or {}).get("spark.jobGroup.id"),
                        "submit": e["Submission Time"] / 1000.0,
                        "end": e["Submission Time"] / 1000.0,
                        "stages": list(e.get("Stage IDs", [])),
                    }
                elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
                    jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    tasks.append((e["Stage ID"], _task_row(e)))
    return jobs, tasks


def _innermost(spans: list[Span], t: float) -> Span | None:
    best = None
    for s in spans:
        if s.start <= t <= s.end and (best is None or s.start >= best.start):
            best = s
    return best


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def span_rows(spans: list[Span], jobs: dict[int, dict], tasks: list[tuple[int, dict]]) -> dict[int, dict]:
    """One row per span, inclusive of its descendants: job and task counts,
    summed task metrics, and ``spark_busy_s`` (union of its jobs' wall
    intervals). Jobs outside every span are not counted."""
    by_group = {s.group: s for s in spans}
    by_sid = {s.sid: s for s in spans}
    # a stage reused by a later job is skipped there: its tasks ran for
    # the first job that lists it
    stage_job: dict[int, int] = {}
    for jid in sorted(jobs):
        for st in jobs[jid]["stages"]:
            stage_job.setdefault(st, jid)
    job_span: dict[int, Span] = {}
    for jid, j in jobs.items():
        s = by_group.get(j["group"]) or _innermost(spans, j["submit"])
        if s is not None:
            job_span[jid] = s

    rows = {s.sid: {k: 0 for k in ROW_KEYS} for s in spans}
    intervals: dict[int, list[tuple[float, float]]] = {s.sid: [] for s in spans}

    def lineage(s: Span):
        while s is not None:
            yield s.sid
            s = by_sid.get(s.parent) if s.parent is not None else None

    for jid, s in job_span.items():
        for sid in lineage(s):
            rows[sid]["jobs"] += 1
            intervals[sid].append((jobs[jid]["submit"], jobs[jid]["end"]))
    for stage, t in tasks:
        s = job_span.get(stage_job.get(stage))
        if s is None:
            continue
        for sid in lineage(s):
            for k, v in t.items():
                rows[sid][k] += v
    for sid, row in rows.items():
        row["spark_busy_s"] = _union_seconds(intervals[sid])
    return rows
