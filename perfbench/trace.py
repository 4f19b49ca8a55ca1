"""Spans recorded around calls into the library, and Spark's event log.

The benchmark's single driver thread times each call into a polario_spark
module from outside and keeps the spans in memory. In a traced run the
Spark session writes its own event log (uncompressed JSON lines); after
the session stops, ``attribute`` assigns each job, and through its stages
each task, to the span whose wall-clock window holds the job's submission
time. With one serial client that window assignment is exact, and unlike
job groups it also covers jobs launched from worker threads.
"""

from __future__ import annotations

import bisect
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Iterator

_SQL_EVENTS = "org.apache.spark.sql.execution.ui."
SQL_START = _SQL_EVENTS + "SparkListenerSQLExecutionStart"
AQE_UPDATE = _SQL_EVENTS + "SparkListenerSQLAdaptiveExecutionUpdate"


@dataclass
class Span:
    kind: str  # "hive_dataset.<method>" or "queries.<family>"
    phase: str  # "call" (the library call), "collect" (the action) or "persist"
    start: float  # epoch seconds
    end: float
    op: int  # operation number; the spans of one operation share it


class Tracer:
    """Collects spans in memory; nothing is written until the run ends."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op = 0

    def next_op(self) -> None:
        self.op += 1

    @contextmanager
    def span(self, kind: str, phase: str = "call") -> Iterator[None]:
        start = time.time()
        try:
            yield
        finally:
            self.spans.append(Span(kind, phase, start, time.time(), self.op))

    def clear(self) -> None:
        self.spans.clear()


@dataclass
class Job:
    start: float  # epoch seconds
    end: float
    stages: list[int]


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    #: stage id -> summed task metrics of that stage
    stage_metrics: dict[int, dict[str, float]] = field(default_factory=dict)
    #: start time of the SQL execution behind each AQE re-plan
    aqe_updates: list[float] = field(default_factory=list)


_TASK_FIELDS = {
    "tasks": lambda m: 1,
    "executor_run_s": lambda m: m.get("Executor Run Time", 0) / 1e3,
    "executor_cpu_s": lambda m: m.get("Executor CPU Time", 0) / 1e9,
    "gc_s": lambda m: m.get("JVM GC Time", 0) / 1e3,
    "shuffle_bytes": lambda m: m.get("Shuffle Write Metrics", {}).get(
        "Shuffle Bytes Written", 0
    ),
    "spill_bytes": lambda m: m.get("Disk Bytes Spilled", 0),
    "output_bytes": lambda m: m.get("Output Metrics", {}).get("Bytes Written", 0),
}


def event_files(log_dir: str) -> list[str]:
    """Every event-log file under ``log_dir`` (plain or rolling layout)."""
    out = []
    for root, _dirs, files in os.walk(log_dir):
        out.extend(
            os.path.join(root, f)
            for f in files
            if not f.startswith(".") and not f.endswith(".crc")
        )
    return sorted(out)


def parse_event_log(lines: Iterator[str]) -> EventLog:
    log = EventLog()
    exec_start: dict[int, float] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            t = ev["Submission Time"] / 1e3
            log.jobs[ev["Job ID"]] = Job(t, t, ev["Stage IDs"])
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(ev["Job ID"])
            if job is not None:
                job.end = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerTaskEnd":
            metrics = ev.get("Task Metrics") or {}
            acc = log.stage_metrics.setdefault(ev["Stage ID"], defaultdict(float))
            for name, get in _TASK_FIELDS.items():
                acc[name] += get(metrics)
        elif kind == SQL_START:
            exec_start[ev["executionId"]] = ev["time"] / 1e3
        elif kind == AQE_UPDATE:
            log.aqe_updates.append(exec_start.get(ev["executionId"], 0.0))
    return log


def read_event_log(log_dir: str) -> EventLog:
    def lines() -> Iterator[str]:
        for path in event_files(log_dir):
            with open(path, encoding="utf-8") as fh:
                yield from fh

    return parse_event_log(lines())


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, reach = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e > reach:
            total += e - max(s, reach)
            reach = e
    return total


def op_windows(spans: list[Span]) -> list[tuple[str, float, float]]:
    """One window per (operation, kind): the union extent of its spans."""
    windows: dict[tuple[int, str], list[float]] = {}
    for s in spans:
        w = windows.setdefault((s.op, s.kind), [s.start, s.end])
        w[0], w[1] = min(w[0], s.start), max(w[1], s.end)
    return [(kind, a, b) for (_op, kind), (a, b) in windows.items()]


def attribute(spans: list[Span], log: EventLog) -> dict[str, dict[str, float]]:
    """Per span kind, the mean per window of: jobs, tasks, executor run
    time, shuffle bytes and driver gap (window wall time minus the union of
    its jobs' spans). A job belongs to the window holding its submission.
    """
    windows = sorted(op_windows(spans), key=lambda w: w[1])
    starts = [w[1] for w in windows]
    per_window: list[list[Job]] = [[] for _ in windows]
    for job in log.jobs.values():
        i = bisect.bisect_right(starts, job.start) - 1
        if i >= 0 and job.start <= windows[i][2]:
            per_window[i].append(job)

    sums: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for (kind, start, end), jobs in zip(windows, per_window):
        acc = sums[kind]
        acc["windows"] += 1
        acc["jobs"] += len(jobs)
        for job in jobs:
            for sid in job.stages:
                m = log.stage_metrics.get(sid, {})
                acc["tasks"] += m.get("tasks", 0)
                acc["executor_run_s"] += m.get("executor_run_s", 0.0)
                acc["shuffle_bytes"] += m.get("shuffle_bytes", 0.0)
        busy = _union_length([(max(j.start, start), min(j.end, end)) for j in jobs])
        acc["driver_gap_s"] += max(end - start - busy, 0.0)
    return {
        kind: {k: v / acc["windows"] for k, v in acc.items() if k != "windows"}
        for kind, acc in sums.items()
    }


def totals(log: EventLog, start: float, end: float) -> dict[str, float]:
    """Sums of the task metrics of the jobs submitted in [start, end], and
    the AQE re-plans of the SQL executions started in it."""
    out: dict[str, float] = defaultdict(float)
    for job in log.jobs.values():
        if start <= job.start <= end:
            for sid in job.stages:
                for k, v in log.stage_metrics.get(sid, {}).items():
                    out[k] += v
    out["aqe_replans"] = sum(start <= t <= end for t in log.aqe_updates)
    return out
