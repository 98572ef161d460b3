"""Spans, Spark job groups and the event-log parser.

A traced run wraps each of the benchmark's calls into the engine in a
span. The span records wall time on the driver and, while it is open,
sets a Spark job group named after it, so every job the call runs can be
found again in Spark's event log after the session stops. Nothing inside
the engine is instrumented.

Spans are kept in memory and returned at the end; the event log is read
once, after ``spark.stop()``.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

SQL_UI = "org.apache.spark.sql.execution.ui."
PYTHON_SCOPES = ("Python", "Pandas", "Arrow")


@dataclass
class Span:
    name: str
    group: str
    start: float
    end: float = 0.0
    parent: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; with ``enabled`` False every call is a no-op apart
    from the caller's own timing, so untraced runs pay nothing."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._seq = 0

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        self._seq += 1
        group = f"{name}#{self._seq}"
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, group, time.time(), parent=parent.group if parent else None, attrs=attrs)
        sc = self.spark.sparkContext
        sc.setJobGroup(group, name, interruptOnCancel=False)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self.spans.append(sp)
            if parent is not None:
                sc.setJobGroup(parent.group, parent.name, interruptOnCancel=False)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------


@dataclass
class Job:
    job_id: int
    group: str | None
    execution_id: int | None
    callsite: str | None
    start_ms: int
    end_ms: int = 0
    stages: list = field(default_factory=list)


@dataclass
class Stage:
    tasks: int = 0
    failed_tasks: int = 0
    empty_tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    python: bool = False
    attempts: int = 0


@dataclass
class EventLog:
    jobs: dict
    stages: dict
    # execution id -> {metric name -> summed driver-side value}
    driver_metrics: dict
    slots: int


def event_log_files(log_dir: str) -> list[str]:
    """Event-log files in ``log_dir``: the single-file format, or the
    ``events_<n>_*`` parts of a rolling ``eventlog_v2_*`` directory."""
    out = []
    for p in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(p):
            parts = glob.glob(os.path.join(p, "events_*"))
            out += sorted(parts, key=lambda f: int(os.path.basename(f).split("_")[1]))
        elif not p.endswith(".crc"):
            out.append(p)
    return out


def _records_read(metrics: dict) -> int:
    inp = metrics.get("Input Metrics", {}).get("Records Read", 0)
    shuf = metrics.get("Shuffle Read Metrics", {}).get("Total Records Read", 0)
    return inp + shuf


def _plan_metric_names(info: dict, out: dict) -> None:
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for child in info.get("children", []):
        _plan_metric_names(child, out)


def parse_event_log(lines, slots: int) -> EventLog:
    """Fold event-log JSON lines into jobs, stages and driver-side SQL
    metrics. Stage attempts fold into one ``Stage`` whose ``attempts``
    counts them."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    metric_names: dict[int, str] = {}
    driver_metrics: dict[int, dict] = {}
    for line in lines:
        e = json.loads(line)
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            ex = props.get("spark.sql.execution.id")
            job = Job(
                e["Job ID"],
                props.get("spark.jobGroup.id"),
                int(ex) if ex is not None else None,
                props.get("callSite.short"),
                e["Submission Time"],
                stages=list(e["Stage IDs"]),
            )
            jobs[job.job_id] = job
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(e["Job ID"])
            if job is not None:
                job.end_ms = e["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            st = stages.setdefault(info["Stage ID"], Stage())
            st.attempts += 1
            scopes = " ".join(r.get("Scope") or "" for r in info.get("RDD Info", []))
            st.python = st.python or any(k in scopes for k in PYTHON_SCOPES)
        elif kind == "SparkListenerTaskEnd":
            st = stages.setdefault(e["Stage ID"], Stage())
            st.tasks += 1
            info = e.get("Task Info") or {}
            if info.get("Failed") or info.get("Killed"):
                st.failed_tasks += 1
            m = e.get("Task Metrics") or {}
            st.run_ms += m.get("Executor Run Time", 0)
            st.cpu_ns += m.get("Executor CPU Time", 0)
            st.gc_ms += m.get("JVM GC Time", 0)
            st.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            if _records_read(m) == 0:
                st.empty_tasks += 1
        elif kind in (SQL_UI + "SparkListenerSQLExecutionStart",
                      SQL_UI + "SparkListenerSQLAdaptiveExecutionUpdate"):
            _plan_metric_names(e.get("sparkPlanInfo") or {}, metric_names)
        elif kind == SQL_UI + "SparkListenerDriverAccumUpdates":
            acc = driver_metrics.setdefault(e["executionId"], {})
            for acc_id, value in e["accumUpdates"]:
                acc[acc_id] = acc.get(acc_id, 0) + value
    named: dict[int, dict] = {}
    for ex, acc in driver_metrics.items():
        by_name = named.setdefault(ex, {})
        for i, v in acc.items():
            key = metric_names.get(i, str(i))
            by_name[key] = by_name.get(key, 0) + v
    return EventLog(jobs, stages, named, slots)


def read_event_log(log_dir: str, slots: int) -> EventLog:
    def lines():
        for path in event_log_files(log_dir):
            with open(path) as f:
                yield from f

    return parse_event_log(lines(), slots)


def _union_ms(intervals) -> int:
    total, cur_lo, cur_hi = 0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def jobs_in(log: EventLog, groups) -> list[Job]:
    """The jobs run under any of the job groups ``groups``."""
    groups = set(groups)
    return [j for j in log.jobs.values() if j.group in groups]


def job_stats(log: EventLog, sel: list[Job]) -> dict:
    """Aggregate the jobs ``sel``.

    ``jobs_wall_s`` is the union of the jobs' intervals (jobs of one
    query can overlap); ``sched_overhead_s`` is that wall time minus
    executor run time ÷ slots; ``empty_task_ratio`` is the share of
    tasks that read no records."""
    st_ids = {s for j in sel for s in j.stages}
    sts = [log.stages[s] for s in st_ids if s in log.stages]
    tasks = sum(s.tasks for s in sts)
    run_s = sum(s.run_ms for s in sts) / 1e3
    jobs_wall = _union_ms((j.start_ms, j.end_ms) for j in sel) / 1e3
    ex_ids = {j.execution_id for j in sel if j.execution_id is not None}
    parts_read = sum(
        log.driver_metrics.get(ex, {}).get("number of partitions read", 0) for ex in ex_ids
    )
    return {
        "jobs": len(sel),
        "tasks": tasks,
        "empty_task_ratio": (sum(s.empty_tasks for s in sts) / tasks) if tasks else 0.0,
        "exec_run_s": run_s,
        "exec_cpu_s": sum(s.cpu_ns for s in sts) / 1e9,
        "gc_s": sum(s.gc_ms for s in sts) / 1e3,
        "shuffle_write_mb": sum(s.shuffle_write_bytes for s in sts) / 2**20,
        "python_run_s": sum(s.run_ms for s in sts if s.python) / 1e3,
        "failed_tasks": sum(s.failed_tasks for s in sts),
        "retried_stages": sum(max(0, s.attempts - 1) for s in sts),
        "jobs_wall_s": jobs_wall,
        "sched_overhead_s": max(0.0, jobs_wall - run_s / max(1, log.slots)),
        "partitions_read": parts_read,
    }


def span_stats(log: EventLog, spans: list[Span], all_spans: list[Span]) -> dict:
    """``job_stats`` over the groups of ``spans`` and of their
    descendants in ``all_spans``, plus ``wall_s`` (sum of span walls)
    and ``driver_s`` (span wall not covered by any job)."""
    groups = {s.group for s in spans}
    frontier = set(groups)
    while frontier:
        frontier = {c.group for c in all_spans if c.parent in frontier} - groups
        groups |= frontier
    out = job_stats(log, jobs_in(log, groups))
    out["wall_s"] = sum(s.wall_s for s in spans)
    out["driver_s"] = max(0.0, out["wall_s"] - out["jobs_wall_s"])
    return out
