"""Spans recorded around the benchmark's calls into the program, and the
Spark event log that gives each call its jobs, stages and task metrics.

A span has a name, a start and end (``time.time()`` seconds, the clock the
event log's millisecond timestamps use), the span that caused it and the
run id. Spans are kept in memory and written out when the run ends.
A span's self time is its duration minus the part of that interval its
child spans cover.

With tracing off, ``Tracer.span`` records nothing and tags no job group,
so the end-to-end runs pay only a function call per span.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None
    parent: int | None
    run_id: str
    group: str | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``sc`` (a SparkContext) is tagged with a
    job group per grouped span, so each Spark job can be traced back to
    the call that submitted it."""

    def __init__(self, run_id: str, enabled: bool, sc=None):
        self.run_id = run_id
        self.enabled = enabled
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        # time spent in span bookkeeping and job-group tagging
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, group: str | None = None):
        if not self.enabled:
            yield None
            return
        t = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, time.time(), None,
                 parent.id if parent else None, self.run_id, group)
        self.spans.append(s)
        self._stack.append(s)
        if group is not None and self.sc is not None:
            self.sc.setJobGroup(group, name)
        self.overhead_s += time.perf_counter() - t
        try:
            yield s
        finally:
            s.end = time.time()
            t = time.perf_counter()
            self._stack.pop()
            if group is not None and self.sc is not None:
                outer = next((p.group for p in reversed(self._stack) if p.group), None)
                self.sc.setLocalProperty("spark.jobGroup.id", outer)
                self.sc.setLocalProperty("spark.job.description", None)
            self.overhead_s += time.perf_counter() - t

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.seconds - covered(children.get(s.id, []), s.start, s.end)
        for s in spans
    }


# --- Spark event log -------------------------------------------------------

@dataclass
class Job:
    id: int
    group: str | None
    submit: float
    end: float | None = None
    stages: list[int] = field(default_factory=list)


# Task-metric fields summed per stage, as (output name, path, scale).
_TASK_FIELDS = (
    ("executor_run_s", ("Executor Run Time",), 1e-3),
    ("executor_cpu_s", ("Executor CPU Time",), 1e-9),
    ("gc_s", ("JVM GC Time",), 1e-3),
    ("spill_bytes", ("Disk Bytes Spilled",), 1),
    ("shuffle_read_bytes", ("Shuffle Read Metrics", "Remote Bytes Read"), 1),
    ("shuffle_read_bytes", ("Shuffle Read Metrics", "Local Bytes Read"), 1),
    ("shuffle_write_bytes", ("Shuffle Write Metrics", "Shuffle Bytes Written"), 1),
    ("input_bytes", ("Input Metrics", "Bytes Read"), 1),
    ("input_records", ("Input Metrics", "Records Read"), 1),
    ("output_bytes", ("Output Metrics", "Bytes Written"), 1),
    ("output_records", ("Output Metrics", "Records Written"), 1),
)
TASK_METRICS = tuple(dict.fromkeys(name for name, _, _ in _TASK_FIELDS))


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    # stage id -> summed task metrics, plus "tasks"
    stages: dict[int, dict] = field(default_factory=dict)


def parse_event_log(lines) -> EventLog:
    """Read the JSON-lines event log Spark writes with
    ``spark.eventLog.enabled``: jobs with their group and timing, and
    task metrics summed per stage (every attempt counts: retried work is
    work done)."""
    log = EventLog()
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            log.jobs[ev["Job ID"]] = Job(
                ev["Job ID"], props.get("spark.jobGroup.id"),
                ev["Submission Time"] / 1000.0, stages=list(ev.get("Stage IDs", [])),
            )
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(ev["Job ID"])
            if job is not None:
                job.end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            st = log.stages.setdefault(
                ev["Stage ID"], dict.fromkeys(TASK_METRICS + ("tasks",), 0)
            )
            st["tasks"] += 1
            metrics = ev.get("Task Metrics") or {}
            for name, path, scale in _TASK_FIELDS:
                v = metrics
                for key in path:
                    v = v.get(key, 0) if isinstance(v, dict) else 0
                st[name] += v * scale
    return log


def jobs_in(log: EventLog, span: Span, ours: set) -> list[Job]:
    """Jobs a span caused: those tagged with its group, plus jobs
    submitted inside it that carry none of the benchmark's groups
    (``ours``): driver threads a call starts do not inherit the group,
    and a streaming query tags its jobs with its own run id."""
    out = []
    for job in log.jobs.values():
        if span.group is not None and job.group == span.group:
            out.append(job)
        elif job.group not in ours and span.start <= job.submit <= span.end:
            out.append(job)
    return out


def job_totals(log: EventLog, jobs: list[Job]) -> dict:
    """Stage, task and task-metric totals over ``jobs``; a stage shared by
    two jobs counts once."""
    stage_ids = {sid for j in jobs for sid in j.stages if sid in log.stages}
    out = dict.fromkeys(TASK_METRICS + ("tasks",), 0)
    for sid in stage_ids:
        for k, v in log.stages[sid].items():
            out[k] += v
    out["jobs"] = len(jobs)
    out["stages"] = len(stage_ids)
    return out


def driver_local(span: Span, jobs: list[Job], skip: tuple = ()) -> float:
    """Part of a span's wall time during which none of its jobs ran,
    leaving out the intervals in ``skip``."""
    ivs = [(j.submit, j.end if j.end is not None else span.end) for j in jobs]
    return span.seconds - covered(ivs + list(skip), span.start, span.end)
