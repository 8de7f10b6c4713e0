"""In-memory spans around calls into the package, and Spark event-log metrics
attributed to the span that was open when each Spark job was submitted.

Spans are recorded by wrapping public functions of the package from the
benchmark's side (the package itself carries no tracing). Every wrapper is
removed again by :meth:`Tracer.restore`.
"""

from __future__ import annotations

import contextlib
import functools
import json
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path
from typing import Callable, Iterable, Iterator, Optional, Union


@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds, comparable with Spark's epoch-millisecond stamps
    end: float
    parent: Optional[int]

    @property
    def duration(self) -> float:
        return self.end - self.start


def _union_length(intervals: Iterable[tuple[float, float]]) -> float:
    total = 0.0
    cur_lo = cur_hi = None
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part of it that its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: s.duration - _union_length(kids.get(s.id, ())) for s in spans}


class Tracer:
    """Records spans (name, start, end, parent) in memory until the run ends."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[Span]:
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, time.time(), float("nan"), parent)
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def wrap(self, owner: object, attr: str, name: Union[str, Callable[..., str]]) -> None:
        """Replace the function or method ``owner.attr`` by a wrapper that
        records one span per call. *name* may be a function of the call's
        arguments."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with tracer.span(name(*args, **kwargs) if callable(name) else name):
                return original(*args, **kwargs)

        self._patched.append((owner, attr, original))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)

    def by_name(self, prefix: str, within: Optional[str] = None) -> list[Span]:
        """Spans named *prefix* or below it; with *within*, only those nested
        in a span named *within*."""
        ss = [s for s in self.spans if s.name == prefix or s.name.startswith(prefix + ".")]
        if within is None:
            return ss
        inside: set[int] = set()
        for root in self.by_name(within):
            inside |= self.descendants(root)
        return [s for s in ss if s.id in inside]

    def total(self, prefix: str, within: Optional[str] = None) -> tuple[float, int]:
        """(summed duration, call count) of the spans :meth:`by_name` selects."""
        ss = self.by_name(prefix, within)
        return sum(s.duration for s in ss), len(ss)

    def innermost_at(self, t: float) -> Optional[Span]:
        """The latest-starting span whose interval contains epoch time *t*."""
        best = None
        for s in self.spans:
            if s.start <= t <= s.end and (best is None or s.start >= best.start):
                best = s
        return best

    def descendants(self, root: Span) -> set[int]:
        ids = {root.id}
        for s in self.spans:  # children are recorded after their parents start
            if s.parent in ids:
                ids.add(s.id)
        return ids


# ---------------------------------------------------------------------------
# Spark event log (spark.eventLog.enabled=true, spark.eventLog.compress=false)


@dataclass
class TaskRecord:
    stage_id: int
    run_ms: float
    gc_ms: float
    shuffle_write_bytes: int
    shuffle_read_bytes: int
    spill_disk_bytes: int


@dataclass
class JobRecord:
    job_id: int
    submit_s: float
    end_s: float
    tasks: list[TaskRecord] = field(default_factory=list)


def event_log_lines(log_dir: Path) -> list[str]:
    """Lines of every event log under *log_dir*: plain single-file logs and
    Spark 4's ``eventlog_v2_<app>/events_<n>_<app>`` rolling directories."""
    def order(p: Path):
        parts = p.name.split("_")
        return (str(p.parent), int(parts[1]) if p.name.startswith("events_") else 0)

    files = [p for p in log_dir.rglob("*") if p.is_file()
             and (p.parent == log_dir or p.name.startswith("events_"))]
    lines: list[str] = []
    for p in sorted(files, key=order):
        with open(p) as f:
            lines.extend(f)
    return lines


def parse_event_log(lines: Iterable[str]) -> list[JobRecord]:
    """Jobs with their finished tasks, from the JSON-lines event log."""
    jobs: dict[int, JobRecord] = {}
    stage_job: dict[int, int] = {}
    tasks: list[TaskRecord] = []
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            jobs[jid] = JobRecord(jid, ev["Submission Time"] / 1000.0, float("nan"))
            for sid in ev["Stage IDs"]:
                stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end_s = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            if not m:
                continue  # task killed before reporting metrics
            rd = m.get("Shuffle Read Metrics", {})
            wr = m.get("Shuffle Write Metrics", {})
            tasks.append(TaskRecord(
                stage_id=ev["Stage ID"],
                run_ms=float(m.get("Executor Run Time", 0)),
                gc_ms=float(m.get("JVM GC Time", 0)),
                shuffle_write_bytes=int(wr.get("Shuffle Bytes Written", 0)),
                shuffle_read_bytes=int(rd.get("Remote Bytes Read", 0)) + int(rd.get("Local Bytes Read", 0)),
                spill_disk_bytes=int(m.get("Disk Bytes Spilled", 0)),
            ))
    for t in tasks:
        jid = stage_job.get(t.stage_id)
        if jid is not None:
            jobs[jid].tasks.append(t)
    return [jobs[j] for j in sorted(jobs)]


def job_metrics(jobs: list[JobRecord], wall_s: float, cores: int) -> dict[str, float]:
    """Aggregate Spark metrics of *jobs* that ran within *wall_s* seconds on *cores*."""
    tasks = [t for j in jobs for t in j.tasks]
    task_s = sum(t.run_ms for t in tasks) / 1000.0
    by_stage: dict[int, list[float]] = {}
    for t in tasks:
        by_stage.setdefault(t.stage_id, []).append(t.run_ms)
    skews = [max(v) / statistics.median(v) for v in by_stage.values()
             if len(v) >= 2 and statistics.median(v) > 0]
    mb = 1024.0 * 1024.0
    return {
        "jobs": float(len(jobs)),
        "tasks": float(len(tasks)),
        "task_s": task_s,
        "core_util": task_s / (wall_s * cores) if wall_s > 0 else 0.0,
        "shuffle_write_mb": sum(t.shuffle_write_bytes for t in tasks) / mb,
        "shuffle_read_mb": sum(t.shuffle_read_bytes for t in tasks) / mb,
        "spill_mb": sum(t.spill_disk_bytes for t in tasks) / mb,
        "gc_s": sum(t.gc_ms for t in tasks) / 1000.0,
        "task_skew_max": max(skews, default=1.0),
    }


def jobs_under(tracer: Tracer, jobs: list[JobRecord], prefix: str) -> list[JobRecord]:
    """Jobs submitted while a span named *prefix* (or one of its descendants) was open."""
    ids = {s.id for s in tracer.by_name(prefix)}
    for root in tracer.by_name(prefix):
        ids |= tracer.descendants(root)
    out = []
    for j in jobs:
        s = tracer.innermost_at(j.submit_s)
        if s is not None and s.id in ids:
            out.append(j)
    return out
