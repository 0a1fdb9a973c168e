"""Tracing for the benchmark's traced run, and its statistics helpers.

Spans are recorded from the benchmark's own files: ``Tracer.patch``
replaces a public function or method on its module or class with a
wrapper that records (name, start, end, parent, run id) in memory and
tags the Spark jobs it triggers with a job group naming the span.
``read_event_log`` folds Spark's uncompressed event log into per-job
records and ``attribute_jobs`` hands every job to a span: by job
group, or, for micro-batch jobs (which run on the stream thread and
lose the group), by their ``streaming.sql.batchId`` property.
"""

from __future__ import annotations

import contextlib
import functools
import json
import math
import statistics
import time
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench-span-"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``enabled`` is toggled by the
    workload between operations, so traced and untraced operations
    interleave in one process and their difference is the tracing
    overhead."""

    def __init__(self) -> None:
        self.spark = None  # set once the session starts; tags jobs with the span
        self.spans: list[Span] = []
        self.enabled = False
        self.run = ""
        self._stack: list[Span] = []
        self._undo: list[tuple[object, str, object]] = []

    def _set_group(self, span: Span | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(f"{GROUP_PREFIX}{span.id}", span.name)

    def begin(self, name: str, **attrs) -> Span:
        parent = self._stack[-1].id if self._stack else None
        span = Span(len(self.spans), name, time.time(), parent=parent, run=self.run, attrs=attrs)
        self.spans.append(span)
        self._stack.append(span)
        self._set_group(span)
        return span

    def end(self, span: Span) -> None:
        span.end = time.time()
        self._stack.remove(span)
        self._set_group(self._stack[-1] if self._stack else None)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """A span around a block, when tracing is enabled."""
        s = self.begin(name, **attrs) if self.enabled else None
        try:
            yield s
        finally:
            if s is not None:
                self.end(s)

    def patch(self, owner, attr: str, name: str) -> None:
        """Wrap ``owner.attr`` (a module function or a class's method)
        in a span named ``name``; ``unpatch`` restores it."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        self.replace(owner, attr, wrapper)

    def replace(self, owner, attr: str, wrapper) -> None:
        """Install a hand-written wrapper; ``unpatch`` restores it."""
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, wrapper)

    def unpatch(self) -> None:
        while self._undo:
            owner, attr, original = self._undo.pop()
            setattr(owner, attr, original)


def _union_length(intervals) -> float:
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> wall minus the part of its interval that its direct
    children cover (children clipped to the parent's interval)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = _union_length(
            (max(c.start, s.start), min(c.end, s.end))
            for c in children.get(s.id, []) if c.end > s.start and c.start < s.end
        )
        out[s.id] = s.wall - covered
    return out


def geomean(values: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(v) for v in values))


# --------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------

@dataclass
class JobRecord:
    id: int
    submit: float
    end: float = 0.0
    group: str | None = None
    query_id: str | None = None  # streaming query of a micro-batch job
    batch_id: int | None = None
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    input_bytes: int = 0
    spill_bytes: int = 0


def read_event_log(path: str) -> dict[int, JobRecord]:
    """Fold an uncompressed Spark event log into per-job records."""
    jobs: dict[int, JobRecord] = {}
    stage_job: dict[int, int] = {}
    with open(path) as f:
        lines = list(f)
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            batch = props.get("streaming.sql.batchId")
            job = JobRecord(
                ev["Job ID"], ev["Submission Time"] / 1000.0,
                group=props.get("spark.jobGroup.id"),
                query_id=props.get("sql.streaming.queryId"),
                batch_id=int(batch) if batch is not None else None,
            )
            jobs[job.id] = job
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = job.id
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            job = jobs.get(stage_job.get(ev["Stage Info"]["Stage ID"]))
            if job is not None:
                job.stages += 1
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev["Stage ID"]))
            m = ev.get("Task Metrics")
            if job is None or not m:
                continue
            job.tasks += 1
            job.executor_run_s += m.get("Executor Run Time", 0) / 1000.0
            job.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            job.gc_s += m.get("JVM GC Time", 0) / 1000.0
            sr = m.get("Shuffle Read Metrics", {})
            job.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            job.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            job.input_bytes += m.get("Input Metrics", {}).get("Bytes Read", 0)
            job.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return jobs


def attribute_jobs(jobs: dict[int, JobRecord], spans: list[Span],
                   batch_spans: dict[tuple[str, int], int] | None = None) -> dict[int, list[JobRecord]]:
    """Span id -> the jobs it triggered directly: by job group, else by
    micro-batch (``batch_spans`` maps (query id, batch id) -> span id)."""
    out: dict[int, list[JobRecord]] = {}
    known = {s.id for s in spans}
    for job in jobs.values():
        sid = None
        if job.group and job.group.startswith(GROUP_PREFIX):
            sid = int(job.group[len(GROUP_PREFIX):])
        elif job.batch_id is not None and batch_spans:
            sid = batch_spans.get((job.query_id, job.batch_id))
        if sid in known:
            out.setdefault(sid, []).append(job)
    return out


SPARK_COUNTERS = ("stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                  "shuffle_read_bytes", "shuffle_write_bytes", "input_bytes", "spill_bytes")


def spark_totals(root: Span, subtree: list[Span], by_span: dict[int, list[JobRecord]]) -> dict:
    """Spark counts of the spans in ``subtree`` (``root`` and every
    span below it), plus the driver gap: the root's wall outside every
    one of those jobs."""
    jobs = [j for s in subtree for j in by_span.get(s.id, [])]
    out = {k: sum(getattr(j, k) for j in jobs) for k in SPARK_COUNTERS}
    out["jobs"] = len(jobs)
    in_jobs = _union_length(
        (max(j.submit, root.start), min(j.end or root.end, root.end)) for j in jobs
        if (j.end or root.end) > root.start and j.submit < root.end
    )
    out["driver_gap_s"] = root.wall - in_jobs
    return out
