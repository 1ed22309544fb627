"""Spans around the benchmark's calls into the engine, and the Spark work each
one caused.

A span sets the Spark job group to its own id for the length of the call, so
every job the call starts is tagged with it, including the barrier writes that
operators run eagerly while they build their DataFrames. Spans are kept in
memory. After the run, ``span_stats`` reads the per-stage fields of each
group's jobs from the application status store, which works with the Spark UI
disabled, and ``check_invariants`` verifies the attribution.
"""

from __future__ import annotations

import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field

# Stage and job times in the status store have millisecond resolution.
CLOCK_SLACK_S = 0.005


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    start: float
    end: float = 0.0

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class Stage:
    id: int
    start: float
    end: float
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_bytes: int
    spill_bytes: int
    tasks: int


@dataclass
class Job:
    id: int
    group: str | None
    submitted: float
    stages: list[Stage] = field(default_factory=list)


class Tracer:
    """Records spans when enabled; a disabled tracer only runs the body."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.prefix = f"perfbench-{uuid.uuid4().hex[:8]}"  # job groups unique per tracer
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        s = Span(f"{self.prefix}-{len(self.spans)}", name,
                 self._stack[-1].id if self._stack else None, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.id, name)
        try:
            yield
        finally:
            s.end = time.time()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1].id, self._stack[-1].name)
            else:
                self.sc._jsc.clearJobGroup()


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def read_jobs(spark) -> list[Job]:
    """Every job in the status store with its completed or failed stages.
    Skipped stages did no work and are left out."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    seq = store.jobsList(None)
    jobs = []
    for i in range(seq.size()):
        j = seq.apply(i)
        group = j.jobGroup().get() if j.jobGroup().isDefined() else None
        job = Job(j.jobId(), group, _opt_ms(j.submissionTime()) or 0.0)
        sids = j.stageIds()
        for k in range(sids.size()):
            s = store.lastStageAttempt(sids.apply(k))
            if s.status().toString() == "SKIPPED":
                continue
            start, end = _opt_ms(s.submissionTime()), _opt_ms(s.completionTime())
            if start is None or end is None:
                continue
            job.stages.append(Stage(
                s.stageId(), start, end,
                s.executorRunTime() / 1e3, s.executorCpuTime() / 1e9, s.jvmGcTime() / 1e3,
                s.shuffleReadBytes() + s.shuffleWriteBytes(),
                s.memoryBytesSpilled() + s.diskBytesSpilled(),
                s.numTasks(),
            ))
        jobs.append(job)
    return jobs


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def _stages_by_span(spans: list[Span], jobs: list[Job]) -> dict[str, list[Stage]]:
    """Stages of each span's own jobs; a stage shared by two jobs of one span
    counts once."""
    out: dict[str, dict[int, Stage]] = {s.id: {} for s in spans}
    for j in jobs:
        if j.group in out:
            for st in j.stages:
                out[j.group][st.id] = st
    return {k: list(v.values()) for k, v in out.items()}


def self_time(span: Span, spans: list[Span]) -> float:
    """Duration minus the part of it that child spans cover."""
    kids = [(max(c.start, span.start), min(c.end, span.end))
            for c in spans if c.parent == span.id]
    return span.wall - _union_length([k for k in kids if k[1] > k[0]])


def span_stats(spans: list[Span], jobs: list[Job]) -> dict[str, dict[str, float]]:
    """Per span name: calls, and per call the mean wall time, driver-only time
    (wall minus the union of its stage intervals), executor CPU, JVM GC,
    shuffle bytes read and written, bytes spilled and tasks."""
    stages = _stages_by_span(spans, jobs)
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        st = stages[s.id]
        row = out.setdefault(s.name, {
            "calls": 0, "wall_s": 0.0, "driver_only_s": 0.0, "executor_cpu_s": 0.0,
            "gc_s": 0.0, "shuffle_bytes": 0.0, "spill_bytes": 0.0, "tasks": 0.0,
        })
        row["calls"] += 1
        row["wall_s"] += s.wall
        row["driver_only_s"] += s.wall - _union_length([(x.start, x.end) for x in st])
        row["executor_cpu_s"] += sum(x.cpu_s for x in st)
        row["gc_s"] += sum(x.gc_s for x in st)
        row["shuffle_bytes"] += sum(x.shuffle_bytes for x in st)
        row["spill_bytes"] += sum(x.spill_bytes for x in st)
        row["tasks"] += sum(x.tasks for x in st)
    for row in out.values():
        for k in row:
            if k != "calls":
                row[k] /= row["calls"]
    return out


def check_invariants(spans: list[Span], jobs: list[Job]) -> list[str]:
    """Violations of the trace's own accounting, as messages (empty = sound):

    * every job submitted while a span was open carries the id of exactly one
      span, and was submitted inside that span;
    * no span's driver-only time is negative, i.e. its stages ran inside it;
    * self times sum to no more than the wall time the spans cover.
    """
    if not spans:
        return ["no spans recorded"]
    problems = []
    by_id = {s.id: s for s in spans}
    roots = [(s.start, s.end) for s in spans if s.parent is None]
    for j in jobs:
        if not any(a <= j.submitted <= b for a, b in roots):
            continue
        s = by_id.get(j.group)
        if s is None:
            problems.append(f"job {j.id} ran while spans were open but has group {j.group!r}")
        elif not s.start - CLOCK_SLACK_S <= j.submitted <= s.end + CLOCK_SLACK_S:
            problems.append(f"job {j.id} of span {s.name} was submitted outside it")
    stages = _stages_by_span(spans, jobs)
    for s in spans:
        busy = _union_length([(x.start, x.end) for x in stages[s.id]])
        if s.wall - busy < -CLOCK_SLACK_S:
            problems.append(f"span {s.name} ({s.id}) has driver-only time {s.wall - busy:.4f} s")
    total_self = sum(self_time(s, spans) for s in spans)
    covered = _union_length([(s.start, s.end) for s in spans])
    if total_self > covered + CLOCK_SLACK_S:
        problems.append(f"self times sum to {total_self:.4f} s, above the {covered:.4f} s spans cover")
    return problems
