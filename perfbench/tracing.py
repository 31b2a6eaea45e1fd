"""Benchmark-side tracing: in-memory spans around calls into the program's
layers, and a reader for Spark's uncompressed JSON event log.

Spans are recorded only in a traced run (``Tracer(enabled=True)``); the
untraced run that produces the end-to-end figures pays one attribute test
per span. A span's self time is its duration minus the part of its
interval that its child spans cover.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, run_id: str = ""):
        if not self.enabled:
            yield None
            return
        sp = Span(len(self.spans), name, time.perf_counter(), 0.0,
                  self._stack[-1] if self._stack else None, run_id)
        self.spans.append(sp)
        self._stack.append(sp.span_id)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = time.perf_counter()

    def children(self, sp: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == sp.span_id]

    def self_time(self, sp: Span) -> float:
        return self_time(sp, self.children(sp))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) | {"self_s": self.self_time(s)} for s in self.spans], f)


def self_time(sp: Span, children: list[Span]) -> float:
    """Duration of ``sp`` minus the union of its children's intervals,
    each clipped to ``sp``."""
    covered = 0.0
    cur_start = cur_end = None
    for c in sorted(children, key=lambda c: c.start):
        s, e = max(c.start, sp.start), min(c.end, sp.end)
        if e <= s:
            continue
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                covered += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        covered += cur_end - cur_start
    return (sp.end - sp.start) - covered


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

PY_BYTES_METRICS = ("data sent to Python workers", "data returned from Python workers")


@dataclass
class StageStats:
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    python_bytes: int = 0


@dataclass
class Job:
    job_id: int
    group: str | None
    batch_id: str | None
    submit_ms: int
    end_ms: int | None = None
    stages: list[int] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, StageStats] = field(default_factory=dict)


def read_event_log(path: str) -> EventLog:
    log = EventLog()
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = Job(ev["Job ID"], props.get("spark.jobGroup.id"),
                          props.get("streaming.sql.batchId"), ev["Submission Time"],
                          stages=list(ev.get("Stage IDs", [])))
                log.jobs[job.job_id] = job
                for sid in job.stages:
                    log.stages.setdefault(sid, StageStats())
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in log.jobs:
                    log.jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                _add_task(log.stages.setdefault(ev["Stage ID"], StageStats()), ev)
    return log


def _add_task(st: StageStats, ev: dict) -> None:
    m = ev.get("Task Metrics") or {}
    st.tasks += 1
    st.run_ms += m.get("Executor Run Time", 0)
    st.cpu_ns += m.get("Executor CPU Time", 0)
    st.gc_ms += m.get("JVM GC Time", 0)
    st.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    st.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    sw = m.get("Shuffle Write Metrics") or {}
    st.shuffle_bytes += sw.get("Shuffle Bytes Written", 0)
    st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        name = acc.get("Name")
        if name in PY_BYTES_METRICS:
            st.python_bytes += int(acc.get("Update", 0) or 0)


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, cur_s, cur_e = 0, None, None
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


def ledger(log: EventLog, cores: int, select) -> dict:
    """Totals over the jobs for which ``select(job)`` is true.
    ``slot_util`` is executor run time over (wall of the union of the
    jobs' intervals x cores)."""
    jobs = [j for j in log.jobs.values() if j.group is not None and select(j)]
    stage_ids = {s for j in jobs for s in j.stages}
    stages = [log.stages[s] for s in stage_ids if s in log.stages]
    wall_ms = _union_ms([(j.submit_ms, j.end_ms) for j in jobs if j.end_ms is not None])
    run_ms = sum(s.run_ms for s in stages)
    return {
        "jobs": len(jobs),
        "tasks": sum(s.tasks for s in stages),
        "wall_s": wall_ms / 1000,
        "cpu_s": sum(s.cpu_ns for s in stages) / 1e9,
        "gc_s": sum(s.gc_ms for s in stages) / 1000,
        "input_bytes": sum(s.input_bytes for s in stages),
        "output_bytes": sum(s.output_bytes for s in stages),
        "shuffle_bytes": sum(s.shuffle_bytes for s in stages),
        "spill_bytes": sum(s.spill_bytes for s in stages),
        "python_bytes": sum(s.python_bytes for s in stages),
        "slot_util": run_ms / (wall_ms * cores) if wall_ms else 0.0,
    }
