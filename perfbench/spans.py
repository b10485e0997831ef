"""Spans and Spark status-store counters for the traced run.

A span is recorded around each call the benchmark makes into a layer of
the program (session, registry, tables, operators, runner). Spans stay
in memory and are written out once, when the run ends. Counters are
read from Spark's status store between passes, outside any timed
region.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    trace_id: str
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records nested spans; `enabled=False` makes every call a no-op
    so the untraced run pays nothing but a branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.trace_id = "setup"

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.perf_counter(), 0.0, parent, self.trace_id,
                 attrs)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def total(self, name: str, trace_id: str) -> float:
        return sum(s.duration for s in self.spans
                   if s.name == name and s.trace_id == trace_id)

    def to_json(self) -> list[dict]:
        return [{"id": i, "name": s.name, "start": s.start, "end": s.end,
                 "parent": s.parent, "trace_id": s.trace_id, **s.attrs}
                for i, s in enumerate(self.spans)]


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of its interval that its
    direct children cover (overlapping children are counted once)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = []
    for i, s in enumerate(spans):
        covered, reach = 0.0, s.start
        for c in sorted(children.get(i, []), key=lambda c: c.start):
            lo, hi = max(c.start, reach, s.start), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                reach = hi
        out.append(s.duration - covered)
    return out


def self_time_by_name(spans: list[Span]) -> dict[str, float]:
    out: dict[str, float] = {}
    for s, t in zip(spans, self_times(spans)):
        out[s.name] = out.get(s.name, 0.0) + t
    return out


#: StageData getter -> counter name. executorCpuTime is in ns.
_STAGE_FIELDS = {
    "executorRunTime": "run_ms",
    "executorCpuTime": "cpu_ms",
    "jvmGcTime": "gc_ms",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "shuffleReadBytes": "shuffle_read_bytes",
    "diskBytesSpilled": "spill_bytes",
    "inputBytes": "input_bytes",
    "outputBytes": "output_bytes",
}


class SparkCounters:
    """Sums status-store counters over the jobs of named job groups.

    Per-job `lastStageAttempt(stageId)` is used instead of
    `AppStatusStore.stageList`, whose Spark 4.1 signature takes five
    arguments and throws on nulls. A stage is counted once, and only
    if it ran (skipped stages carry their own ids and zero metrics)."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self._seen_stages: set[int] = set()

    def jobs(self, group: str) -> list[int]:
        return list(self._sc.statusTracker().getJobIdsForGroup(group))

    def collect(self, groups: list[str]) -> dict[str, float]:
        out = {"jobs": 0, "stages": 0, "tasks": 0, "wasted_attempts": 0,
               **{v: 0 for v in _STAGE_FIELDS.values()}}
        for group in groups:
            for job_id in self.jobs(group):
                out["jobs"] += 1
                ids = self._store.job(job_id).stageIds()
                for k in range(ids.size()):
                    self._add_stage(int(ids.apply(k)), out)
        out["cpu_ms"] /= 1e6
        out["offcpu_ms"] = out["run_ms"] - out["cpu_ms"]
        return out

    def _add_stage(self, stage_id: int, out: dict) -> None:
        if stage_id in self._seen_stages:
            return
        self._seen_stages.add(stage_id)
        sd = self._store.lastStageAttempt(stage_id)
        if sd.status().toString() not in ("COMPLETE", "FAILED"):
            return
        out["stages"] += 1
        out["tasks"] += sd.numCompleteTasks()
        out["wasted_attempts"] += sd.numFailedTasks() + sd.numKilledTasks()
        for getter, name in _STAGE_FIELDS.items():
            out[name] += getattr(sd, getter)()

    def retained_storage_mb(self) -> float:
        infos = self._sc._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def catalyst_phases_ms(df) -> dict[str, float]:
    """Force the DataFrame's own physical plan, then read the times its
    QueryExecution tracked: analysis, optimization and planning."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    it = qe.tracker().phases().iterator()
    out = {}
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return out
