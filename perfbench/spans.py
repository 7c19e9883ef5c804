"""Spans and Spark counters around calls into the engine's layers.

A ``Tracer`` records one span per ``with tracer.span(name):`` block:
name, start, end, parent span and the pass it belongs to. Spans stay
in memory until the run ends. Each span runs its Spark jobs under its
own job group, so after the block the tracer reads that group's job
ids from ``statusTracker()`` and, per stage, the task count, executor
run time and shuffle-write bytes from the JVM ``statusStore()``. Those
counters are the span's own; ``inclusive`` adds its descendants'.

With ``counters`` off (untraced passes) a span keeps only its wall
time and job count, which is what the pass-to-pass repeat checks need.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    pass_id: int
    parent: int | None
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)
    stages: int = 0
    tasks: int = 0
    shuffle_write_bytes: int = 0
    executor_run_s: float = 0.0

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, counters: bool):
        self._sc = spark.sparkContext
        self.counters = counters
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self.pass_id = 0

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(next(self._ids), name, self.pass_id, parent.id if parent else None, 0.0)
        group = f"perfbench-{sp.id}"
        self._sc.setJobGroup(group, name)
        self._stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self._sc.setJobGroup(f"perfbench-{parent.id}", parent.name)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
            sp.jobs = sorted(self._sc.statusTracker().getJobIdsForGroup(group))
            if self.counters:
                self._read_stage_counters(sp)
            self.spans.append(sp)

    @contextlib.contextmanager
    def wrapped(self, cls, method: str, name: str):
        """Record a span around every call of ``cls.method`` inside the
        block; the class is restored on exit."""
        original = getattr(cls, method)

        @functools.wraps(original)
        def call(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        setattr(cls, method, call)
        try:
            yield
        finally:
            setattr(cls, method, original)

    def _read_stage_counters(self, sp: Span) -> None:
        tracker = self._sc.statusTracker()
        store = self._sc._jsc.sc().statusStore()
        for job in sp.jobs:
            info = tracker.getJobInfo(job)
            for stage in (info.stageIds if info else []):
                try:
                    data = store.lastStageAttempt(stage)
                except Exception:  # a skipped stage has no attempt
                    continue
                sp.stages += 1
                sp.tasks += data.numTasks()
                sp.shuffle_write_bytes += data.shuffleWriteBytes()
                sp.executor_run_s += data.executorRunTime() / 1000.0

    # -- views ------------------------------------------------------------

    def of_pass(self, pass_id: int) -> list[Span]:
        return [s for s in self.spans if s.pass_id == pass_id]

    def self_time(self, pass_id: int) -> dict[int, float]:
        """Span id → its wall time minus the time its children cover."""
        spans = self.of_pass(pass_id)
        out = {s.id: s.wall_s for s in spans}
        for s in spans:
            if s.parent in out:
                out[s.parent] -= s.wall_s
        return out

    def inclusive(self, pass_id: int, sp: Span) -> dict:
        """Counters of ``sp`` plus all its descendants in the pass."""
        spans = self.of_pass(pass_id)
        children: dict[int | None, list[Span]] = {}
        for s in spans:
            children.setdefault(s.parent, []).append(s)
        total = {"jobs": 0, "stages": 0, "tasks": 0,
                 "shuffle_write_bytes": 0, "executor_run_s": 0.0}
        todo = [sp]
        while todo:
            s = todo.pop()
            total["jobs"] += len(s.jobs)
            total["stages"] += s.stages
            total["tasks"] += s.tasks
            total["shuffle_write_bytes"] += s.shuffle_write_bytes
            total["executor_run_s"] += s.executor_run_s
            todo.extend(children.get(s.id, []))
        return total

    def dump(self) -> list[dict]:
        selfs: dict[int, float] = {}
        for p in {s.pass_id for s in self.spans}:
            selfs.update(self.self_time(p))
        return [
            {
                "id": s.id, "name": s.name, "pass": s.pass_id, "parent": s.parent,
                "start": round(s.start, 6), "end": round(s.end, 6),
                "self_s": round(selfs[s.id], 6), "jobs": len(s.jobs),
                "stages": s.stages, "tasks": s.tasks,
                "shuffle_write_bytes": s.shuffle_write_bytes,
                "executor_run_s": round(s.executor_run_s, 3),
            }
            for s in sorted(self.spans, key=lambda s: s.id)
        ]
