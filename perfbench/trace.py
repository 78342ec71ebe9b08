"""Per-layer measurement from outside the engine.

:class:`StatusStore` diffs Spark's application status store
(``sparkContext._jsc.sc().statusStore()``, populated with the UI
disabled) around a call: jobs, stages run and skipped, tasks, task CPU,
shuffle, spill and GC of everything the call submitted. Job and stage
ids only grow, and the store lists newest first, so a diff walks the new
entries only.

:class:`Tracer` records a span (name, start, end, parent) with such a
diff at each public engine call it wraps. Wrapping replaces the module
attribute for the duration of a ``with`` block, so calls the engine makes
through its own module globals are traced as well; spans stay in memory
until the benchmark writes them out.
"""

from __future__ import annotations

import contextlib
import time
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field
from typing import Any


@dataclass(frozen=True)
class Mark:
    job: int
    stage: int


class StatusStore:
    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        gw = sc._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    def _lists(self):
        # the listener bus is asynchronous: drain it so the store holds
        # every event of the actions that already returned
        self._bus.waitUntilEmpty()
        jobs = self._store.jobsList(None)
        stages = self._store.stageList(None, False, False, self._no_quantiles, None)
        return jobs, stages

    def mark(self) -> Mark:
        jobs, stages = self._lists()
        return Mark(
            jobs.apply(0).jobId() if jobs.size() else -1,
            stages.apply(0).stageId() if stages.size() else -1,
        )

    def since(self, mark: Mark) -> dict[str, float]:
        """Counters of every job and stage submitted after ``mark``."""
        jobs, stages = self._lists()
        out = dict.fromkeys(
            ("jobs", "jobs_failed", "stages", "stages_skipped", "stages_failed",
             "tasks", "task_cpu_s", "shuffle_mb", "spill_mb", "gc_s"), 0
        )
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= mark.job:
                break
            out["jobs"] += 1
            out["jobs_failed"] += j.status().toString() == "FAILED"
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() <= mark.stage:
                break
            status = s.status().toString()
            if status == "SKIPPED":
                out["stages_skipped"] += 1
                continue
            if status == "FAILED":
                out["stages_failed"] += 1
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            out["task_cpu_s"] += s.executorCpuTime() / 1e9
            out["shuffle_mb"] += s.shuffleWriteBytes() / 1e6
            out["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 1e6
            out["gc_s"] += s.jvmGcTime() / 1e3
        return out


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    counters: dict[str, float] = field(default_factory=dict)
    extra: dict[str, float] = field(default_factory=dict)

    @property
    def s(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans of one traced iteration, kept in memory."""

    def __init__(self, store: StatusStore) -> None:
        self.store = store
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[Span]:
        parent = self._stack[-1] if self._stack else None
        mark = self.store.mark()
        sp = Span(name, time.perf_counter(), 0.0, parent)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            sp.counters = self.store.since(mark)

    def wrapped(
        self,
        name: str,
        fn: Callable,
        extra: Callable[[tuple, dict, Any], dict[str, float]] | None = None,
    ) -> Callable:
        def call(*args, **kwargs):
            with self.span(name) as sp:
                result = fn(*args, **kwargs)
            if extra is not None:
                sp.extra = extra(args, kwargs, result)
            return result

        return call

    @contextlib.contextmanager
    def patched(self, targets: list[tuple[Any, str, str, Callable | None]]):
        """Wrap ``module.attr`` as span ``name`` for each
        ``(module, attr, name, extra)`` while the block runs."""
        saved = []
        try:
            for module, attr, name, extra in targets:
                fn = getattr(module, attr)
                saved.append((module, attr, fn))
                setattr(module, attr, self.wrapped(name, fn, extra))
            yield self
        finally:
            for module, attr, fn in reversed(saved):
                setattr(module, attr, fn)

    def self_time(self, index: int) -> float:
        """Span duration minus the part its direct children cover."""
        sp = self.spans[index]
        return sp.s - sum(c.s for c in self.spans if c.parent == index)

    def to_json(self) -> list[dict]:
        return [
            {
                "name": sp.name, "start": sp.start, "end": sp.end,
                "parent": sp.parent, "self_s": self.self_time(i),
                **sp.counters, **sp.extra,
            }
            for i, sp in enumerate(self.spans)
        ]
