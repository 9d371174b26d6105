"""Spans around calls into the program's layers, recorded from the
benchmark's own files (the program itself is not instrumented).

A span has a name, a start, an end, a parent and the id of the operation
it belongs to.  With tracing off, :meth:`Tracer.span` returns one shared
no-op context, so the untraced run pays a method call per span and nothing
else.  Spans stay in memory until the run ends.
"""

from __future__ import annotations

import contextlib
import statistics
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op_id = -1

    @contextlib.contextmanager
    def _span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        span = Span(name, self.op_id, parent, time.perf_counter())
        self.spans.append(span)
        self._stack.append(idx)
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            self._stack.pop()

    def span(self, name: str):
        if not self.enabled:
            return contextlib.nullcontext()
        return self._span(name)

    def self_times(self) -> dict[str, list[float]]:
        """Seconds per span name, each span minus the time its direct
        children cover (children of one span never overlap: calls are
        sequential)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, list[float]] = {}
        for i, s in enumerate(self.spans):
            out.setdefault(s.name, []).append(s.end - s.start - child[i])
        return out

    def dump(self) -> list[dict]:
        t0 = self.spans[0].start if self.spans else 0.0
        return [{"name": s.name, "op": s.op, "parent": s.parent,
                 "start_ms": round((s.start - t0) * 1e3, 3),
                 "end_ms": round((s.end - t0) * 1e3, 3), **s.counts}
                for s in self.spans]


def p50_ms(values: list[float]) -> float:
    return statistics.median(values) * 1e3 if values else 0.0


class SparkCounters:
    """Job, stage and task counts and shuffle bytes of one operation, read
    from the status tracker and the JVM status store (both work with the
    Spark UI disabled).  Job ids of one SparkContext are sequential, so an
    operation's jobs are the ids allotted between :meth:`begin` and
    :meth:`end`.  This catches jobs launched on other threads as well,
    e.g. a streaming query's micro-batches, which run under the query's
    own job group.  Skipped stages are not counted."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.dag = jsc.dagScheduler()
        self.bus = jsc.listenerBus()
        self.first_job = 0

    def begin(self) -> None:
        self.first_job = self.dag.nextJobId()

    def end(self) -> dict:
        jobs = range(self.first_job, self.dag.nextJobId())
        # the status store is fed by the listener bus, asynchronously
        self.bus.waitUntilEmpty()
        stages = tasks = shuffle = 0
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            for sid in (info.stageIds if info else []):
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Exception:  # stage evicted from the status store
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                stages += 1
                tasks += sd.numTasks()
                shuffle += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks,
                "shuffle_bytes": shuffle}
