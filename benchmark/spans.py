"""Spans recorded by the benchmark around each call into an engine layer.

A span is opened with ``Tracer.span(name)``. Spark is lazy, so the
workloads open two spans per layer call: ``<module>.<function>`` around
the call that returns a plan, and ``<module>.<function>.exec`` around
the action that consumes it. While a span is open its id is the Spark
job group of the calling thread, so ``attribute_jobs`` can read job,
stage and task counts back from ``SparkContext.statusTracker()``.

Spans are kept in memory; ``layer_totals`` folds them into per-span
totals when the run ends. A disabled tracer records nothing and never
touches Spark, so untraced runs pay one no-op context manager per call.
An enabled tracer times its own work into ``overhead_s``.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict[str, float] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus its children's. Spans nest on one
    stack, so children run one after another inside their parent."""
    return span.duration - sum(c.duration for c in children)


class Tracer:
    def __init__(self, enabled: bool = False):
        self.enabled = enabled
        self._sc = None
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        # Seconds spent on tracing itself (span bookkeeping, setting
        # job groups, the workloads' traced-only measurements).
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield {}  # callers may set attributes either way
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None, 0.0)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        s.start = time.perf_counter()
        self.overhead_s += s.start - t0
        try:
            yield s.attrs
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            self.overhead_s += time.perf_counter() - s.end

    @contextmanager
    def bookkeeping(self):
        """Count the enclosed work, done only because tracing is on, as
        tracing overhead."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t0

    def bind(self, spark_context) -> None:
        """Attribute jobs through ``spark_context`` from now on."""
        self._sc = spark_context
        self._set_group(self._stack[-1] if self._stack else None)

    def subtree(self, root: Span) -> list[Span]:
        ids = {root.id}
        out = [root]
        for s in self.spans[root.id + 1 :]:
            if s.parent in ids:
                ids.add(s.id)
                out.append(s)
        return out

    def collect(self, roots: list[Span]) -> dict[str, dict[str, float]]:
        """Job counts for spans not yet attributed, then ``layer_totals``."""
        todo = [s for r in roots for s in self.subtree(r) if "own_jobs" not in s.attrs]
        self.attribute_jobs(todo)
        return layer_totals(self, roots)

    def _set_group(self, s: Span | None) -> None:
        if self._sc is None:
            return
        if s is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(f"bench-span-{s.id}", s.name)

    def roots(self) -> list[Span]:
        return [s for s in self.spans if s.parent is None]

    def attribute_jobs(self, spans: list[Span]) -> None:
        """Record each span's own jobs, executed stages, completed and
        failed tasks as ``own_*`` attributes. Waits for Spark's listener
        bus to drain first, so the status tracker has seen every job."""
        if self._sc is None or not spans:
            return
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self._sc.statusTracker()
        for s in spans:
            jobs = stages = tasks = failed = 0
            for job_id in tracker.getJobIdsForGroup(f"bench-span-{s.id}"):
                info = tracker.getJobInfo(job_id)
                if info is None:
                    continue
                jobs += 1
                for stage_id in info.stageIds:
                    st = tracker.getStageInfo(stage_id)
                    if st is None:
                        continue
                    ran = st.numCompletedTasks + st.numFailedTasks
                    stages += ran > 0
                    tasks += st.numCompletedTasks
                    failed += st.numFailedTasks
            s.attrs.update(
                own_jobs=jobs, own_stages=stages, own_tasks=tasks, own_failed_tasks=failed
            )


_COUNTS = ("jobs", "stages", "tasks", "failed_tasks")


def layer_totals(tracer: Tracer, roots: list[Span]) -> dict[str, dict[str, float]]:
    """Per span name, totals over the trees under ``roots``: ``s``
    (inclusive seconds), ``self_s``, job/stage/task counts including
    descendants, and any numeric attribute the workload set (rows,
    bytes, files)."""
    by_parent: dict[int, list[Span]] = {}
    for s in tracer.spans:
        if s.parent is not None:
            by_parent.setdefault(s.parent, []).append(s)
    out: dict[str, dict[str, float]] = {}

    def visit(s: Span) -> dict[str, float]:
        kids = by_parent.get(s.id, [])
        counts = {k: float(s.attrs.get(f"own_{k}", 0)) for k in _COUNTS}
        for c in kids:
            for k, v in visit(c).items():
                counts[k] += v
        agg = out.setdefault(s.name, {"calls": 0.0, "s": 0.0, "self_s": 0.0})
        agg["calls"] += 1
        agg["s"] += s.duration
        agg["self_s"] += self_time(s, kids)
        for k, v in counts.items():
            agg[k] = agg.get(k, 0.0) + v
        for k, v in s.attrs.items():
            if not k.startswith("own_"):
                agg[k] = agg.get(k, 0.0) + float(v)
        return counts

    for r in roots:
        visit(r)
    return out


def layer_shares(tracer: Tracer, roots: list[Span]) -> dict[str, float]:
    """Share of the roots' total time spent in their direct child spans,
    by layer (the first component of the span name)."""
    total = sum(r.duration for r in roots)
    ids = {r.id for r in roots}
    out: dict[str, float] = {}
    for s in tracer.spans:
        if s.parent in ids:
            layer = s.name.split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + s.duration / total
    return out
