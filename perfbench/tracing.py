"""Spans around the benchmark's calls into the package's layers.

A span records its name, start, end, parent span and operation id. With
tracing on, every span runs under its own Spark job group, so the jobs,
stages and tasks it submitted are read back from ``statusTracker()``;
executor totals (task time, GC, shuffle, input) are diffed around the
measured window. Spans stay in memory and are written out once, at the end.
With tracing off, ``span`` only yields: the untraced run pays for nothing.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

EXECUTOR_FIELDS = {
    "task_s": ("totalDuration", 1e-3),
    "gc_s": ("totalGCTime", 1e-3),
    "shuffle_mb": ("totalShuffleRead", 1 / 2**20),
    "input_mb": ("totalInputBytes", 1 / 2**20),
}


@dataclass
class Span:
    span_id: int
    name: str
    op: str
    parent: int | None
    start: float
    end: float = 0.0
    child_s: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def self_s(self) -> float:
        return (self.end - self.start) - self.child_s


def executor_totals(spark) -> dict[str, float]:
    """Cumulative executor counters, after the listener bus has drained."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    execs = jsc.statusStore().executorList(True)
    out = dict.fromkeys(EXECUTOR_FIELDS, 0.0)
    for i in range(execs.size()):
        e = execs.apply(i)
        for key, (getter, scale) in EXECUTOR_FIELDS.items():
            out[key] += getattr(e, getter)() * scale
    return out


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spark = None
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping

    @contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(
            span_id=len(self.spans),
            name=name,
            op=op or (parent.op if parent else name),
            parent=parent.span_id if parent else None,
            start=0.0,
            attrs=attrs,
        )
        self.spans.append(s)
        self._stack.append(s)
        group = f"span-{s.span_id}"
        if self.spark is not None:
            self.spark.sparkContext.setJobGroup(group, f"{s.op} {name}")
        s.start = time.perf_counter()
        self.overhead_s += s.start - t_in
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                parent.child_s += s.end - s.start
            if self.spark is not None:
                self._count_jobs(s, group)
                sc = self.spark.sparkContext
                if parent is not None:
                    sc.setJobGroup(f"span-{parent.span_id}", f"{parent.op} {parent.name}")
                else:
                    sc._jsc.clearJobGroup()
            self.overhead_s += time.perf_counter() - s.end

    def _count_jobs(self, s: Span, group: str) -> None:
        st = self.spark.sparkContext.statusTracker()
        for j in st.getJobIdsForGroup(group):
            info = st.getJobInfo(j)
            if info is None:
                continue
            s.jobs += 1
            for sid in info.stageIds:
                stage = st.getStageInfo(sid)
                if stage is not None:
                    s.stages += 1
                    s.tasks += stage.numTasks

    def attach(self, spark) -> None:
        """Bind the live session: Spark counters are taken from here on."""
        self.spark = spark if self.enabled else None

    # -- summaries ---------------------------------------------------------

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_s(self, name: str, **attrs) -> list[float]:
        return [
            s.self_s for s in self.named(name)
            if all(s.attrs.get(k) == v for k, v in attrs.items())
        ]

    def median_self(self, name: str, scale: float = 1.0, **attrs) -> float:
        v = self.self_s(name, **attrs)
        return statistics.median(v) * scale if v else 0.0

    def total(self, name: str, what: str, **attrs) -> float:
        """Sum of a span field (``self_s``, ``jobs``, ...) over matching spans."""
        return sum(
            getattr(s, what)
            for s in self.named(name)
            if all(s.attrs.get(k) == v for k, v in attrs.items())
        )

    def write(self, path: str) -> None:
        by_name: dict[str, list[float]] = defaultdict(list)
        with open(path, "w") as fh:
            for s in self.spans:
                by_name[s.name].append(s.self_s)
                fh.write(json.dumps({
                    "span": s.span_id, "name": s.name, "op": s.op,
                    "parent": s.parent, "start": s.start, "end": s.end,
                    "self_s": s.self_s, "jobs": s.jobs, "stages": s.stages,
                    "tasks": s.tasks, **s.attrs,
                }) + "\n")
            fh.write(json.dumps({
                "self_time_s": {k: sum(v) for k, v in sorted(by_name.items())}
            }) + "\n")
