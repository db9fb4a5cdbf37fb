"""Spans around the benchmark's calls into linkgraph, kept in memory.

Each span labels the Spark jobs submitted while it is the innermost open span
with ``setJobDescription("perfbench:<span id>")``, so :mod:`perfbench.eventlog`
can attribute Spark's task counters to it afterwards. Phase spans (setup,
warm-up, repetitions, oracles) are recorded in every run; layer spans only in
a traced run. The time spent opening and closing layer spans is the tracing
overhead, measured directly.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PREFIX = "perfbench:"


@dataclass
class Span:
    sid: str
    name: str
    parent: str | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def desc(self) -> str:
        return PREFIX + self.sid


class Tracer:
    def __init__(self, spark, layers: bool):
        self._sc = spark.sparkContext
        self.layers = layers
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, layer: bool = False, **attrs):
        """Open a span; a ``layer`` span is a no-op unless tracing layers."""
        if layer and not self.layers:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            sid=f"{len(self.spans)}.{name}",
            name=name,
            parent=parent.sid if parent else None,
            start=0.0,
            attrs=dict(attrs),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        self._sc.setJobDescription(sp.desc)
        sp.start = time.perf_counter()
        if layer:
            self.overhead_s += sp.start - t0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._sc.setJobDescription(parent.desc if parent else None)
            if layer:
                self.overhead_s += time.perf_counter() - sp.end

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.sid]

    def subtree(self, sp: Span) -> list[Span]:
        out, todo = [], [sp]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children(s))
        return out

    def self_s(self, sp: Span) -> float:
        """Span duration minus the part of it its child spans cover."""
        ivs = sorted((c.start, c.end) for c in self.children(sp))
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            s, e = max(s, sp.start), min(e, sp.end)
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return sp.wall_s - covered

    def find(self, name: str, under: Span | None = None) -> list[Span]:
        pool = self.subtree(under) if under is not None else self.spans
        return [s for s in pool if s.name == name]
