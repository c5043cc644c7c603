"""In-memory span tree for the traced run.

Spans nest (run -> pass -> query -> release/build/execute, and
stream -> batch -> restart); each records its wall time and the layer it
belongs to. Nothing is written while the run measures: ``to_json`` and
``self_time_by_layer`` are called once at the end.
"""

from __future__ import annotations

import time
from contextlib import contextmanager


class Span:
    __slots__ = ("name", "layer", "start", "end", "children", "attrs")

    def __init__(self, name: str, layer: str, start: float, end: float | None = None):
        self.name = name
        self.layer = layer
        self.start = start
        self.end = end
        self.children: list[Span] = []
        self.attrs: dict = {}

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start

    @property
    def self_time(self) -> float:
        """Own time: the span minus the union of its children's time
        (children may overlap each other, e.g. batches rebuilt from
        progress events, so their union is taken, clipped to the span)."""
        covered, edge = 0.0, self.start
        for c in sorted(self.children, key=lambda c: c.start):
            lo, hi = max(c.start, edge), min(c.end, self.end)
            if hi > lo:
                covered += hi - lo
                edge = hi
        return max(0.0, self.duration - covered)

    def to_json(self) -> dict:
        out = {"name": self.name, "layer": self.layer,
               "start": round(self.start, 6), "dur_s": round(self.duration, 6)}
        if self.attrs:
            out["attrs"] = self.attrs
        if self.children:
            out["children"] = [c.to_json() for c in self.children]
        return out


class Tracer:
    """Collects spans when enabled; when disabled ``span`` only yields
    ``None`` so the untraced run pays one generator frame per span."""

    def __init__(self, enabled: bool, clock=time.perf_counter):
        self.enabled = enabled
        self.clock = clock
        self.root = Span("run", "run", clock())
        self._stack = [self.root]

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        s = Span(name, layer, self.clock())
        self._stack[-1].children.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = self.clock()
            self._stack.pop()

    def add(self, name: str, layer: str, start: float, end: float, **attrs) -> Span | None:
        """Attach an already-finished span (e.g. a micro-batch rebuilt from
        its progress event) under the innermost open span."""
        if not self.enabled:
            return None
        s = Span(name, layer, start, end)
        s.attrs.update(attrs)
        self._stack[-1].children.append(s)
        return s

    def finish(self) -> Span:
        self.root.end = self.clock()
        return self.root


def self_time_by_layer(root: Span) -> dict[str, float]:
    """Sum of self time per layer over the whole tree."""
    totals: dict[str, float] = {}
    todo = [root]
    while todo:
        s = todo.pop()
        totals[s.layer] = totals.get(s.layer, 0.0) + s.self_time
        todo.extend(s.children)
    return totals
