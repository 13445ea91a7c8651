"""In-memory spans around the benchmark's calls into each layer.

A span is (name, start, end, parent). Spans are kept in a list while the
run goes and written out once at the end; nothing is emitted inside the
program under test.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float          # epoch seconds, the same clock as the event log
    end: float | None = None
    parent: int | None = None   # index into Tracer.spans
    layer: str | None = None    # layer whose metrics the span feeds

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


class Tracer:
    """Collects nested spans; ``span()`` is a context manager."""

    def __init__(self, clock=time.time):
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str | None = None):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, self.clock(), parent=parent, layer=layer))
        self._stack.append(idx)
        try:
            yield self.spans[idx]
        finally:
            self._stack.pop()
            self.spans[idx].end = self.clock()

    def children(self, idx: int) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.parent == idx]

    def self_time(self, idx: int) -> float:
        """The span's duration minus the part of it its children cover."""
        return self_time(self.spans[idx],
                         [self.spans[i] for i in self.children(idx)])

    def innermost(self, t: float) -> int | None:
        """Index of the deepest closed span whose window holds ``t``."""
        best, best_depth = None, -1
        for i, s in enumerate(self.spans):
            if s.end is None or not (s.start <= t <= s.end):
                continue
            depth = self.depth(i)
            if depth > best_depth:
                best, best_depth = i, depth
        return best

    def depth(self, idx: int) -> int:
        d = 0
        while self.spans[idx].parent is not None:
            idx = self.spans[idx].parent
            d += 1
        return d

    def dump(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as f:
            json.dump({"spans": [asdict(s) for s in self.spans],
                       **(extra or {})}, f, indent=1)


def covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``intervals``."""
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


def self_time(span: Span, children: list[Span]) -> float:
    clipped = [(max(c.start, span.start), min(c.end, span.end))
               for c in children if c.end is not None]
    return span.duration - covered([iv for iv in clipped if iv[0] < iv[1]])
