"""Spans around the benchmark's calls into each layer.

A span records its name, start, end and parent. While it is open, the
Spark jobs it causes run under a job group named after it, so the event
log can be folded back onto spans. Spans are kept in memory and written
out once, when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    group: str
    parent: str | None
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc) -> None:
        self._sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1].group if self._stack else None
        s = Span(name, f"{len(self.spans)}:{name}", parent, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self._sc.setLocalProperty(GROUP_KEY, s.group)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._sc.setLocalProperty(
                GROUP_KEY, self._stack[-1].group if self._stack else None
            )

    def add(self, name: str, start: float, end: float, parent: Span) -> Span:
        """Record a span measured by other means (no job group of its own)."""
        s = Span(name, f"{len(self.spans)}:{name}", parent.group, start, end)
        self.spans.append(s)
        return s

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.group]

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        covered = _union(
            [(max(c.start, span.start), min(c.end, span.end)) for c in self.children(span)]
        )
        return span.duration - covered

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f, indent=1)


def _union(intervals: list[tuple[float, float]]) -> float:
    total, reach = 0.0, float("-inf")
    for a, b in sorted(intervals):
        a = max(a, reach)
        if b > a:
            total += b - a
            reach = b
    return total
