"""In-memory span recorder for the traced run.

A span is (name, start, end, parent, op): ``parent`` is the index of the
enclosing span and ``op`` the operation it belongs to. Spans stay in memory
until :meth:`Spans.dump`, so recording costs two clock reads and an append.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


class Spans:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        idx = len(self.spans)
        self.spans.append(Span(name, time.monotonic(), 0.0, parent, op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.monotonic()

    def self_times(self) -> list[float]:
        """Per span: its duration minus the part of it its children cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        return [(s.end - s.start)
                - covered(s.start, s.end,
                          [(c.start, c.end) for c in children.get(i, [])])
                for i, s in enumerate(self.spans)]

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s, self_s in zip(self.spans, self.self_times()):
                f.write(json.dumps({**asdict(s), "self_s": self_s}) + "\n")


def covered(lo: float, hi: float, intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total
