"""In-memory spans: name, start, end and parent, written out as JSONL at the end.

Spans nest workload > pass > the benchmark's call into a layer > the Spark
jobs and stages that ran inside that call. Job and stage spans are added
after the fact from the status store's submission and completion times.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    span_id: int
    parent: int | None
    name: str
    layer: str
    start: float
    end: float


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cursor = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cursor), min(b, hi)
        if b > a:
            total += b - a
            cursor = b
    return total


class Tracer:
    """Collects spans. A disabled tracer records nothing, so the same pass
    code serves traced and untraced passes."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        #: parent of spans opened with no enclosing span
        self.root: int | None = None
        self._stack: list[int] = []

    def add(
        self, name: str, layer: str, start: float, end: float, parent: int | None
    ) -> int:
        span = Span(len(self.spans), parent, name, layer, start, end)
        self.spans.append(span)
        return span.span_id

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else self.root
        sid = self.add(name, layer, time.time(), 0.0, parent)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans[sid].end = time.time()

    def children(self) -> dict[int, list[Span]]:
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        return kids

    def self_times(self) -> dict[str, float]:
        """Seconds per layer: each span's duration minus the part of it that
        its children cover."""
        kids = self.children()
        out: dict[str, float] = {}
        for s in self.spans:
            inner = [(c.start, c.end) for c in kids.get(s.span_id, [])]
            own = (s.end - s.start) - covered(inner, s.start, s.end)
            out[s.layer] = out.get(s.layer, 0.0) + own
        return out

    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")
