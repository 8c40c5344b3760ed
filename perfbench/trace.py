"""In-memory span and count recorder for the traced run.

Spans are recorded around the benchmark's calls into each layer (name,
start, end, parent, micro-batch id); counts at the same boundaries. Both
stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass(frozen=True)
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    batch: int | None

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[tuple[int, int | None]] = []  # (span id, batch)
        self._next_id = 0

    @contextmanager
    def span(self, name: str, batch: int | None = None):
        """Time the enclosed block; a span without a batch id inherits its
        parent's."""
        sid = self._next_id
        self._next_id += 1
        parent, parent_batch = self._stack[-1] if self._stack else (None, None)
        if batch is None:
            batch = parent_batch
        self._stack.append((sid, batch))
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append(Span(sid, name, start, end, parent, batch))

    def count(self, name: str, n: float) -> None:
        self.counts[name] += n

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"kind": "span", **asdict(s)}) + "\n")
            for k, v in sorted(self.counts.items()):
                f.write(json.dumps({"kind": "count", "name": k, "value": v}) + "\n")


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its child
    spans cover (children that overlap each other are counted once)."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    return {
        s.span_id: s.duration - _covered(children[s.span_id], s.start, s.end)
        for s in spans
    }


def layer_self_time(spans: list[Span], prefix: str) -> float:
    """Total self time of the spans named ``prefix`` or ``prefix.*``."""
    st = self_times(spans)
    return sum(
        st[s.span_id]
        for s in spans
        if s.name == prefix or s.name.startswith(prefix + ".")
    )
