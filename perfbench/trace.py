"""In-memory spans for the traced run.

A span is one call into a layer: name, start, end and the span that
caused it; every span of one run shares the run id. Spans are kept in
memory and written out once, when the run ends, so tracing adds no
I/O to the measured calls.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    span_id: int
    parent_id: int | None
    name: str
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


class Tracer:
    """Collects the spans of one run."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1].span_id if self._stack else None
        s = Span(next(self._ids), parent, name, time.monotonic(), attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.monotonic()
            self._stack.pop()

    def dump(self, path: str) -> None:
        """Write one JSON line per span; refuses to overwrite a file."""
        selfs = self_times(self.spans)
        with open(path, "x") as f:
            for s in self.spans:
                rec = asdict(s)
                rec["run_id"] = self.run_id
                rec["self_s"] = selfs[s.span_id]
                f.write(json.dumps(rec, sort_keys=True) + "\n")


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → duration minus the part of its interval that its
    direct children cover (overlapping children are counted once, and
    a child is clipped to its parent's interval)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent_id is not None:
            children.setdefault(s.parent_id, []).append(s)
    out = {}
    for s in spans:
        end = s.end if s.end is not None else s.start
        covered = [
            (max(c.start, s.start), min(c.end if c.end is not None else c.start, end))
            for c in children.get(s.span_id, [])
        ]
        covered = [(lo, hi) for lo, hi in covered if hi > lo]
        out[s.span_id] = (end - s.start) - _union_length(covered)
    return out
