"""In-memory spans for the traced run, and the self-time arithmetic.

A span is recorded around each public call the benchmark makes into a layer
and around each executed plan prefix. Spans of one pass share a trace id.
Nothing is written until the run ends (`Tracer.dump`).
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    trace_id: int
    span_id: int
    parent: int | None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans; `enabled=False` makes every span a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._trace_id = 0

    def new_trace(self) -> int:
        self._trace_id += 1
        return self._trace_id

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].span_id if self._stack else None
        s = Span(name, time.perf_counter(), 0.0, self._trace_id,
                 len(self.spans), parent, attrs)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def dump(self, path: str, extra: dict) -> None:
        """Writes every span, with its self time, plus `extra` as JSON."""
        selfs = self_times(self.spans)
        spans = [{**asdict(s), "self_s": selfs[s.span_id]} for s in self.spans]
        with open(path, "w") as f:
            json.dump({"spans": spans, **extra}, f)


def self_times(spans: list[Span]) -> dict[int, float]:
    """span_id -> duration minus the part of its interval that its direct
    children cover (children may overlap each other)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(kids.get(s.span_id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.span_id] = s.duration - covered
    return out


def prefix_self_times(prefix_walls: dict[str, list[float]]) -> dict[str, float]:
    """Ordered {prefix name: wall times of its passes} -> per-layer self time:
    each prefix's median minus the median of the prefix before it."""
    out, prev = {}, 0.0
    for name, walls in prefix_walls.items():
        med = statistics.median(walls)
        out[name] = med - prev
        prev = med
    return out
