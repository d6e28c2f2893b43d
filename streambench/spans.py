"""Spans, self time and percentiles for the benchmark.

A traced run wraps each call the benchmark makes into an engine layer in
a span (name, start, end, parent). Spans stay in memory and are written
once at exit. A layer's self time is the time its spans cover minus the
part of that time their child spans cover. An untraced run uses a
disabled tracer whose ``span`` records nothing.
"""

from __future__ import annotations

import itertools
import json
import math
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass


def percentile(values, q: float) -> float:
    """The ``q``-th percentile (0..100) of ``values`` with linear
    interpolation between closest ranks (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None


class Tracer:
    """Records spans when ``enabled``. Each thread nests its own spans;
    a span opened on another thread with nothing open there (the stream
    sink runs on a callback thread) becomes a child of the span the
    creating thread has open."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._main = self._local.__dict__.setdefault("stack", [])

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        outer = stack or self._main
        parent = outer[-1] if outer else None
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent))
                self.overhead_s += (start - t0) + (time.perf_counter() - end)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([s.__dict__ for s in self.spans], fh)


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
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
    """Span id → its duration minus the part of it its children cover
    (children clipped to the parent's interval)."""
    children: dict[int, list[tuple[float, float]]] = {}
    by_id = {s.id: s for s in spans}
    for s in spans:
        p = by_id.get(s.parent)
        if p is not None:
            children.setdefault(p.id, []).append(
                (max(s.start, p.start), min(s.end, p.end)))
    return {s.id: (s.end - s.start)
            - _covered([iv for iv in children.get(s.id, []) if iv[1] > iv[0]])
            for s in spans}


def layer_self_times(spans: list[Span]) -> dict[str, float]:
    """Self time summed per layer; a span named ``layer.call`` belongs
    to ``layer``."""
    own = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        layer = s.name.split(".", 1)[0]
        out[layer] = out.get(layer, 0.0) + own[s.id]
    return out
