"""Spans recorded from outside the program, and the arithmetic on them.

A :class:`Tracer` rebinds public functions of the program's modules to
wrappers that record a span per call: name, start, end, parent span and
the id of the request (image) the call belongs to.  Spans stay in
memory; :meth:`Tracer.dump` writes them out at the end of a run.
Rebinding happens only inside the benchmark process and is undone by
:meth:`Tracer.restore`.
"""

from __future__ import annotations

import functools
import json
import math
import time
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    trace_id: int
    attrs: dict | None = None

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.trace_id = 0

    def wrap(self, name: str, fn, attrs_of=None):
        """Return ``fn`` wrapped to record one span per call.
        ``attrs_of(args, kwargs)`` may add attributes (e.g. the format
        of an image being decoded)."""
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            parent = self._stack[-1] if self._stack else None
            sid = len(self.spans)
            span = Span(sid, name, time.perf_counter(), math.nan, parent,
                        self.trace_id,
                        attrs_of(args, kwargs) if attrs_of else None)
            self.spans.append(span)
            self._stack.append(sid)
            try:
                return fn(*args, **kwargs)
            finally:
                self._stack.pop()
                span.end = time.perf_counter()
        return traced

    def patch(self, owner, attr: str, name: str | None = None,
              attrs_of=None) -> None:
        """Rebind ``owner.attr`` (a module attribute) to a traced
        wrapper of itself."""
        orig = getattr(owner, attr)
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, self.wrap(name or attr, orig, attrs_of))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.sid, "name": s.name, "start": s.start,
                    "end": s.end, "parent": s.parent, "trace": s.trace_id,
                    "attrs": s.attrs}) + "\n")


def _covered(intervals: list[tuple[float, float]], lo: float,
             hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total = 0.0
    cur_lo = cur_hi = None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
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
    """Self time per span id: its duration minus the part of its
    interval that its direct children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {s.sid: s.dur - _covered(children.get(s.sid, []), s.start, s.end)
            for s in spans}


#: percentiles considered for a tail, highest last
_LADDER = (50.0, 90.0, 99.0, 99.9)


def tail_percentile(samples: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile of the ladder that
    has at least ten samples beyond it (p50 when none does).  Uses the
    nearest-rank value."""
    if not samples:
        raise ValueError("no samples")
    n = len(samples)
    pct = _LADDER[0]
    for p in _LADDER:
        if n - _rank(p, n) >= 10:
            pct = p
    return pct, percentile(samples, pct)


def _rank(p: float, n: int) -> int:
    """Nearest rank ceil(p/100 * n), immune to float noise in p*n."""
    return max(1, math.ceil(p * n / 100.0 - 1e-6))


def percentile(samples: list[float], p: float) -> float:
    """Nearest-rank percentile: the value at rank ceil(p/100 * n)."""
    xs = sorted(samples)
    return xs[_rank(p, len(xs)) - 1]
