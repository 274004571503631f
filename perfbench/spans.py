"""Span and count recorder for traced runs, plus the per-layer rollup.

A span is (name, start, end, parent, request id); a count is (name, value,
request id). Both stay in memory and are written out once, when the run
ends. Parents are tracked per thread, so two closed-loop clients can trace
at the same time. With tracing off every call is a no-op.
"""

from __future__ import annotations

import functools
import itertools
import json
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Recorder:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple] = []  # (id, name, t0, t1, parent, rid)
        self.counts: list[tuple] = []  # (name, value, rid)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def request(self, rid: str):
        """Tag every span and count opened in this thread with ``rid``."""
        prev = getattr(self._local, "rid", None)
        self._local.rid = rid
        try:
            yield
        finally:
            self._local.rid = prev

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = next(self._ids)
        stack = self._stack()
        parent = stack[-1] if stack else None
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append((sid, name, t0, t1, parent, getattr(self._local, "rid", None)))

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            with self._lock:
                self.counts.append((name, float(value), getattr(self._local, "rid", None)))

    def wrap(self, name: str, fn):
        """``fn`` with a span around every call."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [
                        dict(zip(("id", "name", "start", "end", "parent", "rid"), s)) for s in self.spans
                    ],
                    "counts": [dict(zip(("name", "value", "rid"), c)) for c in self.counts],
                },
                f,
            )


def _union_length(intervals: list[tuple[float, float]]) -> float:
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


def self_times(spans: list[tuple]) -> dict[int, float]:
    """Per span id: its duration minus the part of it its children cover."""
    children: dict[int, list] = defaultdict(list)
    for sid, _name, t0, t1, parent, _rid in spans:
        if parent is not None:
            children[parent].append((t0, t1))
    return {
        sid: (t1 - t0) - _union_length([(max(a, t0), min(b, t1)) for a, b in children[sid] if b > t0 and a < t1])
        for sid, _name, t0, t1, _parent, _rid in spans
    }


def rollup(rec: Recorder, keep=lambda rid: True) -> dict[str, dict]:
    """Per span name: n, median total and self seconds; per count name: n,
    sum, mean. Only spans and counts whose request id passes ``keep``."""
    selfs = self_times(rec.spans)
    by_name: dict[str, list] = defaultdict(list)
    for sid, name, t0, t1, _p, rid in rec.spans:
        if keep(rid):
            by_name[name].append((t1 - t0, selfs[sid]))
    out: dict[str, dict] = {}
    for name, xs in by_name.items():
        out[name] = {
            "n": len(xs),
            "median_s": statistics.median(x[0] for x in xs),
            "self_median_s": statistics.median(x[1] for x in xs),
            "total_s": sum(x[0] for x in xs),
        }
    counts: dict[str, list] = defaultdict(list)
    for name, value, rid in rec.counts:
        if keep(rid):
            counts[name].append(value)
    for name, vs in counts.items():
        out[name] = {"n": len(vs), "sum": sum(vs), "mean": sum(vs) / len(vs)}
    return out


def span_cost_s(n: int = 20000) -> float:
    """Seconds the recorder itself spends per span (opened and closed)."""
    rec = Recorder(True)
    t0 = time.perf_counter()
    for _ in range(n):
        with rec.span("x"):
            pass
    return (time.perf_counter() - t0) / n
