"""In-memory span recorder and self-time computation.

Spans are recorded from the benchmark's own code around calls into the
program's layers (no instrumentation inside the program).  Each span has a
name, start, end, parent span and call id; they stay in memory and are
written out once, after the measured window.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self):
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self.spans: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, call_id=None):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        with self._lock:
            span_id = next(self._ids)
        if call_id is None and parent is not None:
            call_id = parent["call_id"]
        rec = {
            "id": span_id,
            "name": name,
            "parent": parent["id"] if parent else None,
            "call_id": call_id,
            "start": time.perf_counter(),
            "end": None,
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def dump(self, path) -> None:
        with open(path, "w") as f:
            json.dump(sorted(self.spans, key=lambda s: s["id"]), f)


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
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


def self_times(spans) -> dict[int, float]:
    """Span id -> duration minus the part of its interval covered by its
    children (overlapping children are counted once)."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - _covered(children.get(s["id"], ()), s["start"], s["end"])
        for s in spans
    }


def by_name(spans, values: dict[int, float] | None = None) -> dict[str, list[float]]:
    """Span name -> list of durations (or of ``values[id]`` when given)."""
    out = defaultdict(list)
    for s in spans:
        out[s["name"]].append(
            values[s["id"]] if values is not None else s["end"] - s["start"]
        )
    return dict(out)
