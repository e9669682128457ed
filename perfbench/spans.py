"""In-memory span recorder for the traced benchmark run.

A span is one timed call the benchmark makes into a layer of the engine:
name, start, end, parent span and the run id every span of one run
shares, plus free-form attributes (round size, job and task counts, the
host and path of a live-server request). Spans stay in memory and are
written out once, when the run ends, so recording costs one
``perf_counter`` pair and a list append per span.

The untraced run uses ``NullTracer``: the same call sites, no recording.
"""

from __future__ import annotations

import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans = []          # dicts, in order of completion
        self._stack = []         # open span ids of the driver thread
        self._lock = threading.Lock()
        self._next = 0
        self.t0 = time.perf_counter()

    def _new_id(self):
        with self._lock:
            self._next += 1
            return self._next

    @contextmanager
    def span(self, name, **attrs):
        """Time the body as a child of the innermost open span. Yields the
        attribute dict so the body can attach counts it learns late."""
        sid = self._new_id()
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield attrs
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self._add(sid, parent, name, start, end, attrs)

    def record(self, name, start, end, parent=None, **attrs):
        """A span timed elsewhere (e.g. on a server thread); thread-safe."""
        self._add(self._new_id(), parent, name, start, end, attrs)

    def current(self):
        return self._stack[-1] if self._stack else None

    def _add(self, sid, parent, name, start, end, attrs):
        span = {"run_id": self.run_id, "id": sid, "parent": parent,
                "name": name, "start": start - self.t0,
                "end": end - self.t0, **attrs}
        with self._lock:
            self.spans.append(span)

    def self_times(self):
        """{span name: (count, total secs, total self secs)}. Self time is
        a span's duration minus the part of it its children cover."""
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            dur = s["end"] - s["start"]
            covered = _union_length(children.get(s["id"], []),
                                    s["start"], s["end"])
            n, tot, slf = out.get(s["name"], (0, 0.0, 0.0))
            out[s["name"]] = (n + 1, tot + dur, slf + dur - covered)
        return out

    def write(self, path):
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                fh.write(json.dumps(s, default=str) + "\n")


def _union_length(intervals, lo, hi):
    """Length of the union of intervals clipped to [lo, hi]."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        s, e = max(s, lo), min(e, hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class NullTracer:
    """Tracing off: the span context costs one generator round trip."""

    @contextmanager
    def span(self, name, **attrs):
        yield attrs

    def current(self):
        return None
