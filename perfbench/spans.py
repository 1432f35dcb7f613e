"""In-memory spans for the traced run, written out when the run ends.

A span records name, start, end, its parent span and the trace id of
the workload iteration it belongs to. A span's self time is its
duration minus the part of its interval its child spans cover.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._ids = itertools.count(1)
        self.trace_id = 0

    def new_trace(self) -> int:
        self.trace_id += 1
        return self.trace_id

    @contextlib.contextmanager
    def span(self, name: str):
        sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "trace": self.trace_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self_times(self.spans)}, f)


def covered(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans) -> dict:
    """{span id: self seconds}; children are clipped to their parent."""
    children: dict = {}
    for sp in spans:
        if sp["parent"] is not None:
            children.setdefault(sp["parent"], []).append(sp)
    out = {}
    for sp in spans:
        s, e = sp["start"], sp["end"]
        kids = [
            (max(c["start"], s), min(c["end"], e))
            for c in children.get(sp["id"], ())
            if c["end"] > s and c["start"] < e
        ]
        out[sp["id"]] = (e - s) - covered(kids)
    return out


def duration(span: dict) -> float:
    return span["end"] - span["start"]


def total_by_name(spans, name: str) -> float:
    return sum(duration(sp) for sp in spans if sp["name"] == name)
