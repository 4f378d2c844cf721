"""In-memory spans recorded around calls into the program's public API.

A span is (id, name, start, end, parent) with epoch-second times, so
Spark event-log executions (epoch milliseconds, same clock) can be
nested under the job span that issued them.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list = []
        self._stack: list = []

    @contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "name": name, "start": time.time(),
               "end": None, "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float, parent) -> dict:
        rec = {"id": len(self.spans), "name": name, "start": start,
               "end": end, "parent": parent}
        self.spans.append(rec)
        return rec

    def current(self):
        """Id of the innermost open span, or None."""
        return self._stack[-1] if self._stack else None

    def named(self, name: str) -> list:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def covered(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
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
    """Σ over spans of each name: duration minus the part its children cover."""
    kids: dict = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict = {}
    for s in spans:
        own = s["end"] - s["start"]
        inner = [(max(a, s["start"]), min(b, s["end"]))
                 for a, b in kids.get(s["id"], []) if b > s["start"] and a < s["end"]]
        out[s["name"]] = out.get(s["name"], 0.0) + own - covered(inner)
    return out
