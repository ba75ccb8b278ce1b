"""In-memory span recorder for the traced benchmark run.

A span has a name, a start and end (epoch seconds), a parent span and the
pass it belongs to. Spans stay in memory and are written out once, when the
run ends. Self time is a span's duration minus the part of its interval
that its children cover.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end] intervals."""
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


class Tracer:
    """Records spans when enabled; a disabled tracer costs one branch."""

    def __init__(self, enabled: bool, counter=None):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.pass_id: int | None = None
        # read at the start and end of every operator span
        self.counter = counter

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        self.spans.append(
            {"id": len(self.spans), "name": name, "start": start, "end": end,
             "parent": parent, "pass": self.pass_id, **attrs}
        )
        return len(self.spans) - 1

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        count = self.counter if self.counter and "op" in attrs else None
        if count:
            attrs["count_before"] = count()
        sid = self.add(name, time.time(), 0.0, parent, **attrs)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()
            if count:
                self.spans[sid]["count_after"] = count()

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def self_time(self, sid: int) -> float:
        s = self.spans[sid]
        kids = [
            (max(c["start"], s["start"]), min(c["end"], s["end"]))
            for c in self.children(sid)
        ]
        kids = [(a, b) for a, b in kids if b > a]
        return (s["end"] - s["start"]) - union_length(kids)

    def self_times(self) -> dict[str, list[float]]:
        """Self time per span name, one entry per span; Spark stages are
        pooled under "spark.stage"."""
        out: dict[str, list[float]] = {}
        for s in self.spans:
            s["self_s"] = self.self_time(s["id"])
            name = "spark.stage" if s["name"].startswith("spark.stage.") else s["name"]
            out.setdefault(name, []).append(s["self_s"])
        return out

    def dump(self, path, **extra) -> None:
        self.self_times()
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f)
