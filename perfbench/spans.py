"""In-memory spans: name, start, end, parent and run id.

A span's self time is its duration minus the part of it that its child
spans cover.  Spans are kept in a list and written out when the run ends.
"""

from __future__ import annotations

import time


class _Span:
    __slots__ = ("tracer", "rec")

    def __init__(self, tracer: "Tracer", rec: dict):
        self.tracer = tracer
        self.rec = rec

    def __enter__(self) -> dict:
        self.rec["start"] = time.perf_counter()
        return self.rec

    def __exit__(self, *exc) -> None:
        self.rec["end"] = time.perf_counter()
        self.tracer._stack.pop()


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list = []
        self._stack: list = []

    def span(self, name: str) -> _Span:
        """Context manager recording one span of ``name`` under the
        innermost open span."""
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": None,
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        return _Span(self, rec)


def self_times(spans: list) -> dict:
    """name -> summed self time (s) over ``spans`` (children are nested
    and sequential, so the covered part is the sum of their durations)."""
    covered = [0.0] * len(spans)
    for s in spans:
        if s["parent"] is not None:
            covered[s["parent"]] += s["end"] - s["start"]
    out: dict = {}
    for s, c in zip(spans, covered):
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - c)
    return out


def durations(spans: list, name: str) -> list:
    return [s["end"] - s["start"] for s in spans if s["name"] == name]
