"""Spans for the traced run: one record per public engine call.

A span has a name, start, end, parent and run id. Spans are kept in
memory and written out once, at the end of the run. While a span is
open its id is the Spark job group (``setJobGroup``), so the event-log
fold can charge every Spark task to exactly one span.
"""

from __future__ import annotations

import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str, spark=None, clock=time.perf_counter):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = spark.sparkContext if spark is not None else None
        self._clock = clock

    def group(self, span_id: int) -> str:
        return f"{self.run_id}/{span_id}"

    def _set_group(self) -> None:
        if self._sc is None:
            return
        if self._stack:
            sid = self._stack[-1]
            self._sc.setJobGroup(self.group(sid), self.spans[sid]["name"])
        else:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": self._clock(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._set_group()
        try:
            yield rec
        finally:
            rec["end"] = self._clock()
            self._stack.pop()
            self._set_group()


def wall(span: dict) -> float:
    return span["end"] - span["start"]


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → wall time minus the wall time of its direct children."""
    out = {s["id"]: wall(s) for s in spans}
    for s in spans:
        if s["parent"] is not None:
            out[s["parent"]] -= wall(s)
    return out


def subtree(spans: list[dict], root_id: int) -> list[int]:
    """Ids of a span and all its descendants."""
    kids: dict[int, list[int]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s["id"])
    out, todo = [], [root_id]
    while todo:
        sid = todo.pop()
        out.append(sid)
        todo.extend(kids.get(sid, []))
    return sorted(out)
