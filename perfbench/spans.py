"""Spans for the traced run.

A span has a name, the layer it times, start and end (seconds on the
benchmark's monotonic clock), its parent span and the request id it
belongs to. Spans stay in memory and are written once, at the end. The
untraced run uses ``NullTracer``, whose spans cost one attribute lookup.
"""

from __future__ import annotations

import contextlib
import time
from collections import defaultdict


class NullTracer:
    def span(self, name: str, layer: str, request: str | None = None):
        return contextlib.nullcontext()


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str, request: str | None = None):
        rec = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "parent": self._stack[-1] if self._stack else None,
            "request": request,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_time_by_layer(self) -> dict[str, float]:
        """Per layer: the time its spans spent outside their child spans."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["layer"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)
