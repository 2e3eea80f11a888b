"""In-memory spans around calls into the engine's layers.

A span records name, start, end, parent span and op id. Spans stay in
memory and are written once, when the run ends. A layer's self time is its
span's duration minus the part of that interval its child spans cover.
"""

from __future__ import annotations

import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        rec = {"id": sid, "name": name, "parent": parent, "op": op,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def with_self_times(self) -> list[dict]:
        """Spans with ``dur_s`` and ``self_s``. Children of one span run
        sequentially (one thread), so their durations do not overlap
        and the covered part of the parent is their sum."""
        child_s = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
        return [
            dict(s, dur_s=s["end"] - s["start"],
                 self_s=s["end"] - s["start"] - child_s[s["id"]])
            for s in self.spans
        ]

    def self_time_by_layer(self) -> dict:
        """Total self time per span name."""
        out: dict = {}
        for s in self.with_self_times():
            out[s["name"]] = out.get(s["name"], 0.0) + s["self_s"]
        return out
