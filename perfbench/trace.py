"""In-memory spans recorded around the benchmark's calls into each layer.

A span has a name, a start, an end and the span that caused it. Spans are
kept in memory and written out once, when the run ends; each span's self
time is its duration minus the part of it its children cover.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = self.add(name, time.time(), 0.0, **attrs)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        """Record a span measured elsewhere (e.g. a microbatch phase);
        its parent defaults to the innermost open span."""
        if parent is None and self._stack:
            parent = self._stack[-1]
        self.spans.append(
            {"id": len(self.spans), "name": name, "start": start, "end": end, "parent": parent, **attrs}
        )
        return len(self.spans) - 1

    def with_self_time(self) -> list[dict]:
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out = []
        for s in self.spans:
            covered = _union_length(
                [(max(c["start"], s["start"]), min(c["end"], s["end"])) for c in children.get(s["id"], [])]
            )
            dur = s["end"] - s["start"]
            out.append({**s, "duration_s": dur, "self_s": dur - covered})
        return out

    def write(self, path: str, **extra) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.with_self_time()}, f, indent=1)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, reach = 0.0, float("-inf")
    for lo, hi in sorted(i for i in intervals if i[1] > i[0]):
        if hi > reach:
            total += hi - max(lo, reach)
            reach = hi
    return total
