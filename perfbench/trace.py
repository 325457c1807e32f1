"""In-memory spans for the traced run.

A span is (id, name, layer, parent, start, end, counts). Spans are
opened around each call the benchmark makes into a layer, kept in a
list, and written out once when the run ends. A span's self time is
its duration minus the part of its interval that its children cover.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, layer: str, **counts):
        s = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.monotonic(),
            "end": None,
            # epoch ms, to match Spark event-log timestamps
            "epoch_ms": time.time() * 1000.0,
            "counts": dict(counts),
        }
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.monotonic()
            self._stack.pop()

    def add(self, name, layer, start, end, parent, **counts) -> dict:
        """Record a finished span measured elsewhere (Spark jobs read
        back from the event log)."""
        s = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "parent": parent,
            "start": start,
            "end": end,
            "epoch_ms": None,
            "counts": dict(counts),
        }
        self.spans.append(s)
        return s

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total = 0.0
    cur_a = cur_b = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id -> duration minus the union of its children's intervals."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - covered(kids.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


def layer_self_times(spans: list[dict]) -> dict[str, float]:
    out: dict[str, float] = {}
    st = self_times(spans)
    for s in spans:
        out[s["layer"]] = out.get(s["layer"], 0.0) + st[s["id"]]
    return out
