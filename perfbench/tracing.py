"""In-memory spans around every call the benchmark makes into a layer.

A span records name, layer, start, end, parent span and run id. Spans
stay in memory and are written as JSON once, when the run ends. A
layer's self time is its spans' durations minus the part of each
interval covered by child spans. With tracing off, ``span`` records
nothing, so an untraced pass runs exactly the calls a traced one does.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

LAYERS = ("session", "sources", "functions", "operators", "plans", "entry", "spark", "bench")


class Tracer:
    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        if layer not in LAYERS:
            raise ValueError(f"unknown layer {layer!r}")
        rec = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_seconds(self, since: int = 0) -> dict[str, float]:
        """Per-layer self time over the spans recorded from ``since`` on."""
        spans = self.spans[since:]
        kids: dict[int, list[dict]] = {}
        for s in spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out = {layer: 0.0 for layer in LAYERS}
        for s in spans:
            covered, cursor = 0.0, s["start"]
            for c in sorted(kids.get(s["id"], ()), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s["layer"]] += (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, **extra, "spans": self.spans}, f)
