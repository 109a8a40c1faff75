"""In-memory spans around the benchmark's calls into each sparkfts layer.

A span records (name, start, end, parent, run id). Spans stay in memory
and are written as JSON lines when the run ends. A layer's self time is
its span's duration minus the time its child spans cover. With the
tracer disabled, ``span`` only yields, so untraced iterations pay one
attribute check per call.
"""
from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def names(self) -> set[str]:
        return {s["name"] for s in self.spans}

    def self_times(self, name: str) -> list[float]:
        """Self time in seconds of every span called ``name``. Children of
        one span run one after another (the client is single-threaded),
        so their durations do not overlap and simply add up."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return [s["end"] - s["start"] - child[s["id"]]
                for s in self.spans if s["name"] == name]

    def layer_self_s(self) -> dict[str, float]:
        """Total self time per layer, the layer being the span name's
        prefix before the first dot."""
        out: dict[str, float] = {}
        for name in self.names():
            layer = name.split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + sum(self.self_times(name))
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
