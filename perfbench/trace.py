"""Spans and counters recorded by the benchmark around each call into a layer.

Spans are kept in memory and written once, when the run ends.  With
tracing off every method returns at once, so the untraced run measures the
program and nothing else.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool, workload: str) -> None:
        self.enabled = enabled
        self.workload = workload
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()

    def begin(self, name: str, *, parent: int | None = None, item: str | None = None) -> int | None:
        if not self.enabled:
            return None
        with self._lock:
            sid = next(self._ids)
            self.spans.append(
                {
                    "id": sid,
                    "name": name,
                    "parent": parent,
                    "workload": self.workload,
                    "item": item,
                    "start": time.time(),
                    "end": None,
                }
            )
        return sid

    def end(self, sid: int | None) -> None:
        if sid is None:
            return
        with self._lock:
            self.spans[sid - 1]["end"] = time.time()

    @contextmanager
    def span(self, name: str, *, parent: int | None = None, item: str | None = None):
        sid = self.begin(name, parent=parent, item=item)
        try:
            yield sid
        finally:
            self.end(sid)

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time covered by child spans."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is not None:
                own = s["end"] - s["start"] - child.get(s["id"], 0.0)
                out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path: str) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")
