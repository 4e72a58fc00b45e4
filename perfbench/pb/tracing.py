"""Spans at the layer boundaries the benchmark calls into.

A span has a name, start, end (seconds on the run's monotonic clock),
the id of the span that caused it and the run id. Spans stay in memory
and are written as one JSON file when the run ends. ``NullTracer`` is
the untraced run's stand-in: same interface, records nothing.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import threading
import time


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        #: seconds spent recording spans: what tracing adds to a run
        self.self_s = 0.0

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        """Record ``name`` around the block. The parent defaults to the
        innermost open span of this thread; pass ``parent`` for work a
        span causes on another thread (the sink commits of a query)."""
        t = time.perf_counter()
        stack = self._stack()
        sid = next(self._ids)
        doc = {
            "id": sid,
            "name": name,
            "parent": parent if parent is not None else (stack[-1] if stack else None),
            "run": self.run_id,
            "start": time.monotonic(),
            **attrs,
        }
        stack.append(sid)
        spent = time.perf_counter() - t
        try:
            yield doc
        finally:
            t = time.perf_counter()
            stack.pop()
            doc["end"] = time.monotonic()
            with self._lock:
                self.spans.append(doc)
                self.self_s += spent + time.perf_counter() - t

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(sorted(self.spans, key=lambda s: s["start"]), f, indent=0)


class NullTracer:
    run_id = None
    spans: list[dict] = []
    self_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        yield {"id": None, **attrs}

