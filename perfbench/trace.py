"""Spans recorded from outside the engine.

The traced run wraps the public functions a workload calls, or that
``StreamingPath`` calls on its behalf, and records one span per call:
name, start, end, parent span and an id (the micro-batch id, or the
query name). Spans stay in memory and are written once, at exit. A
layer's self time is its span's duration minus the time its child
spans cover.

The untraced run never builds a ``Tracer``, so its end-to-end numbers
carry no wrapper cost; ``enabled`` lets one traced process time the
same work with and without spans to report the tracing overhead.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans
    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, sid=None):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        rec = {
            "name": name,
            "id": sid if sid is not None else (parent["id"] if parent else None),
            "parent": parent["seq"] if parent else None,
            "start": time.perf_counter(),
            "end": None,
        }
        with self._lock:
            rec["seq"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def patch(self, owner, attr: str, make) -> None:
        """Replace ``owner.attr`` by ``make(original)``; ``restore``
        puts the original back."""
        orig = getattr(owner, attr)
        setattr(owner, attr, functools.wraps(orig)(make(orig)))
        self._patched.append((owner, attr, orig))

    def wrap(self, owner, attr: str, name: str) -> None:
        """Record a span around every call of ``owner.attr``."""

        def make(orig):
            def traced(*args, **kwargs):
                if not self.enabled:
                    return orig(*args, **kwargs)
                with self.span(name):
                    return orig(*args, **kwargs)

            return traced

        self.patch(owner, attr, make)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # ------------------------------------------------------------ reads
    def durations(self, name: str) -> list[float]:
        """Wall seconds of every finished span called ``name``."""
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"]]

    def self_times(self, name: str) -> list[float]:
        """Per span called ``name``: duration minus its children's."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"]:
                child[s["parent"]] += s["end"] - s["start"]
        return [
            s["end"] - s["start"] - child[s["seq"]]
            for s in self.spans
            if s["name"] == name and s["end"]
        ]

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        t0 = min((s["start"] for s in self.spans), default=0.0)
        rows = [
            {**s, "start": s["start"] - t0, "end": (s["end"] or s["start"]) - t0}
            for s in self.spans
        ]
        path.write_text(json.dumps(rows, default=str))


def trace_foreach_batch(tracer: Tracer) -> None:
    """Span every foreachBatch body, keyed by its batch id. The engine's
    runner hands its ``process`` closure to pyspark's writer; wrapping
    the writer's ``foreachBatch`` is the outside seam to it."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    def make(orig):
        def foreach_batch(self, func):
            def body(df, batch_id):
                with tracer.span("runner.foreach_batch", batch_id):
                    return func(df, batch_id)

            return orig(self, body)

        return foreach_batch

    tracer.patch(DataStreamWriter, "foreachBatch", make)
