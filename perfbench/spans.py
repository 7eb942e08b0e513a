"""Spans around the benchmark's calls into the engine.

A span records its name, start, end, parent and the operation it belongs
to. Spans are kept in memory and written out once, when the run ends.
Tracing is opt-in: with it off, ``span`` and ``patched`` cost one
attribute test, so the untraced run measures the engine alone.

Spans live only in the benchmark's files. To time a layer that the
engine calls internally (``runner.load`` calling the writers), the
traced run swaps the name the caller looks up for a timed wrapper
(``patched``) and puts the original back afterwards; no engine file
changes.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op = 0
        self.bookkeeping_s = 0.0    # time spent in the tracer itself

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "op": self.op,
               "parent": self._stack[-1] if self._stack else None,
               "start": 0.0, "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        rec["start"] = t1 = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = t2 = time.perf_counter()
            self._stack.pop()
            self.bookkeeping_s += (t1 - t0) + (time.perf_counter() - t2)

    def add(self, name: str, start: float, end: float, parent=None) -> int:
        """Record a span measured elsewhere (streaming progress events)."""
        sid = len(self.spans)
        self.spans.append({"id": sid, "name": name, "op": self.op,
                           "parent": parent, "start": start, "end": end})
        return sid

    def wrap(self, fn, name: str):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    @contextlib.contextmanager
    def patched(self, targets: list[tuple[object, str, str]]):
        """Time calls made through ``module.attr`` for each
        ``(module, attr, span name)`` while the block runs."""
        if not self.enabled:
            yield
            return
        saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in targets]
        for mod, attr, name in targets:
            setattr(mod, attr, self.wrap(getattr(mod, attr), name))
        try:
            yield
        finally:
            for mod, attr, fn in saved:
                setattr(mod, attr, fn)

    def self_times(self) -> dict[str, list[float]]:
        """Self time of every closed span, grouped by name: its duration
        minus the time its children cover (children of one parent run
        one after another, so their durations add)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, list[float]] = {}
        for s in self.spans:
            if s["end"] is not None:
                out.setdefault(s["name"], []).append(
                    s["end"] - s["start"] - child[s["id"]])
        return out

    def median_self(self, name: str) -> float:
        vals = self.self_times().get(name)
        return statistics.median(vals) if vals else 0.0

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
