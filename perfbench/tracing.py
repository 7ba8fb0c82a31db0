"""In-memory spans around the benchmark's calls into the program's layers.

A span records name, start, end and the span that was open when it began
(its parent). A layer's self time is its span durations minus the time its
child spans cover. Spans stay in memory and are written out with the run
record when the benchmark ends.

``Tracer(enabled=False)`` records nothing, so untraced runs pay only a no-op
context manager per call site.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import time
from collections import defaultdict


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
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

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    @contextlib.contextmanager
    def patched(self, targets: list[tuple[str, str, str]]):
        """Wrap each ``(module, attribute path, span name)`` in a span while
        the block runs, then restore the originals. An attribute path may
        name a class method (``"IcebergLiteTable.append"``). Modules that
        imported a function by name need their own entry, since they hold
        their own reference."""
        if not self.enabled:
            yield
            return
        undo = []
        try:
            for module, path, name in targets:
                owner = importlib.import_module(module)
                *outer, attr = path.split(".")
                for part in outer:
                    owner = getattr(owner, part)
                original = owner.__dict__[attr]
                undo.append((owner, attr, original))
                setattr(owner, attr, self.wrap(original, name))
            yield
        finally:
            for owner, attr, original in reversed(undo):
                setattr(owner, attr, original)

    def self_times(self) -> dict[str, float]:
        """Seconds of self time per span name, summed over its closed spans."""
        closed = [s for s in self.spans if s["end"] is not None]
        child_time: dict[int, float] = defaultdict(float)
        for s in closed:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in closed:
            out[s["name"]] += (s["end"] - s["start"]) - child_time[s["id"]]
        return dict(out)
