"""In-memory spans around calls into the engine's layers.

A span records its name, start, end, parent span and op id. Spans are
kept in memory and written out when the run ends. The span name's first
dotted component names the layer (``operators.build`` → ``operators``),
and a layer's self time is the duration of its spans minus the part
covered by their child spans.

``Tracer(enabled=False)`` is the untraced mode: ``span`` then costs one
attribute test, so end-to-end figures are measured with tracing off.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def set_op(self, op: str | None) -> None:
        """Tag the calling thread's later spans with ``op``."""
        self._local.op = op

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        with self._lock:
            sid = self._next
            self._next += 1
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            span = Span(sid, name, start, end, parent, getattr(self._local, "op", None))
            with self._lock:
                self.spans.append(span)

    def wrap(self, name: str, fn):
        """``fn`` with each call recorded as a span called ``name``."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def self_time_by_layer(self) -> dict[str, float]:
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            layer = s.name.split(".", 1)[0]
            out[layer] += (s.end - s.start) - child_time[s.id]
        return dict(out)

    def cost_per_span(self, n: int = 2000) -> float:
        """Measured wall time one span adds, from ``n`` empty spans on a
        scratch tracer (the same code path as a real span)."""
        probe = Tracer(enabled=True)
        t0 = time.perf_counter()
        for _ in range(n):
            with probe.span("probe"):
                pass
        return (time.perf_counter() - t0) / n

    def dump(self, path: str) -> None:
        t0 = min((s.start for s in self.spans), default=0.0)
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s.start):
                fh.write(json.dumps({
                    "id": s.id, "name": s.name, "parent": s.parent, "op": s.op,
                    "start_s": round(s.start - t0, 6), "end_s": round(s.end - t0, 6),
                }) + "\n")
