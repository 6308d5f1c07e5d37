"""In-memory spans recorded by the benchmark around its calls into each
layer of the program.

A span has a name, start, end, the span that caused it (its parent on the
same thread) and the id of the root span of its request (``trace``).
Spans stay in memory and are written out once, when the run ends. With
tracing off, ``span`` records nothing.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    parent: int | None
    trace: int
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        # time spent on tracing-only bookkeeping (job groups, status-store
        # reads, manifest reads for lag) — the tracer's own cost
        self.bookkeeping_s = 0.0
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sid = next(self._ids)
        s = Span(
            sid,
            parent.id if parent else None,
            parent.trace if parent else sid,
            name,
            time.perf_counter(),
            attrs=dict(attrs),
        )
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(s)

    @contextlib.contextmanager
    def bookkeeping(self):
        """Time tracing-only work so its cost can be reported."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dt = time.perf_counter() - t0
            with self._lock:
                self.bookkeeping_s += dt

    def named(self, name: str) -> list[Span]:
        with self._lock:
            return [s for s in self.spans if s.name == name]

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.named(name)]

    def write(self, path: str) -> None:
        with self._lock, open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s), default=str) + "\n")
