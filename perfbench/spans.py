"""In-memory spans, recorded by the benchmark around its own calls into
the engine's layers.

A span is (name, start, end, parent, step). Spans stay in memory until the
run ends, when they are written out and summarised: a layer's self time
is its spans' duration minus the part covered by child spans, and each
step's time not covered by any child span is reported as "unattributed".
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Records spans when `enabled`; a disabled tracer records nothing, so
    the untraced run measures the same code path."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[list] = []  # [name, start, end, parent index, step id]
        self._stack: list[int] = []
        self.step: str | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = [name, time.perf_counter(), None, parent, self.step]
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def step_span(self, step_id: str, name: str):
        """A top-level span that owns every span opened inside it."""
        prev, self.step = self.step, step_id
        try:
            with self.span(name):
                yield
        finally:
            self.step = prev

    def self_times(self) -> dict[str, float]:
        """Total self time per span name, plus "unattributed": the part of
        each top-level step span that no child span covers."""
        child_time = [0.0] * len(self.spans)
        for name, start, end, parent, _step in self.spans:
            if parent is not None:
                child_time[parent] += end - start
        out: dict[str, float] = defaultdict(float)
        for i, (name, start, end, parent, _step) in enumerate(self.spans):
            own = max(end - start - child_time[i], 0.0)
            if parent is None:
                out["unattributed"] += own
            else:
                out[name] += own
        return dict(out)

    def dump(self) -> list[list]:
        """Every span as [name, start, end, parent index, step id], times in
        seconds from the first span's start."""
        t0 = self.spans[0][1] if self.spans else 0.0
        return [[n, round(s - t0, 6), round(e - t0, 6), p, st] for n, s, e, p, st in self.spans]

    def span_seconds(self, name: str) -> list[float]:
        return [end - start for n, start, end, _p, _s in self.spans if n == name]
