"""In-memory spans for the traced run.

Spans are recorded only from the benchmark's own code, around calls into
the package's public functions. A span's self time is its duration minus
the part of its interval that its child spans cover.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: "Span | None" = None
    children: list["Span"] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_time(self) -> float:
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(self.children, key=lambda s: s.start):
            lo, hi = max(c.start, self.start), min(c.end, self.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return self.duration - covered


class Tracer:
    """Records nested spans on one thread. When disabled, ``span`` costs
    one branch and records nothing."""

    def __init__(self, enabled: bool = True, clock=time.perf_counter):
        self.enabled = enabled
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(name, self.clock(), parent=parent)
        if parent is not None:
            parent.children.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = self.clock()
            self._stack.pop()
            self.spans.append(s)

    def self_times(self, name: str) -> list[float]:
        return [s.self_time for s in self.spans if s.name == name]

    @contextmanager
    def wrapping(self, targets):
        """Within the block, every ``(owner, attribute, span_name)`` in
        ``targets`` runs inside a span of that name; the originals are
        restored on exit."""
        saved = []
        try:
            for owner, attr, name in targets:
                fn = getattr(owner, attr)
                saved.append((owner, attr, fn))
                setattr(owner, attr, self._wrap(fn, name))
            yield
        finally:
            for owner, attr, fn in reversed(saved):
                setattr(owner, attr, fn)

    def _wrap(self, fn, name):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced
