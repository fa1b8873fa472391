"""In-memory spans around the benchmark's calls into each module.

A span has a name (the module boundary it wraps, e.g. ``query.exec``),
a start, an end, its parent span and the id of the operation it belongs
to. Spans stay in memory and are written out once, at the end of a run.
A module's self time is its spans' duration minus the part covered by
their child spans, so the self times of a run add up to the wall time of
its root spans.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    sid: int
    name: str
    op: str | None
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when enabled; a disabled tracer records nothing."""

    def __init__(self, enabled: bool = True, clock=time.perf_counter):
        self.enabled = enabled
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = parent.op
        s = Span(len(self.spans), name, op, parent.sid if parent else None, self.clock())
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = self.clock()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Self time per span name: duration minus children's durations.
        Children nest strictly inside their parent (one thread, a stack),
        so subtracting their durations removes exactly the covered part."""
        child_sum: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child_sum[s.parent] = child_sum.get(s.parent, 0.0) + s.dur
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + s.dur - child_sum.get(s.sid, 0.0)
        return out

    def root_wall(self) -> float:
        return sum(s.dur for s in self.spans if s.parent is None)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)
