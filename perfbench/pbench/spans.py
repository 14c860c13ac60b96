"""In-memory spans around calls into the library's layers.

A span records its name, start, end, parent and workload. When tracing is
on, each span also tags the Spark jobs it starts with a job group of the
same name, so the event-log folder (``eventlog.py``) attributes engine
counters to it. With tracing off ``span`` records nothing and sets no job
group.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    workload: str


def self_times(spans: list[Span]) -> dict[str, float]:
    """Total self time per span name: each span's duration minus the part
    of its interval that its direct children cover."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        covered, reach = 0.0, s.start
        for c in sorted(kids.get(i, []), key=lambda c: c.start):
            lo, hi = max(c.start, reach, s.start), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                reach = hi
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
    return out


class Tracer:
    def __init__(self, workload: str, enabled: bool, spark_context=None):
        self.workload = workload
        self.enabled = enabled
        self.sc = spark_context
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.workload))
        self._stack.append(idx)
        self._group(name)
        try:
            yield
        finally:
            self.spans[idx].end = time.perf_counter()
            self._stack.pop()
            self._group(self.spans[self._stack[-1]].name if self._stack else None)

    def _group(self, name: str | None) -> None:
        if self.sc is None:
            return
        if name is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(name, name)

    def walls(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f, indent=1)
