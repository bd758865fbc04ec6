"""Span recorder for traced benchmark runs.

A span covers one call into a layer of the engine, made from the benchmark's
own code: name, start, end, parent span and the trace id of the timed pass it
belongs to. Spans stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import itertools
import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from pathlib import Path


@dataclass
class Span:
    span_id: int
    parent_id: int | None
    trace_id: int
    name: str
    start: float
    end: float


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []
        self.trace_id = 0

    def new_trace(self) -> None:
        """Start a new timed pass: later spans share a fresh trace id."""
        self.trace_id += 1

    @contextmanager
    def span(self, name: str):
        span_id = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(span_id)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append(Span(span_id, parent, self.trace_id, name, start, end))

    def add(self, name: str, start: float, end: float, parent_id: int | None) -> int:
        """Record a span measured elsewhere (e.g. by the streaming engine)."""
        span_id = next(self._ids)
        self.spans.append(Span(span_id, parent_id, self.trace_id, name, start, end))
        return span_id

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps([asdict(s) for s in self.spans]))


def self_times(spans: list[Span]) -> dict[str, list[float]]:
    """Per span name, the self time of each span: its duration minus the
    part of its interval that its child spans cover."""
    children = defaultdict(list)
    for s in spans:
        if s.parent_id is not None:
            children[s.parent_id].append((s.start, s.end))
    out = defaultdict(list)
    for s in spans:
        covered, reach = 0.0, s.start
        for a, b in sorted(children[s.span_id]):
            a, b = max(a, reach, s.start), min(b, s.end)
            if b > a:
                covered += b - a
                reach = b
        out[s.name].append(s.end - s.start - covered)
    return dict(out)
