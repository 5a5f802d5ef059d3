"""In-memory spans recorded around the benchmark's own calls.

A span is (trace id, span id, parent id, name, layer, start, end).
Spans of one benchmark job share a trace id. Nothing is written until
the run ends. ``NULL`` is the tracer of untraced runs: it keeps no
spans, so the timed runs pay only a context-manager call per span.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    trace_id: str
    span_id: int
    parent_id: int | None
    name: str
    layer: str
    start: float
    end: float
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Records spans; ``span()`` nests through an explicit stack."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._stack: list[Span] = []
        self.trace_id = "setup"

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        parent = self._stack[-1].span_id if self._stack else None
        s = Span(self.trace_id, next(self._ids), parent, name, layer,
                 time.time(), 0.0)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self.spans.append(s)

    def add(self, name: str, layer: str, start: float, end: float,
            parent_id: int | None, **attrs) -> None:
        """A span measured elsewhere (a Spark stage from the status
        store), attached under ``parent_id``."""
        self.spans.append(Span(self.trace_id, next(self._ids), parent_id,
                               name, layer, start, end, dict(attrs)))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


class _NullTracer:
    trace_id = ""

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        yield None


NULL = _NullTracer()


def union_length(intervals) -> float:
    """Length of the union of (start, end) intervals; empty ones count 0."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Seconds per layer: each span's duration minus the part of its
    interval that its children cover, summed by layer."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent_id is not None:
            children.setdefault(s.parent_id, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        kids = [(max(c.start, s.start), min(c.end, s.end))
                for c in children.get(s.span_id, [])]
        covered = union_length(kids)
        out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start) - covered
    return out
