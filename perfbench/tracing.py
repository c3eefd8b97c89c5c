"""In-memory spans for the traced run.

A span has a name, start, end, parent and op id. Spans are kept in a
list while the benchmark runs and written out once at the end. A span's
self time is its duration minus the part of it covered by its children.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    span_id: int
    name: str
    op_id: int
    parent: int | None
    start: float
    end: float = 0.0
    counts: dict | None = None

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.op_id = 0

    @contextmanager
    def span(self, name: str, **counts):
        parent = self._stack[-1].span_id if self._stack else None
        s = Span(len(self.spans), name, self.op_id, parent, time.time(), counts=counts or None)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def self_times(self, root: Span) -> dict[str, float]:
        """Self time per span name under root (root included), in seconds.
        Children of one parent run one after another, so their
        durations do not overlap and can be summed."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        todo = [root]
        while todo:
            s = todo.pop()
            children = kids.get(s.span_id, [])
            out[s.name] = out.get(s.name, 0.0) + s.dur - sum(c.dur for c in children)
            todo.extend(children)
        return out

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")
