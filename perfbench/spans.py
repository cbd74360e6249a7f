"""In-memory spans around the benchmark's calls into each program layer.

A span is ``(id, name, parent, start, end)`` with wall-clock ``time.time()``
bounds, so it can be laid against Spark's event-log task times (epoch
milliseconds from the same clock).  Spans of one run share ``run_id``.
They are kept in memory and written out once, when the run ends.

When a ``SparkContext`` is attached, entering a span sets the Spark job
group to the span id (and leaving restores the parent's group), so every
job the call submits can be attributed back to the span from the event
log or ``statusTracker``.  With tracing off a ``Tracer`` still times the
spans the end-to-end metrics need, but sets no job group.
"""

from __future__ import annotations

import contextlib
import json
import time
import uuid
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    start: float
    end: float = 0.0

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.sc = None  # a SparkContext once tracing is on
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(f"{self.run_id}.{len(self.spans)}", name,
                 parent.id if parent else None, time.time())
        self.spans.append(s)
        self._stack.append(s)
        if self.sc is not None:
            self.sc.setJobGroup(s.id, name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(parent.id, parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def find(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"run_id": self.run_id, **asdict(s)}) + "\n")


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
