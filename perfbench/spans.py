"""Spans around the benchmark's calls into each layer.

A span records name, start, end, parent and run id in memory.  While a
span is open, its id is the SparkContext job description, so every SQL
execution Spark starts inside it is tagged with the span that issued
it (``StatusStore.executions`` reads the tag back).  Spans are written
out once, when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

__all__ = ["Span", "Tracer"]

TAG = "perfbench span "


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0

    @property
    def duration_s(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, run_id: str) -> None:
        self._sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._open: list[Span] = []

    def tag(self, span: Span) -> str:
        return f"{TAG}{self.run_id}/{span.id}"

    @contextmanager
    def span(self, name: str):
        parent = self._open[-1] if self._open else None
        s = Span(len(self.spans), name, parent.id if parent else None, self.run_id, time.perf_counter())
        self.spans.append(s)
        self._open.append(s)
        self._sc.setJobDescription(self.tag(s))
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._open.pop()
            self._sc.setJobDescription(self.tag(parent) if parent else None)

    def subtree(self, span: Span) -> list[Span]:
        """``span`` and every span opened inside it."""
        out, frontier = [span], {span.id}
        for s in self.spans[span.id + 1 :]:
            if s.parent in frontier:
                out.append(s)
                frontier.add(s.id)
        return out

    def tags(self, span: Span) -> set[str]:
        return {self.tag(s) for s in self.subtree(span)}

    def self_s(self, span: Span) -> float:
        """Duration minus the part covered by direct children (which
        never overlap: spans nest on one thread)."""
        kids = [s for s in self.spans if s.parent == span.id]
        return span.duration_s - sum(k.duration_s for k in kids)

    def find(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f, indent=1)
