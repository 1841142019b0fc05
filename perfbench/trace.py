"""Spans around the benchmark's calls into each engine layer.

A span records its name, start, end, the op it belongs to and its parent
span.  Spans stay in memory and are written out when the run ends.  While a
span is open, every Spark job it launches carries the job group
``<op>/<span>``, which is how the event log is attributed afterwards.

With tracing off the benchmark uses :class:`NullTracer`, which records
nothing and never calls into Spark.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass
from pathlib import Path


@dataclass
class Span:
    op: str
    name: str
    start: float
    end: float
    parent: str | None


class NullTracer:
    enabled = False

    def begin_op(self, op: str) -> None:
        pass

    def span(self, name: str):
        return contextlib.nullcontext()


class Tracer:
    enabled = True

    def __init__(self, spark_context) -> None:
        self._sc = spark_context
        self.spans: list[Span] = []
        self._op = "setup"
        self._stack: list[str] = []

    def begin_op(self, op: str) -> None:
        self._op = op
        self._stack.clear()
        self._sc.setJobGroup(f"{op}/-", op)

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self._sc.setJobGroup(f"{self._op}/{name}", self._op)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self._sc.setJobGroup(
                f"{self._op}/{self._stack[-1] if self._stack else '-'}",
                self._op)
            self.spans.append(Span(self._op, name, start, end, parent))

    def durations(self, name: str, ops: set[str]) -> list[float]:
        return [s.end - s.start for s in self.spans
                if s.name == name and s.op in ops]

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with path.open("w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")
