"""Spans around the benchmark's calls into the program's layers.

Each span has a name, start, end, parent and run id, is kept in memory
and written out when the run ends. Work inside a span runs under
`setJobGroup(<span name>)`, so the event-log folder can attribute
Spark's own task and SQL metrics to it. Spans are recorded only in the
benchmark's files, around public calls; the program itself is not
instrumented.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

JOB_GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, spark, run_id: str) -> None:
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self.rows: dict[str, int] = {}
        self._stack: list[str] = []
        self._kept: list = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self.sc.setJobGroup(name, name)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append(
                {"name": name, "start": start, "end": end, "parent": parent, "run_id": self.run_id}
            )
            if parent is None:
                self.sc.setLocalProperty(JOB_GROUP, None)
            else:
                self.sc.setJobGroup(parent, parent)

    def force(self, layer: str, build):
        """Build a layer's DataFrame and materialize it inside the span, so
        the span times the layer's work rather than plan construction."""
        with self.span(layer):
            df = build().persist()
            self._kept.append(df)
            self.rows[layer] = df.count()
        return df

    def action(self, layer: str, call, rows):
        """A layer whose public call is itself an action."""
        with self.span(layer):
            out = call()
        self.rows[layer] = int(rows(out))
        return out

    def keep(self, df) -> None:
        self._kept.append(df)

    def release(self) -> None:
        for df in self._kept:
            df.unpersist()
        self._kept.clear()

    def wall(self, name: str) -> float | None:
        spans = [s["end"] - s["start"] for s in self.spans if s["name"] == name]
        return sum(spans) if spans else None
