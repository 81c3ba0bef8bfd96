"""Spans around the benchmark's calls into the library's layers.

A span sets the Spark job group for its duration, so every job it
submits can be attributed to it afterwards. Spans are kept in memory;
their counters are computed once, after the measured operation, from
the status store. The only work done inside a span's interval is the
job-group switch and one block-manager storage read at its end.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from counters import MB, Job, busy_s, storage_mb, totals


@dataclass
class Span:
    name: str
    group: str
    parent: str | None
    start: float
    end: float = 0.0
    storage_mb_after: float = 0.0
    extra: dict = field(default_factory=dict)


class Tracer:
    """Records spans for one run. ``span(name)`` is a context manager;
    ``open``/``close`` serve callers that only see stage boundaries
    (the capstone's stage hook)."""

    def __init__(self, spark, run_id: str):
        self._spark = spark
        self._sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        # seconds spent in open/close, inside the traced call's wall
        self.overhead_s = 0.0

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(span.group, span.name)

    def open(self, name: str) -> Span:
        t = time.perf_counter()
        parent = self._stack[-1].name if self._stack else None
        span = Span(
            name=name,
            group=f"{self.run_id}/{len(self.spans)}/{name}",
            parent=parent,
            start=time.time(),
        )
        self.spans.append(span)
        self._stack.append(span)
        self._set_group(span)
        self.overhead_s += time.perf_counter() - t
        return span

    def close(self, span: Span) -> None:
        span.end = time.time()
        t = time.perf_counter()
        span.storage_mb_after = storage_mb(self._spark)
        if self._stack.pop() is not span:
            raise RuntimeError(f"span {span.name} closed out of order")
        self._set_group(self._stack[-1] if self._stack else None)
        self.overhead_s += time.perf_counter() - t

    @contextmanager
    def span(self, name: str):
        s = self.open(name)
        try:
            yield s
        finally:
            self.close(s)

    def layer_metrics(self, jobs: list[Job]) -> dict[str, dict]:
        """Per-span counters from the jobs each span's group ran."""
        by_group: dict[str, list[Job]] = {}
        for j in jobs:
            by_group.setdefault(j.group, []).append(j)
        out = {}
        for s in self.spans:
            mine = by_group.get(s.group, [])
            tot = totals(mine)
            wall = s.end - s.start
            out[s.name] = {
                "wall_s": wall,
                "driver_s": max(0.0, wall - busy_s(mine, s.start, s.end)),
                "tasks": tot["tasks"],
                "failed_tasks": tot["failed_tasks"] + tot["killed_tasks"],
                "task_cpu_s": tot["cpu_ns"] / 1e9,
                "gc_s": tot["gc_ms"] / 1e3,
                "fetch_wait_s": tot["fetch_wait_ms"] / 1e3,
                "shuffle_mb": tot["shuffle_write_bytes"] / MB,
                "spill_mb": tot["disk_spill_bytes"] / MB,
                "input_mb": tot["input_bytes"] / MB,
                "storage_mb_after": s.storage_mb_after,
                **s.extra,
            }
        return out

    def records(self) -> list[dict]:
        return [
            {
                "name": s.name,
                "start": s.start,
                "end": s.end,
                "parent": s.parent,
                "run_id": self.run_id,
            }
            for s in self.spans
        ]
