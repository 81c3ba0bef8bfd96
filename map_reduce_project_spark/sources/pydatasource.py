"""Custom Python Data Source (Spark 4 ``pyspark.sql.datasource``).

The extensibility surface for sources Spark has no built-in reader
for: implement ``DataSource``/``DataSourceReader`` in Python, register
once per session, and the source becomes a first-class
``spark.read.format(...)`` with real partition-parallel scans
(``partitions()`` returns one ``InputPartition`` per split; each
``read(partition)`` runs in its own task, Arrow-batched back to the
JVM).

``SyntheticTelemetrySource`` is the demonstration instance: a
deterministic telemetry generator (two chained 31-bit LCG steps per
row id — products stay under 2^62, so the gate oracle reproduces
every row in overflow-safe ANSI arithmetic). The same class shape
reads a real external system at scale — swap the row generator for an
API/page reader; the partition-planning contract (one partition per
independently fetchable split) is what makes the source scale, not
the body.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

SCHEMA_DDL = (
    "row_id long, device long, metric string, reading long"
)

_METRICS = ("temp", "rpm", "volts", "amps")

# glibc LCG constants, mod 2^31: row_id * A + C never exceeds
# 2^31 * A ~ 2.4e18 < 2^63, so signed-64 SQL engines evaluate the
# identical expression without overflow
_LCG_A = 1103515245
_LCG_C = 12345
_LCG_M = 1 << 31


def telemetry_batches(start: int, end: int, chunk: int = 65536):
    """Arrow RecordBatches for row ids [start, end) — the Spark-4
    Python DataSource fast path (optimization round 12, guide §4.2):
    ``read()`` may yield ``pyarrow.RecordBatch`` objects instead of
    tuples, skipping the per-row pickle of the tuple protocol. The
    LCG is numpy-vectorized; the tests keep a scalar twin
    (``telemetry_row``) as the conformance oracle (bit-equality
    property-pinned).

    int64 safety: row_id * _LCG_A <= 2^31 * ~2^30 < 2^62 for
    row_id < _LCG_M — the same bound the module docstring pins for
    the SQL oracle, so the numpy int64 arithmetic cannot overflow
    for any id the source can emit (ids are row positions; a source
    larger than 2^31 rows would break the SQL-oracle contract first).
    """
    import numpy as np
    import pyarrow as pa

    metrics = np.asarray(_METRICS)
    for lo in range(start, end, chunk):
        hi = min(lo + chunk, end)
        ids = np.arange(lo, hi, dtype=np.int64)
        x1 = (ids * _LCG_A + _LCG_C) % _LCG_M
        x2 = (x1 * _LCG_A + _LCG_C) % _LCG_M
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(ids, type=pa.int64()),
                pa.array(x1 % 1000, type=pa.int64()),
                pa.array(metrics[(x1 // 1000) % 4]),
                pa.array(x2 % 10_000, type=pa.int64()),
            ],
            names=["row_id", "device", "metric", "reading"],
        )


class _RangePartition(InputPartition):
    def __init__(self, start: int, end: int) -> None:
        self.start = start
        self.end = end


class _TelemetryReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.n_rows = int(options.get("n_rows", 1000))
        self.n_partitions = int(options.get("n_partitions", 8))

    def partitions(self) -> list[InputPartition]:
        step = -(-self.n_rows // self.n_partitions)
        return [
            _RangePartition(lo, min(lo + step, self.n_rows))
            for lo in range(0, self.n_rows, step)
        ]

    def read(self, partition: _RangePartition) -> Iterator:
        # Arrow-batch yield (round 12): one LCG row per id,
        # vectorized — see telemetry_batches
        yield from telemetry_batches(partition.start, partition.end)


class SyntheticTelemetrySource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "synthetic_telemetry"

    def schema(self) -> str | StructType:
        return SCHEMA_DDL

    def reader(self, schema: StructType) -> DataSourceReader:
        return _TelemetryReader(self.options)

    def streamReader(self, schema: StructType) -> "DataSourceStreamReader":
        return _TelemetryStreamReader(self.options)

    def writer(self, schema: StructType, overwrite: bool) -> "DataSourceWriter":
        return _JsonlWriter(self.options, schema, overwrite)


def register(spark) -> None:
    """Idempotent session registration."""
    spark.dataSource.register(SyntheticTelemetrySource)


class _TelemetryStreamReader(DataSourceStreamReader):
    """Microbatch stream reader over the same LCG telemetry rows: the
    offset is simply the next unread row id, ``latestOffset`` advances
    it by ``rows_per_batch`` per planning cycle (bounded by
    ``n_rows``), and each batch's range is split into
    ``n_partitions`` task-side reads — the partition-planned
    streaming contract (not the Simple API, which reads on the
    driver; partition-planned is the one that scales).

    OFFSET RECOVERY. Spark's Python stream-reader protocol
    (``python_streaming_source_runner.py``: func ids 884-887) never
    hands the checkpointed offset back to a re-instantiated reader
    before the first ``latestOffset()`` call — only ``partitions()``
    and ``commit()`` ever see it, and only ``initialOffset()`` runs
    when there is NO checkpoint. After a CLEAN stop (every batch
    committed) a restarted reader therefore cannot know the committed
    floor in time, and a naive counter would emit a regressed offset
    that Spark records, re-delivering rows on the next restart. Two
    supported modes:

    - ``progress_path`` option set: ``commit()`` atomically persists
      the committed floor to that file and ``__init__`` re-reads it,
      so ``latestOffset()`` is monotone across restarts (the same
      pattern real connectors use — track delivery state in the
      external system, not the Spark checkpoint). This is the mode to
      use when a query may be stopped and resumed on one checkpoint.
    - unset: offsets are monotone within one reader lifetime (floors
      adopted from ``partitions()``/``commit()``), and a restart
      after a clean stop REQUIRES a fresh checkpoint directory —
      documented contract, enforced by nothing Spark exposes."""

    def __init__(self, options: dict) -> None:
        self.n_rows = int(options.get("n_rows", 1000))
        self.rows_per_batch = int(options.get("rows_per_batch", 250))
        self.n_partitions = int(options.get("n_partitions", 4))
        self.progress_path = options.get("progress_path")
        self.pos = 0
        if self.progress_path:
            try:
                with open(self.progress_path) as f:
                    raw = f.read().strip()
            except FileNotFoundError:
                raw = ""
            if raw:
                try:
                    self.pos = max(self.pos, int(raw))
                except ValueError as e:
                    raise ValueError(
                        f"progress_path file {self.progress_path!r} is "
                        f"corrupt (expected an integer offset, got "
                        f"{raw[:40]!r}); delete it to restart from 0 or "
                        "restore the last committed offset"
                    ) from e
        # snapshot for initialOffset(): the microbatch executor may
        # call latestOffset() BEFORE initialOffset() on a fresh
        # checkpoint, so answering the LIVE counter there would skip
        # the first batch — answer the floor as recovered at
        # construction instead
        self._initial_pos = self.pos

    def initialOffset(self) -> dict:
        # a floor recovered from progress_path must seed FRESH
        # checkpoints too: initialOffset only runs when there is no
        # checkpoint, and answering 0 there would plan the first
        # batch from 0 while latestOffset jumps past the floor —
        # re-delivering every already-committed row in one oversized
        # batch (round-6 ADVICE item 1). The construction-time
        # snapshot (NOT the live counter — latestOffset may run
        # first and would make a live answer skip batch 0) is 0
        # without a progress file: the ordinary fresh start.
        return {"pos": self._initial_pos}

    def latestOffset(self) -> dict:
        # clamp against the committed floor: if a restart recovers a
        # floor beyond the CURRENT n_rows option (n_rows reduced
        # between runs), min(pos + batch, n_rows) would REGRESS the
        # offset below committed state (round-6 ADVICE item 2). The
        # floor wins; the stream then plans empty batches rather
        # than re-delivering.
        self.pos = max(
            self.pos, min(self.pos + self.rows_per_batch, self.n_rows)
        )
        return {"pos": self.pos}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        lo, hi = int(start["pos"]), int(end["pos"])
        # offset contract: latestOffset must be monotone relative to
        # COMMITTED state, but a restarted query re-instantiates the
        # reader with pos = 0 while handing the checkpointed offsets
        # here (Spark replays the last unfinished batch first) — adopt
        # them so the planning counter never runs behind the
        # checkpoint and plans end < start batches
        self.pos = max(self.pos, lo, hi)
        n = max(1, min(self.n_partitions, hi - lo))
        step = -(-(hi - lo) // n) if hi > lo else 1
        return [
            _RangePartition(p, min(p + step, hi))
            for p in range(lo, hi, step)
        ] or [_RangePartition(lo, hi)]

    def read(self, partition: _RangePartition) -> Iterator:
        # Arrow-batch yield (round 12): one LCG row per id,
        # vectorized — see telemetry_batches
        yield from telemetry_batches(partition.start, partition.end)

    def commit(self, end: dict) -> None:
        # same adoption on the commit path: a committed offset is a
        # floor for every future latestOffset
        self.pos = max(self.pos, int(end["pos"]))
        if self.progress_path:
            # write-then-rename so a crash mid-write never truncates
            # the floor; the floor only ever rises
            import os

            tmp = self.progress_path + ".tmp"
            with open(tmp, "w") as f:
                f.write(str(self.pos))
            os.replace(tmp, self.progress_path)


class _JsonlCommitMessage(WriterCommitMessage):
    def __init__(self, tmp_name: str) -> None:
        self.tmp_name = tmp_name


class _JsonlWriter(DataSourceWriter):
    """Per-task JSONL writer with TWO-PHASE COMMIT: each task writes
    its rows to a ``.tmp`` file named by a task-unique uuid and
    returns the name as its commit message; only the driver-side
    ``commit()`` renames the reported files to their final names, and
    ``abort()`` removes every reported temp file. A task retry/
    speculative duplicate therefore leaves an orphaned ``.tmp`` at
    worst — never a half-visible or doubly-visible output — which is
    the exactly-once contract every real table format implements at
    this seam (Spark calls ``commit`` once, with one message per
    SUCCESSFUL task)."""

    def __init__(
        self, options: dict, schema: StructType, overwrite: bool
    ) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("synthetic_telemetry writer needs option 'path'")
        self.path = path
        # the WRITTEN DataFrame's schema, not SCHEMA_DDL: a caller may
        # reorder/project columns and rows arrive in ITS order
        self.cols = [f.name for f in schema.fields]
        self.overwrite = overwrite

    def write(self, iterator) -> "_JsonlCommitMessage":
        import json as _json
        import os
        import uuid

        os.makedirs(self.path, exist_ok=True)
        tmp = f"part-{uuid.uuid4().hex}.jsonl.tmp"
        with open(os.path.join(self.path, tmp), "w") as f:
            for row in iterator:
                f.write(_json.dumps(dict(zip(self.cols, row))) + "\n")
        return _JsonlCommitMessage(tmp)

    def commit(self, messages) -> None:
        import os

        if self.overwrite:
            # overwrite semantics resolve at COMMIT time: drop every
            # previously committed file, then reveal this write's set
            for name in os.listdir(self.path):
                if name.endswith(".jsonl"):
                    os.remove(os.path.join(self.path, name))
        for m in messages:
            src = os.path.join(self.path, m.tmp_name)
            os.rename(src, src[: -len(".tmp")])

    def abort(self, messages) -> None:
        import os

        for m in messages:
            try:
                os.remove(os.path.join(self.path, m.tmp_name))
            except FileNotFoundError:
                pass
