"""Test-support code: fixtures and harnesses only tests call.

Kept out of the package so the package holds only what a query, a
bench line or a perfbench workload reaches (``test_reachability.py``).
"""

from __future__ import annotations

import glob
import os
import shutil
import struct
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from map_reduce_project_spark.operators.multimodal import (
    _flac_frame,
    _flac_stream,
    _FlacSubframeWriter,
)
from map_reduce_project_spark.sources.io import _normalize_event_ts
from map_reduce_project_spark.sources.pydatasource import (
    _LCG_A,
    _LCG_C,
    _LCG_M,
    _METRICS,
)


def chain_graph_df(spark: SparkSession, n: int) -> DataFrame:
    """Distributed chain: spark.range, no driver materialization."""
    return spark.range(n - 1).select(
        F.col("id").cast("string").alias("src"),
        (F.col("id") + 1).cast("string").alias("dst"),
    )


def stream_events_time_sliced(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    n_slices: int = 4,
) -> DataFrame:
    """events.parquet re-cut into ``n_slices`` TIME-ORDERED parquet
    files under ``out_dir`` with strictly increasing mtimes, streamed
    one file per micro-batch — the multi-micro-batch parity harness.

    The single-file gate streams process everything in ONE micro-batch,
    which exercises the stateful operators but not the cross-batch
    state-merge path a production stream lives on (watermark advancing
    between batches, session state carried and merged across commits).
    Slicing on the global ts order keeps every batch's rows at-or-after
    the previous batch's maximum, so the advancing watermark never
    drops a row and the availableNow final state must EXACTLY equal the
    batch result — any divergence is a state-merge bug, not late data.

    Reads through the test session, which already pins the UTC
    timezone and ``nanosAsLong`` that ``_normalize_event_ts`` needs.
    The global-order ntile is a single-partition window — fine at test
    size.
    """
    raw = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    sliced = raw.withColumn(
        "_slice",
        F.ntile(n_slices).over(Window.orderBy("ts", "event_id")),
    )
    now = time.time()
    for i in range(1, n_slices + 1):
        tmp_out = os.path.join(out_dir, f"_part_{i:02d}")
        sliced.where(F.col("_slice") == i).drop("_slice").coalesce(
            1
        ).write.mode("overwrite").parquet(tmp_out)
        (part,) = glob.glob(os.path.join(tmp_out, "part-*.parquet"))
        dst = os.path.join(out_dir, f"slice_{i:02d}.parquet")
        shutil.move(part, dst)
        shutil.rmtree(tmp_out, ignore_errors=True)
        os.utime(dst, (now + i, now + i))
    stream = (
        spark.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet")
        .parquet(out_dir)
    )
    return _normalize_event_ts(stream)


def minimal_mp4(doc_id: int) -> tuple[str, bytes]:
    """Deterministic minimal MP4: ftyp + moov/trak/tkhd (version 0)
    declaring w = 64 + 16*(id%8), h = 48 + 16*((id//8)%6) in 16.16
    fixed point. Container-metadata fixture (no media data)."""
    w = 64 + 16 * (doc_id % 8)
    h = 48 + 16 * ((doc_id // 8) % 6)

    def box(tag: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", len(payload) + 8) + tag + payload

    tkhd = box(
        b"tkhd",
        b"\x00" + b"\x00\x00\x07"  # version 0, flags
        + b"\x00" * 20  # creation/modification/track_ID/reserved/duration
        + b"\x00" * 52  # reserved/layer/group/volume/reserved/matrix
        + struct.pack(">II", w << 16, h << 16),
    )
    moov = box(b"moov", box(b"trak", tkhd))
    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isomiso2")
    return "video/mp4", ftyp + moov


def encode_flac_mono_subframe(kind: str, samp: list, **kw) -> bytes:
    """One-frame mono FLAC around an arbitrary subframe kind
    ('verbatim' | 'lpc') — the fixture harness for the decoder's
    remaining subframe types."""
    assert len(samp) == 256

    def body(wr: _FlacSubframeWriter) -> None:
        if kind == "verbatim":
            wr.verbatim(samp, 16)
        else:
            wr.lpc(samp, bps=16, **kw)

    return _flac_stream(1, 256, [_flac_frame(0, 0b0000, body)])


def telemetry_row(row_id: int) -> tuple[int, int, str, int]:
    """Scalar twin of ``sources.pydatasource.telemetry_batches``: the
    (id, device, metric, reading) row one id yields — the conformance
    oracle for the vectorized LCG."""
    x1 = (row_id * _LCG_A + _LCG_C) % _LCG_M
    x2 = (x1 * _LCG_A + _LCG_C) % _LCG_M
    return (
        row_id,
        x1 % 1000,                       # device
        _METRICS[(x1 // 1000) % 4],      # metric
        x2 % 10_000,                     # reading
    )
