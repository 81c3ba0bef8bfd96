"""Structured Streaming operators: watermarked event-time windows.

The batch twins in queries/events.py carry the DuckDB oracle; these
run the SAME window expressions under ``readStream`` with watermarks,
which is the production path for unbounded event streams. Tests drive
them with ``trigger(availableNow=True)`` against the parquet testdata
and assert the final state equals the batch result — the
batch/streaming unification Spark guarantees for append-able aggs.

Late data: the watermark bounds state; events later than the watermark
are dropped. At 100 TB-scale ingest the knobs that matter are the
watermark delay (state size vs completeness) and
``spark.sql.shuffle.partitions`` for the stateful agg (state store
count). applyInPandasWithState is the escape hatch for custom state
machines; the built-in window/session_window cover the standard ones.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import time
import uuid


def _scratch_dir(prefix: str) -> str:
    """tempfile.mkdtemp registered for atexit removal — streaming
    scratch state (sentinel stream copies, memory-sink checkpoints)
    is per-run and would otherwise leak disk proportional to the
    events table size across repeated gate/test runs."""
    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEC = "decimal(18,2)"


def stream_events(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """events.parquet as a file stream (schema pinned from a batch read).

    ts arrives as bigint nanos (nanosAsLong) or TIMESTAMP_NTZ micros
    depending on the testdata generation; normalize to a UTC
    TIMESTAMP exactly like sources.io.read_table — watermarks reject
    NTZ event-time columns.
    """
    from map_reduce_project_spark.sources.io import _normalize_event_ts

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, "events.parquet")
    schema = spark.read.parquet(path).schema
    # the file-stream source needs a directory; glob-filter to the one file
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return _normalize_event_ts(stream)


def stream_tumbling_counts(
    events: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """Watermarked hourly tumbling counts — streaming twin of
    queries.events.ev_tumbling_q."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").start.alias("hour_start"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value"),
        )
    )


def stream_session_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Watermarked session windows — streaming twin of ev_sessions_q,
    with the identical output columns so the final state hash-matches
    the batch sessions oracle."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap))
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("last_event"),
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value"),
        )
        .select(
            "user_id", "session_start", "last_event", "n_events", "sum_value"
        )
    )


def stream_dedup_events(
    events: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """Streaming exact dedup: dropDuplicatesWithinWatermark on
    event_id — the unbounded-stream twin of batch dropDuplicates.

    State holds one entry per key only until the watermark passes it
    (bounded, unlike a plain streaming dropDuplicates whose state
    grows forever); duplicates arriving within the watermark window
    are suppressed, which is the at-least-once-ingest dedup contract:
    re-deliveries land seconds-to-minutes after the original, never
    beyond the watermark."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def stream_events_with_horizon_sentinel(
    spark: SparkSession,
    sf_dir: str,
    sentinel_user_id: int = -1,
    n_sentinel_batches: int = 1,
) -> DataFrame:
    """events.parquet as a file stream with FAR-FUTURE SENTINEL
    batches appended — the watermark-advancement trick that closes the
    bounded-stream completeness gap for stateful operators whose
    trailing emissions wait on the watermark (outer stream-stream
    joins: an unmatched left row only emits its null result once the
    watermark passes its eviction point, so the last
    watermark+window of a bounded stream is normally withheld).

    Mechanics: the real file is copied into a scratch directory, then
    ``n_sentinel_batches`` single-row-pair parquet files (one click +
    one purchase for ``sentinel_user_id``, event time ~1000 h past the
    real max, successive mtimes) are appended. With
    ``maxFilesPerTrigger=1`` the file source schedules them as LATER
    micro-batches, so the watermark provably advances past every real
    row's eviction point while data batches are still flowing — on an
    unbounded production stream this is just "time keeps passing";
    here it makes the availableNow result EXACTLY equal to the batch
    semantics, enabling a hash gate instead of a horizon-bounded
    property test. Callers filter ``user_id != sentinel_user_id``.

    ONE sentinel batch suffices (optimization round 13): the watermark
    computed from the sentinel batch is applied — and trailing state
    evicted/emitted — by the engine's closing no-data micro-batch
    (``spark.sql.streaming.noDataMicroBatches.enabled``, default true
    everywhere including the driver's vanilla session), so the second
    sentinel batch only re-ran state-store machinery for rows the
    no-data batch had already released. Measured at sf0.1: identical
    rows and hash, one fewer micro-batch plus one fewer sentinel-write
    job (~1 s of a ~4.5 s gate). Pass a larger value to reproduce the
    round-11/12 shape or to probe multi-batch watermark advancement.

    Sentinel rows are synthesized FROM the raw file's own schema (ts
    has shipped as both bigint nanos and TIMESTAMP_NTZ micros across
    testdata generations), so the directory stays homogeneous.

    Raises ``ValueError`` for one sentinel batch on a session with
    no-data micro-batches disabled: nothing would then apply the
    sentinel's watermark, and the trailing rows it exists to release
    would be lost without an error.
    """
    if (
        n_sentinel_batches == 1
        and spark.conf.get(
            "spark.sql.streaming.noDataMicroBatches.enabled", "true"
        ).lower()
        == "false"
    ):
        raise ValueError(
            "one horizon sentinel batch needs the closing no-data "
            "micro-batch to apply its watermark, but "
            "spark.sql.streaming.noDataMicroBatches.enabled is false; "
            "enable it or pass n_sentinel_batches=2"
        )
    import datetime
    import glob as _glob
    import shutil as _shutil

    from pyspark.sql import functions as F

    from map_reduce_project_spark.sources.io import _normalize_event_ts

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, "events.parquet")
    raw = spark.read.parquet(path)
    dtypes = dict(raw.dtypes)
    max_ts = raw.agg(F.max("ts")).collect()[0][0]

    d = _scratch_dir("ev_sentinel_")
    _shutil.copyfile(path, os.path.join(d, "events.parquet"))

    for i in range(n_sentinel_batches):
        if dtypes["ts"] == "bigint":  # nanos
            ts_lit = F.lit(
                int(max_ts) + (1000 + i) * 3_600 * 1_000_000_000
            ).cast("bigint")
        else:
            ts_lit = F.lit(
                max_ts + datetime.timedelta(hours=1000 + i)
            ).cast(dtypes["ts"])
        pair = None
        for j, etype in enumerate(("click", "purchase")):
            row = raw.limit(1).select(
                F.lit(-(1_000_000 + 2 * i + j))
                .cast(dtypes["event_id"])
                .alias("event_id"),
                ts_lit.alias("ts"),
                F.lit(sentinel_user_id)
                .cast(dtypes["user_id"])
                .alias("user_id"),
                F.lit(etype).cast(dtypes["event_type"]).alias("event_type"),
                F.lit(0.0).cast(dtypes["value"]).alias("value"),
                F.lit(None).cast(dtypes["props"]).alias("props"),
            )
            pair = row if pair is None else pair.unionAll(row)
        tmp_out = tempfile.mkdtemp(prefix="ev_sentinel_part_")
        pair.coalesce(1).write.mode("overwrite").parquet(tmp_out)
        (part,) = _glob.glob(os.path.join(tmp_out, "part-*.parquet"))
        dst = os.path.join(d, f"zz_sentinel_{i}.parquet")
        _shutil.move(part, dst)
        _shutil.rmtree(tmp_out, ignore_errors=True)
        # strictly increasing mtimes => strictly later micro-batches
        now = time.time()
        os.utime(dst, (now + i + 1, now + i + 1))

    stream = (
        spark.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet")
        .parquet(d)
    )
    return _normalize_event_ts(stream)


def run_stream_to_memory(
    streaming_df: DataFrame,
    query_name: str | None = None,
    output_mode: str = "complete",
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """Run a streaming aggregation to completion (availableNow) into a
    memory sink; returns the result as a batch DataFrame.

    ``shuffle_partitions``: stateful-operator partition count for THIS
    query (state-store instances = shuffle partitions, fixed at
    checkpoint creation). The session default is sized for batch
    shuffles; a bounded gate stream pays per-partition state-store
    machinery (provider init, maintenance snapshots, commit files)
    every micro-batch, which dominates when the data is small — the
    round-11 census measured the outer-join gate spending its wall on
    state plumbing across 32 stores for a 1,981-row result. Small
    values (4-8) are right for gate/test streams; production unbounded
    streams should size to data volume like any shuffle."""
    name = query_name or f"q_{uuid.uuid4().hex[:8]}"
    checkpoint = _scratch_dir("ckpt_")
    spark = streaming_df.sparkSession
    old_sp = None
    if shuffle_partitions is not None:
        old_sp = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(shuffle_partitions)
        )
    try:
        query = (
            streaming_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    finally:
        if old_sp is not None:
            spark.conf.set("spark.sql.shuffle.partitions", old_sp)
    return spark.table(name)


def stream_enriched_segment_counts(
    events: DataFrame,
    dims: DataFrame,
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-static enrichment + windowed agg: the most common
    production streaming shape (join each event to a slowly-changing
    dimension, then aggregate). The static side is broadcast — a
    stateless map-side hash join per micro-batch, no join state, no
    extra watermark bookkeeping; only the downstream window agg keeps
    state. At scale the dimension refreshes per micro-batch read, so
    a compacted dim table stays cheap to re-broadcast."""
    enriched = events.withWatermark("ts", watermark).join(
        F.broadcast(dims),
        events["user_id"] == dims["c_custkey"],
        "inner",
    )
    return (
        enriched.groupBy(
            F.window("ts", "1 day").start.alias("day_start"),
            "c_mktsegment",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value"),
        )
    )


def stream_session_counts_dynamic(
    events: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """Watermarked session windows with a PER-EVENT gap expression —
    the streaming twin of queries.events.ev_sessions_dynamic_gap_q
    (error events hold the session 5 minutes, others 30). Identical
    output columns, so the final state hash-matches the same
    running-horizon oracle."""
    gap = F.when(F.col("event_type") == "error", "5 minutes").otherwise(
        "30 minutes"
    )
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )
