"""Custom Python DataSource: partition planning + determinism."""

from __future__ import annotations

from pyspark.sql import functions as F

from map_reduce_project_spark.sources.pydatasource import register
from support import telemetry_row


def _read(spark, n_rows=500, n_parts=4):
    register(spark)
    return (
        spark.read.format("synthetic_telemetry")
        .option("n_rows", n_rows)
        .option("n_partitions", n_parts)
        .load()
    )



def _ids_from_read(reader, parts):
    """Flatten the Arrow-batch read() contract (round 12) to row_ids."""
    out = []
    for part in parts:
        for batch in reader.read(part):
            out.extend(batch.column("row_id").to_pylist())
    return out


def test_pydatasource_partition_parallel_scan(spark):
    df = _read(spark, 500, 4)
    # the reader's partition plan must become real scan tasks
    n_parts = df.select(F.spark_partition_id().alias("p")).distinct().count()
    assert n_parts == 4
    assert df.count() == 500


def test_pydatasource_rows_match_generator(spark):
    got = {r.row_id: (r.device, r.metric, r.reading)
           for r in _read(spark, 100, 3).collect()}
    assert len(got) == 100
    for rid in range(100):
        _, device, metric, reading = telemetry_row(rid)
        assert got[rid] == (device, metric, reading)


def test_pydatasource_filter_and_agg_compose(spark):
    # the source composes with ordinary Catalyst operators downstream
    df = _read(spark, 1000, 8)
    agg = (
        df.where(F.col("metric") == "temp")
        .groupBy("device")
        .agg(F.sum("reading").alias("s"))
    )
    expect = {}
    for rid in range(1000):
        _, device, metric, reading = telemetry_row(rid)
        if metric == "temp":
            expect[device] = expect.get(device, 0) + reading
    got = {r.device: r.s for r in agg.collect()}
    assert got == expect


def test_writer_two_phase_commit_leaves_no_tmp(spark, tmp_path):
    # after a successful write, only committed .jsonl files exist
    # (every .tmp was renamed in commit()), and the rows round-trip
    from map_reduce_project_spark.sources.pydatasource import (
        SCHEMA_DDL,
        register,
    )

    register(spark)
    out = str(tmp_path / "sink")
    df = (
        spark.read.format("synthetic_telemetry")
        .option("n_rows", 97)
        .option("n_partitions", 3)
        .load()
    )
    df.write.format("synthetic_telemetry").option("path", out).mode(
        "append"
    ).save()
    import os

    files = os.listdir(out)
    assert files and all(f.endswith(".jsonl") for f in files)
    assert len(files) == 3  # one committed file per input partition
    back = spark.read.schema(SCHEMA_DDL).json(f"{out}/*.jsonl")
    got = {tuple(r) for r in back.collect()}
    assert got == {telemetry_row(i) for i in range(97)}


def test_writer_requires_path_option(spark):
    from map_reduce_project_spark.sources.pydatasource import register

    register(spark)
    df = (
        spark.read.format("synthetic_telemetry")
        .option("n_rows", 5)
        .load()
    )
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    with _pytest.raises((Py4JJavaError, PySparkException, Exception)):
        df.write.format("synthetic_telemetry").mode("append").save()


def test_writer_respects_dataframe_column_order_and_overwrite(spark, tmp_path):
    from map_reduce_project_spark.sources.pydatasource import (
        SCHEMA_DDL,
        register,
    )

    register(spark)
    out = str(tmp_path / "sink2")
    df = (
        spark.read.format("synthetic_telemetry")
        .option("n_rows", 20)
        .option("n_partitions", 2)
        .load()
    )
    # REORDERED projection: values must land under the right JSON keys
    df.select("metric", "reading", "row_id", "device").write.format(
        "synthetic_telemetry"
    ).option("path", out).mode("append").save()
    back = spark.read.schema(SCHEMA_DDL).json(f"{out}/*.jsonl")
    got = {
        (r["row_id"], r["device"], r["metric"], r["reading"])
        for r in back.collect()
    }
    assert got == {telemetry_row(i) for i in range(20)}
    # mode=overwrite replaces the committed generation, not appends
    df.write.format("synthetic_telemetry").option("path", out).mode(
        "overwrite"
    ).save()
    assert spark.read.schema(SCHEMA_DDL).json(f"{out}/*.jsonl").count() == 20


def test_stream_reader_progress_path_survives_clean_restart(tmp_path):
    # A re-instantiated reader (clean stop: every batch committed, so
    # Spark replays nothing) must not emit a latestOffset behind the
    # committed floor. With progress_path set, commit() persists the
    # floor and __init__ re-reads it; without it, the documented
    # contract is fresh-checkpoint-on-restart.
    from map_reduce_project_spark.sources.pydatasource import (
        _TelemetryStreamReader,
    )

    prog = str(tmp_path / "floor.txt")
    opts = {
        "n_rows": "1000",
        "rows_per_batch": "250",
        "progress_path": prog,
    }
    r1 = _TelemetryStreamReader(opts)
    assert r1.initialOffset() == {"pos": 0}
    # run three committed batches: 0->250->500->750
    for _ in range(3):
        end = r1.latestOffset()
        r1.commit(end)
    assert end == {"pos": 750}

    # clean restart: fresh instance, first call is latestOffset()
    r2 = _TelemetryStreamReader(opts)
    nxt = r2.latestOffset()
    assert nxt["pos"] == 1000  # floor 750 adopted, advanced by batch
    parts = r2.partitions({"pos": 750}, nxt)
    assert _ids_from_read(r2, parts) == list(range(750, 1000))

    # without progress_path the fresh instance regresses (documented);
    # the floor logic still keeps offsets monotone WITHIN a lifetime
    r3 = _TelemetryStreamReader({"n_rows": "1000", "rows_per_batch": "250"})
    assert r3.latestOffset()["pos"] == 250
    r3.partitions({"pos": 750}, {"pos": 750})  # checkpoint adoption
    assert r3.latestOffset()["pos"] == 1000


def test_stream_reader_recovered_floor_seeds_fresh_checkpoint(tmp_path):
    # FRESH checkpoint + EXISTING progress file: initialOffset() must
    # answer the recovered floor, not 0 — otherwise Spark plans the
    # first batch [0, floor+batch) and re-delivers every committed
    # row in one oversized batch (round-6 ADVICE item 1).
    from map_reduce_project_spark.sources.pydatasource import (
        _TelemetryStreamReader,
    )

    prog = str(tmp_path / "floor.txt")
    opts = {
        "n_rows": "1000",
        "rows_per_batch": "250",
        "progress_path": prog,
    }
    r1 = _TelemetryStreamReader(opts)
    r1.commit(r1.latestOffset())  # floor = 250

    r2 = _TelemetryStreamReader(opts)  # fresh checkpoint path
    start = r2.initialOffset()  # Spark calls this BEFORE latestOffset
    assert start == {"pos": 250}
    end = r2.latestOffset()
    assert end == {"pos": 500}
    assert _ids_from_read(r2, r2.partitions(start, end)) == list(
        range(250, 500)
    )


def test_stream_reader_floor_beyond_shrunk_n_rows_never_regresses(
    tmp_path,
):
    # n_rows reduced between runs below the committed floor: the
    # emitted offset must hold at the floor (planning empty batches),
    # never regress below committed state (round-6 ADVICE item 2).
    from map_reduce_project_spark.sources.pydatasource import (
        _TelemetryStreamReader,
    )

    prog = str(tmp_path / "floor.txt")
    r1 = _TelemetryStreamReader(
        {"n_rows": "1000", "rows_per_batch": "400", "progress_path": prog}
    )
    r1.commit(r1.latestOffset())
    r1.commit(r1.latestOffset())  # floor = 800

    r2 = _TelemetryStreamReader(
        {"n_rows": "500", "rows_per_batch": "400", "progress_path": prog}
    )
    assert r2.initialOffset() == {"pos": 800}
    assert r2.latestOffset() == {"pos": 800}  # held, not 500
    assert r2.partitions({"pos": 800}, {"pos": 800}) and not _ids_from_read(
        r2, r2.partitions({"pos": 800}, {"pos": 800})
    )


def test_stream_reader_progress_write_is_atomic_and_monotone(tmp_path):
    from map_reduce_project_spark.sources.pydatasource import (
        _TelemetryStreamReader,
    )

    prog = str(tmp_path / "floor.txt")
    opts = {"n_rows": "100", "rows_per_batch": "40", "progress_path": prog}
    r = _TelemetryStreamReader(opts)
    r.commit({"pos": 80})
    r.commit({"pos": 40})  # stale/duplicate commit: floor only rises
    with open(prog) as f:
        assert int(f.read()) == 80
    import os

    assert not os.path.exists(prog + ".tmp")


def test_stream_reader_corrupt_progress_file_raises_actionably(tmp_path):
    import pytest

    from map_reduce_project_spark.sources.pydatasource import (
        _TelemetryStreamReader,
    )

    prog = tmp_path / "floor.txt"
    prog.write_text("not-a-number")
    with pytest.raises(ValueError, match="corrupt.*delete it"):
        _TelemetryStreamReader(
            {"n_rows": "10", "progress_path": str(prog)}
        )

def test_telemetry_batches_bit_equal_to_scalar_rows():
    # the round-12 Arrow fast path must emit EXACTLY the rows the
    # scalar generator (the SQL-oracle twin) defines — including
    # across chunk boundaries
    from map_reduce_project_spark.sources.pydatasource import (
        telemetry_batches,
    )

    got = []
    for batch in telemetry_batches(190, 1210, chunk=256):
        got.extend(
            tuple(r) for r in zip(*(c.to_pylist() for c in batch.columns))
        )
    assert got == [telemetry_row(i) for i in range(190, 1210)]
