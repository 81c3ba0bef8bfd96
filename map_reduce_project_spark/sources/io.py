"""Sources & sinks over the parquet star schema.

The reference's only source was a driver-side ``sc.parallelize`` of an
in-memory edge list (ccf_connected_components.py:207). The production
path here is columnar parquet scans — Catalyst pushes predicates and
prunes columns into the scan, which is the difference between reading
100 TB and reading the 2 columns x 3 partitions a query actually needs.

Tables (driver-provided, /root/testdata/sf*/): region nation customer
supplier part orders lineitem events documents embeddings.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar scan of one star-schema table.

    Plain ``spark.read.parquet`` so every downstream ``select``/``where``
    reaches the scan as ReadSchema/PushedFilters (verify with
    ``df.explain("formatted")``).

    events.ts has shipped in two physical shapes across testdata
    generations — TIMESTAMP(NANOS) (reads as a nanos long under
    spark.sql.legacy.parquet.nanosAsLong) and TIMESTAMP(MICROS,
    isAdjustedToUTC=false) (reads as TIMESTAMP_NTZ). Normalize both
    to a UTC TIMESTAMP_LTZ at microsecond precision: watermarks and
    streaming event time require LTZ, and a UTC-pinned session makes
    window/date_trunc semantics match the UTC-naive DuckDB oracle.
    """
    if name == "events":
        # runtime-settable; required even when the caller's session was
        # built without it (the round driver builds its own session)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = _normalize_event_ts(df)
    return df


def _normalize_event_ts(df: DataFrame) -> DataFrame:
    """ts (bigint nanos | timestamp_ntz | timestamp) -> UTC timestamp.

    The NTZ cast relies on the session timezone being UTC (pinned in
    read_table / stream_events before any read), so the wall-clock
    micros are reinterpreted as the same UTC instant.
    """
    from pyspark.sql import functions as F

    dtype = dict(df.dtypes).get("ts")
    if dtype == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if dtype == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the SQL surface."""
    for name in TABLES:
        read_table(spark, sf_dir, name).createOrReplaceTempView(name)


def read_csv(
    spark: SparkSession, path: str, schema: str | None = None
) -> DataFrame:
    """CSV ingest. Always pass an explicit schema in production —
    ``inferSchema`` is a full extra pass over the data (fine for small
    files, a second 100 TB scan otherwise)."""
    reader = spark.read.option("header", "true")
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json(
    spark: SparkSession, path: str, schema: str | None = None
) -> DataFrame:
    """JSON-lines ingest; same explicit-schema rule as CSV."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).option("header", "true").csv(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink — same columnar pushdown/pruning story as parquet for
    shops standardized on ORC."""
    df.write.mode(mode).orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)
