"""Scale-engineering utilities: skew salting and bucketed co-location.

These are the manual levers for the cases AQE can't fix alone:

- ``salted_agg``: two-phase aggregation for skewed group keys. Phase 1
  aggregates on (key, salt) — the hot key's rows spread over
  ``n_salts`` reducers; phase 2 merges the per-salt partials. Works
  for any algebraic aggregate (sum/count/min/max); the default
  partial+final HashAggregate already handles most skew via map-side
  combine, so reach for this only when a single post-combine key still
  overwhelms one reducer (e.g. count-distinct-like states).
- ``salted_join``: replicate the small side ``n_salts`` times and salt
  the big side's key — every hot key's rows land on ``n_salts``
  reducers instead of one. AQE's skew-join split handles sort-merge
  skew automatically; this is for the cases AQE can't split (e.g.
  aggregations stacked on the join key downstream).
- ``write_bucketed``: hash-bucketed tables make equi-joins and
  aggregations on the bucket key shuffle-free — the 100 TB answer to
  "this join runs every hour on the same key" (read them back with
  ``spark.table``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def fan_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Ensure at least ``min_partitions`` (default: cluster default
    parallelism) partitions before a compute-heavy map stage.

    A small-file scan yields one partition per file (a parquet file
    can't split below a row group), which serializes everything
    map-side downstream — shingling, per-shingle hashing, Arrow UDF
    batches — onto one core while the rest of the cluster idles.
    Measured at bench scale: the MinHash pipeline over a single-file
    5k-doc corpus drops 6.6s -> 1.5s when fanned out to 32 partitions.
    One round-robin shuffle of the raw rows buys full parallelism for
    every downstream hash; a no-op when the scan is already wide
    (the 100 TB case — thousands of input splits), so operators can
    call it unconditionally.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def salted_agg(
    df: DataFrame,
    key_cols: list[str],
    agg_exprs: dict[str, str],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase skew-safe aggregation.

    ``agg_exprs`` maps output column -> one of sum/count/min/max over
    an input column, e.g. ``{"total": "sum(x)", "n": "count(*)"}``.
    Phase-2 merge uses sum for sum/count, min/max for min/max.
    """
    salted = df.withColumn(
        "_salt", (F.spark_partition_id() % n_salts).cast("int")
    )
    phase1 = salted.groupBy(*key_cols, "_salt").agg(
        *[F.expr(expr).alias(out) for out, expr in agg_exprs.items()]
    )
    mergers = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}
    merged = []
    for out, expr in agg_exprs.items():
        fn = expr.split("(", 1)[0].strip().lower()
        if fn not in mergers:
            raise ValueError(
                f"salted_agg supports {sorted(mergers)} aggregates, got "
                f"{expr!r}; decompose others (e.g. avg = sum/count) first"
            )
        merged.append(mergers[fn](out).alias(out))
    return phase1.groupBy(*key_cols).agg(*merged)


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: salt the big side, replicate the small side.

    Output columns = big's columns + small's non-key columns.
    """
    big_salted = big.withColumn(
        "_salt",
        # pmod, not abs+%: abs(Long.MIN_VALUE) stays negative in
        # non-ANSI Spark, and a negative salt would silently drop the
        # row from an inner join against the replicated small side
        F.pmod(F.xxhash64(*big.columns), F.lit(n_salts)).cast("int"),
    )
    salts = F.explode(
        F.array(*[F.lit(i) for i in range(n_salts)])
    ).alias("_salt")
    small_rep = small.select("*", salts)
    return big_salted.join(small_rep, [key, "_salt"], how).drop("_salt")


def bloom_prune_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    how: str = "inner",
    n_buckets: int = 1 << 16,
) -> DataFrame:
    """Join with a Bloom-style pre-filter on the big side.

    The small (already-filtered) side is reduced to its SET of occupied
    coarse hash buckets — at most ``n_buckets`` ints, bounded no matter
    how many keys the small side has — and the big side is pruned with
    a broadcast LEFT SEMI join on the bucket id (one xxhash64 probe per
    row, no shuffle of the big side) BEFORE the exact join runs. False
    positives (distinct keys sharing a bucket) survive the pre-filter
    but are eliminated by the exact join, so results are identical to a
    plain join — the pre-filter only cuts the rows the shuffle has to
    move, which is the point at 100 TB: this is the manual spelling of
    runtime dynamic filtering (Spark's own
    ``spark.sql.optimizer.runtime.bloomFilter.enabled`` injects the
    same shape automatically when thresholds allow; this operator makes
    it explicit, portable, and usable when the dim side is derived).

    Use when the small side is too large to broadcast its raw keys but
    its bucket set is not — the gap where neither broadcast-hash-join
    nor plain shuffle join is ideal.
    """
    buckets = (
        small.select(
            F.pmod(F.xxhash64(key), F.lit(n_buckets)).alias("_bucket")
        )
        .distinct()
    )
    pruned = (
        big.withColumn("_bucket", F.pmod(F.xxhash64(key), F.lit(n_buckets)))
        .join(F.broadcast(buckets), "_bucket", "left_semi")
        .drop("_bucket")
    )
    return pruned.join(small, key, how)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 16,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist as a hash-bucketed (optionally sorted) managed table.

    Joins/aggregations between tables bucketed the same way on the
    same key plan WITHOUT a shuffle (no Exchange under the join) —
    pre-paying the shuffle once at write time.
    """
    writer = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)
