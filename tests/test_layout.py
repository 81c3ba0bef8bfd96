"""Z-order layout: interleave goldens + the multi-column pruning
property that motivates the operator."""

from __future__ import annotations

from pyspark.sql import functions as F

from map_reduce_project_spark.operators.layout import zorder_code, zorder_layout


def test_zorder_code_goldens(spark):
    # round-robin interleave: col i's bit b -> position b*n + i
    rows = [(0, 0, 0), (3, 1, 7), (1, 3, 11), (1023, 1023, (1 << 20) - 1)]
    df = spark.createDataFrame(
        [(x, y) for x, y, _ in rows], "x long, y long"
    ).select("x", "y", zorder_code(["x", "y"], bits=10).alias("z"))
    got = {(r.x, r.y): r.z for r in df.collect()}
    for x, y, expect in rows:
        assert got[(x, y)] == expect, (x, y, got[(x, y)], expect)


def test_zorder_code_is_codegen_arithmetic(spark):
    # the interleave must stay inside whole-stage codegen: no
    # python UDF / BatchEvalPython in the plan
    from plan_inspect import formatted_plan

    df = spark.range(100).select(
        (F.col("id") % 10).alias("x"), (F.col("id") % 7).alias("y")
    )
    text = formatted_plan(df.select(zorder_code(["x", "y"], 8).alias("z")))
    assert "BatchEvalPython" not in text and "ArrowEvalPython" not in text
    assert "codegen id" in text  # every stage whole-stage-compiled


def test_zorder_layout_prunes_on_both_columns(spark):
    # 32x32 full grid, 4 range partitions on the z-code. A contiguous
    # z-range is a union of aligned z-tiles, so each partition's
    # bounding box in (x, y) stays small on BOTH axes — unlike an
    # x-sorted layout, where every partition spans the full y range
    # and a y-predicate can prune nothing.
    grid = spark.range(1024).select(
        (F.col("id") % 32).alias("x"), (F.col("id") / 32).cast("long").alias("y")
    )
    z = zorder_layout(grid, ["x", "y"], bits=5, n_partitions=4)

    def partition_boxes(df):
        boxes = (
            df.withColumn("pid", F.spark_partition_id())
            .groupBy("pid")
            .agg(
                F.min("x").alias("x0"), F.max("x").alias("x1"),
                F.min("y").alias("y0"), F.max("y").alias("y1"),
            )
            .collect()
        )
        return {(r.x0, r.x1, r.y0, r.y1) for r in boxes}

    zboxes = partition_boxes(z)
    assert len(zboxes) == 4
    # a y-band predicate (y < 8) must be prunable: at least one
    # partition's min_y is above the band
    assert any(y0 >= 8 for (_, _, y0, _) in zboxes)
    # and symmetrically for x
    assert any(x0 >= 8 for (x0, _, _, _) in zboxes)

    xsorted = grid.repartitionByRange(4, "x").sortWithinPartitions("x")
    xboxes = partition_boxes(xsorted)
    # the single-column layout cannot prune on y: every partition
    # spans (nearly) the whole y range
    assert all(y1 - y0 >= 24 for (_, _, y0, y1) in xboxes)


def test_zorder_code_masks_out_of_range(spark):
    # values >= 2^bits wrap into their own bit lane instead of
    # corrupting the neighbor's: code(x + 2^bits, y) == code(x, y)
    df = spark.createDataFrame([(5, 9), (5 + 32, 9)], "x long, y long")
    out = df.select(zorder_code(["x", "y"], bits=5).alias("z")).collect()
    assert out[0].z == out[1].z


def _xy2d(order, x, y):
    d = 0
    s = order // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = s - 1 - x, s - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_hilbert_code_matches_reference_and_is_bijective(spark):
    from pyspark.sql import functions as F

    from map_reduce_project_spark.operators.layout import with_hilbert_code

    bits = 6
    side = 1 << bits
    grid = spark.range(side * side).select(
        (F.col("id") % side).alias("x"),
        (F.col("id") / side).cast("long").alias("y"),
    )
    rows = with_hilbert_code(grid, "x", "y", bits=bits).collect()
    got = {(r.x, r.y): r._hcode for r in rows}
    assert len({*got.values()}) == side * side  # bijection
    for (x, y), d in list(got.items())[::7]:
        assert d == _xy2d(side, x, y), (x, y)


def test_hilbert_curve_is_continuous_unlike_zorder(spark):
    # THE property that separates Hilbert from Morton: consecutive
    # codes are always Manhattan-ADJACENT cells, so an equal-size
    # code range covers one tight connected region. The Z-curve
    # provably violates this (quadrant jumps).
    from pyspark.sql import functions as F

    from map_reduce_project_spark.operators.layout import (
        with_hilbert_code,
        zorder_code,
    )

    bits = 5
    side = 1 << bits
    grid = spark.range(side * side).select(
        (F.col("id") % side).alias("x"),
        (F.col("id") / side).cast("long").alias("y"),
    )
    hrows = with_hilbert_code(grid, "x", "y", bits=bits).collect()
    by_d = {r._hcode: (r.x, r.y) for r in hrows}
    for d in range(side * side - 1):
        (x1, y1), (x2, y2) = by_d[d], by_d[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1, d
    zrows = grid.withColumn(
        "z", zorder_code(["x", "y"], bits=bits)
    ).collect()
    by_z = {r.z: (r.x, r.y) for r in zrows}
    jumps = sum(
        1
        for d in range(side * side - 1)
        if abs(by_z[d][0] - by_z[d + 1][0])
        + abs(by_z[d][1] - by_z[d + 1][1])
        > 1
    )
    assert jumps > 0  # the Z-curve jumps; Hilbert never does
