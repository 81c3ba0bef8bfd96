"""Data-layout operators: Z-order (Morton) clustering for multi-column
scan pruning.

At 100 TB the dominant cost of a selective query is the files it must
open. Sorting by one column gives perfect pruning on that column and
none on the others; interleaving the BITS of several columns (the
Z-/Morton curve) gives every interleaved column locality, so each
parquet file's min/max footer spans a small hyper-rectangle and a
predicate on ANY of the columns prunes most files. This is the same
layout primitive Delta/Iceberg expose as ``OPTIMIZE ZORDER BY``,
expressed here as plain DataFrame operations: a JVM-side bit-interleave
expression + ``repartitionByRange`` on the code + an in-partition sort.

Everything stays whole-stage-codegen (shift/and/or arithmetic on
longs — no UDF), and the interleave is exactly reproducible in ANSI
SQL, so the code computation itself sits under the driver's hash gate
(``layout_zorder`` query).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zorder_code(cols: list[Column | str], bits: int = 10) -> Column:
    """Morton code: interleave the low ``bits`` bits of each column.

    Column i's bit b lands at output position ``b * n_cols + i`` — the
    standard round-robin interleave. Inputs must already be bucket
    ordinals in [0, 2^bits) (rank/quantile-bucket wide-domain columns
    first); values are masked to ``bits`` bits, so out-of-range inputs
    wrap rather than corrupt neighbors' bit lanes. The expression tree
    is ``bits * n_cols`` shift/and/multiply terms summed — all JVM
    integer arithmetic inside one codegen stage.
    """
    n = len(cols)
    code: Column | None = None
    for i, c in enumerate(cols):
        col = F.col(c) if isinstance(c, str) else c
        col = col.cast("long")
        for b in range(bits):
            term = (
                F.shiftright(col, b).bitwiseAND(F.lit(1))
                * F.lit(1 << (b * n + i))
            )
            code = term if code is None else code + term
    assert code is not None
    return code


def zorder_layout(
    df: DataFrame,
    cols: list[str],
    bits: int = 10,
    n_partitions: int | None = None,
) -> DataFrame:
    """Cluster ``df`` along the Z-curve of ``cols``: range-partition by
    the Morton code, then sort within partitions by it. Each output
    partition (→ parquet file) then covers a compact hyper-rectangle
    in the column space, so footer min/max stats prune on every
    clustered column. Write it as parquet to materialize the layout.
    """
    coded = df.withColumn("_zcode", zorder_code(cols, bits))
    parts = (
        coded.repartitionByRange(n_partitions, "_zcode")
        if n_partitions
        else coded.repartitionByRange("_zcode")
    )
    return parts.sortWithinPartitions("_zcode").drop("_zcode")


def with_hilbert_code(
    df: DataFrame,
    x_col: Column | str,
    y_col: Column | str,
    bits: int = 8,
    out_col: str = "_hcode",
) -> DataFrame:
    """Add the 2-D Hilbert-curve index of (x, y) bucket ordinals in
    [0, 2^bits).

    Z-order's weakness is curve jumps: consecutive Morton codes can
    sit a whole quadrant apart, so a range of codes occasionally
    covers two distant rectangles and a file's min/max box widens.
    The Hilbert curve is CONTINUOUS — consecutive codes are always
    Manhattan-adjacent cells (pinned by test), so equal-size code
    ranges cover tighter boxes and prune slightly better on the same
    predicates; the trade is a code whose levels are sequentially
    dependent (each level rotates/reflects the frame for the next).

    Implementation: the classic xy2d recurrence unrolled ``bits``
    times as per-level named projections — every level is plain
    CASE/AND/shift arithmetic on longs (whole-stage codegen, no UDF),
    and naming the per-level state keeps the expression tree LINEAR
    in ``bits`` instead of the 2^bits blowup a pure column-expression
    nest would produce. Inputs are masked to ``bits`` bits like
    ``zorder_code``."""
    mask = (1 << bits) - 1
    xc = F.col(x_col) if isinstance(x_col, str) else x_col
    yc = F.col(y_col) if isinstance(y_col, str) else y_col
    df = (
        df.withColumn("_hx", xc.cast("long").bitwiseAND(F.lit(mask)))
        .withColumn("_hy", yc.cast("long").bitwiseAND(F.lit(mask)))
        .withColumn(out_col, F.lit(0).cast("long"))
    )
    for s in (1 << b for b in reversed(range(bits))):
        rx = (F.col("_hx").bitwiseAND(F.lit(s)) > 0).cast("long")
        ry = (F.col("_hy").bitwiseAND(F.lit(s)) > 0).cast("long")
        df = df.withColumn("_rx", rx).withColumn("_ry", ry)
        df = df.withColumn(
            out_col,
            F.col(out_col)
            + F.lit(s * s)
            * (F.lit(3) * F.col("_rx")).bitwiseXOR(F.col("_ry")),
        )
        refl_x = F.when(
            F.col("_rx") == 1, F.lit(s - 1) - F.col("_hx")
        ).otherwise(F.col("_hx"))
        refl_y = F.when(
            F.col("_rx") == 1, F.lit(s - 1) - F.col("_hy")
        ).otherwise(F.col("_hy"))
        df = (
            df.withColumn(
                "_hx2", F.when(F.col("_ry") == 0, refl_y).otherwise(F.col("_hx"))
            )
            .withColumn(
                "_hy2", F.when(F.col("_ry") == 0, refl_x).otherwise(F.col("_hy"))
            )
            .drop("_hx", "_hy")
            .withColumnRenamed("_hx2", "_hx")
            .withColumnRenamed("_hy2", "_hy")
        )
    return df.drop("_hx", "_hy", "_rx", "_ry")
