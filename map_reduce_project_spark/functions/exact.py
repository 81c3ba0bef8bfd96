"""Engine-proof exact-integer -> double conversion for hash-gated
statistics whose operands can cross 2^53.

A direct big-decimal/big-int -> double cast is correctly rounded in
EACH engine, but two engines' implementations can legitimately differ
by one ulp on boundary values — and cancellation-sensitive formulas
(raw moments, rank-weighted sums) amplify an input ulp into visible
output drift. The sf0.1 full-registry sweep caught exactly this on
q42's power sums.

The fix is determinism BY CONSTRUCTION: split the exact integer into
three < 2^53 limbs — every cast exact; C-style signed remainders are
identical in Spark and DuckDB, and s = h2*P^2 + h1*P + h0 holds for
signed values — then recombine with one fixed IEEE add that both
engines execute identically. ``limb_exact_double`` is the Spark
column; the DuckDB oracles spell the same limbs in SQL."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

LIMB = 1 << 50  # three limbs cover |sum| < 2^150, each cast exact


def limb_exact_double(col: Column) -> Column:
    h0 = col % LIMB
    r1 = (col - h0) / LIMB  # exact: numerator is a multiple
    h1 = r1 % LIMB
    h2 = (r1 - h1) / LIMB
    pd_ = F.lit(float(LIMB))
    return (
        h2.cast("double") * pd_ * pd_ + h1.cast("double") * pd_
    ) + h0.cast("double")
