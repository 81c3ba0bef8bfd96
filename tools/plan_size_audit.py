"""Registry-wide optimized-plan SIZE audit (round 11).

Round 11 found a 7.5x stage regression whose signature was not a bad
plan SHAPE (tools/plan_census.py pins exchanges/scans/broadcasts) but
a bad plan SIZE: a filter above html_extract's layered projections was
predicate-pushed below them, inlining the whole regex chain into the
filter condition with multiplicative alias duplication — the optimized
plan grew to ~64 KB of expression text and the stage ran the
extraction many times per row. This tool hunts that class directly:
it renders ``optimizedPlan().toString()`` for every registry query at
sf0.001 and reports the largest, failing if any exceeds THRESHOLD.

Known-wide-but-legitimate plans (embedding queries unroll vector dims
into per-component expressions) sit in the 10-30 KB band; the
round-11 bomb was 64 KB and self-multiplying, so the threshold sits at
48 KB — wide enough for honest dimension unrolling, tight enough that
a recurrence of the filter-inlining class trips it.

Usage: python tools/plan_size_audit.py [sf_dir]   (default sf0.001)
Commit the output as tools/logs/plan_size_audit_r{N}.log.

The package is imported from this checkout (the parent of tools/);
Spark's Python workers need the same root on PYTHONPATH, e.g.
``PYTHONPATH=. python tools/plan_size_audit.py``.
"""

from __future__ import annotations

import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from map_reduce_project_spark import get_spark  # noqa: E402
from map_reduce_project_spark.queries import all_queries  # noqa: E402

THRESHOLD = 48_000


def audit(
    spark, sf_dir: str = "/root/testdata/sf0.001"
) -> tuple[dict[str, int], dict[str, str]]:
    """(name -> optimized-plan chars, name -> error) over the whole
    registry. Shared by the CLI below and the env-gated pytest
    (tests/test_plans.py::test_registry_plan_sizes_bounded) so the
    filter-inlining plan-bomb class is pinned per-commit, not ad-hoc."""
    sizes: dict[str, int] = {}
    errors: dict[str, str] = {}
    for name, q in all_queries().items():
        try:
            df = q.fn(spark, sf_dir)
            sizes[name] = len(
                df._jdf.queryExecution().optimizedPlan().toString()
            )
        except Exception as e:  # noqa: BLE001 — report, don't mask
            errors[name] = f"{type(e).__name__}: {e}"
    return sizes, errors


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(
        "plan-size-audit", master="local[4]", shuffle_partitions=4
    )
    sizes, errors = audit(spark, sf_dir)
    for name, n in sorted(sizes.items(), key=lambda x: -x[1])[:20]:
        flag = "  <-- OVER THRESHOLD" if n > THRESHOLD else ""
        print(f"{name:42s} {n:>9,}{flag}")
    over = {k: v for k, v in sizes.items() if v > THRESHOLD}
    print(
        f"\nplan_size_audit: {len(sizes)} queries, max "
        f"{max(sizes.values()):,} chars, threshold {THRESHOLD:,}, "
        f"{len(over)} over, {len(errors)} errors"
    )
    for k, v in errors.items():
        print(f"ERR   {k}: {v[:160]}")
    return 1 if over or errors else 0


if __name__ == "__main__":
    raise SystemExit(main())
