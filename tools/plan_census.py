"""Registry-wide physical-plan shape census.

`tests/test_plans.py` pins the plan shapes of hand-picked queries;
this tool closes the gap for the other ~300: it records a compact
shape signature — exchange count, broadcast count, parquet scan
count, Python-eval stage count, codegen span count — for EVERY
registry query at sf0.001 and writes `tools/plans_baseline.json`.
A query whose exchange count silently grows (a dropped broadcast, a
lost co-partitioning, a new shuffle in an iterate) then diffs
against the committed baseline instead of surfacing at cluster
scale. `tests/test_plans.py::test_plan_census_no_regressions`
compares a fast subset on every run; re-run this tool after a
DELIBERATE plan change and commit the new baseline with the change
that caused it.

Usage:
    python tools/plan_census.py [sf_dir] [query ...]

The package is imported from this checkout (the parent of tools/);
Spark's Python workers need the same root on PYTHONPATH, e.g.
``PYTHONPATH=. python tools/plan_census.py``.
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

BASELINE = Path(__file__).with_name("plans_baseline.json")


def plan_signature(df) -> dict:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "broadcasts": len(re.findall(r"\bBroadcastExchange\b", plan)),
        "scans": len(re.findall(r"\bFileScan\b", plan)),
        "python": len(
            re.findall(
                r"\b(BatchEvalPython|ArrowEvalPython|MapInPandas|"
                r"PythonMapInArrow|FlatMapGroupsInPandas|"
                r"FlatMapCoGroupsInPandas|MapInPandasExec)\b",
                plan,
            )
        ),
        "sorts": len(re.findall(r"\bSort \[", plan)),
    }


def main() -> int:
    args = sys.argv[1:]
    merge = "--merge" in args
    if merge:
        args.remove("--merge")
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    only = set(args[1:])

    from map_reduce_project_spark import get_spark
    from map_reduce_project_spark.queries import all_queries

    spark = get_spark("plan-census")
    out: dict[str, dict] = {}
    failures = []
    for name, q in sorted(all_queries().items()):
        if only and name not in only:
            continue
        try:
            out[name] = plan_signature(q.fn(spark, sf_dir))
        except Exception as e:  # noqa: BLE001 - census must not abort
            failures.append(name)
            print(f"{name:35s} ERROR {str(e).splitlines()[0][:120]}")
            continue
        print(f"{name:35s} {out[name]}")
    if only:
        if merge and out:
            # --merge: fold the partial signatures into the committed
            # baseline (for NEW queries; changed queries still warrant
            # a full re-census in the commit that changed them)
            base = json.loads(BASELINE.read_text())
            base.update(out)
            BASELINE.write_text(
                json.dumps(base, indent=1, sort_keys=True) + "\n"
            )
            print(f"\n(merged {len(out)} signatures into {BASELINE})")
        else:
            print(
                f"\n(partial run: baseline NOT rewritten; {len(out)} shown)"
            )
        return 1 if failures else 0
    BASELINE.write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
    print(f"\n{BASELINE}: {len(out)} signatures, {len(failures)} errors")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
