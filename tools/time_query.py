"""Per-query engine-side timing harness (optimization round 12).

Times registry queries with the NOOP SINK (guide §1.4: computes every
column of every row, discards the result) so the measurement is the
computation, not toPandas/oracle machinery — the census (`oracle_check
--time`) conflates the two for result-heavy queries like
ev_interpolate, whose grid output is ~100x its input.

Each query is labelled via setJobDescription (guide §1.5). With
``--plans DIR`` the formatted physical plan is also written to
``DIR/<query>_<tag>.txt`` (tag from --tag, default "before").

Usage:
    python tools/time_query.py [--reps N] [--plans DIR] [--tag T] \
        [sf_dir] query [query ...]

Wall semantics: per rep, build the DataFrame fresh (construction-time
actions included — they are part of what a caller pays) and noop-write
it. Prints min/median of reps per query plus a total.

The package is imported from this checkout (the parent of tools/);
Spark's Python workers need the same root on PYTHONPATH, e.g.
``PYTHONPATH=. python tools/time_query.py``.
"""

from __future__ import annotations

import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from map_reduce_project_spark import get_spark  # noqa: E402
from map_reduce_project_spark.queries import all_queries  # noqa: E402


def main() -> int:
    args = sys.argv[1:]
    reps = 1
    plans_dir = None
    tag = "before"
    while args and args[0].startswith("--"):
        if args[0] == "--reps":
            reps = int(args[1])
            args = args[2:]
        elif args[0] == "--plans":
            plans_dir = args[1]
            args = args[2:]
        elif args[0] == "--tag":
            tag = args[1]
            args = args[2:]
        else:
            raise SystemExit(f"unknown flag {args[0]}")
    sf_dir = "/root/testdata/sf0.1"
    if args and "/" in args[0]:
        sf_dir, args = args[0], args[1:]
    names = args
    registry = all_queries()
    unknown = [n for n in names if n not in registry]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    spark = get_spark("time_query")
    total = 0.0
    for name in names:
        fn = registry[name].fn
        walls = []
        for rep in range(reps):
            spark.sparkContext.setJobDescription(f"{name} rep{rep}")
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            walls.append(time.perf_counter() - t0)
            spark.sparkContext.setJobDescription(None)
        if plans_dir:
            p = Path(plans_dir)
            p.mkdir(parents=True, exist_ok=True)
            df = registry[name].fn(spark, sf_dir)
            (p / f"{name}_{tag}.txt").write_text(
                df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
            )
        best = min(walls)
        med = statistics.median(walls)
        total += best
        print(
            f"{name:38s} min={best:8.2f}s median={med:8.2f}s reps={reps}",
            flush=True,
        )
    print(f"TOTAL (min per line): {total:.2f}s")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
