"""Run-to-run determinism audit of the query registry.

The round driver evaluates each query in ITS OWN process with ITS OWN
SparkSession, so a query whose result depends on physical execution
details — scan split order, shuffle partition count, AQE coalescing,
partition-local tie resolution in windows, first/last in aggregates —
can hash-match the DuckDB oracle in our gate and still flip in the
driver's run. The SCC family bug (LEAD over a non-unique ORDER BY key)
was exactly this class, caught only because the sf0.1 sweep happened
to resolve ties differently across engines.

This tool attacks the class directly: it executes every registry
query under two deliberately different physical configurations and
compares the canonical value hashes of the two Spark results.

    pass A: local[8],  shuffle.partitions=8,  AQE on,
            maxPartitionBytes=128m (defaults; matches the gate)
    pass B: local[3],  shuffle.partitions=7,  AQE off,
            maxPartitionBytes=1m (forces many small scan splits in a
            different order), openCostInBytes=0

Anything sensitive to partition count, partition order, or runtime
coalescing diverges between the passes. Queries are canonicalized
exactly like the driver gate (column-sorted, row-sorted, str cells),
so only genuine VALUE differences count — row order never does.

Usage:
    python tools/determinism_check.py [sf_dir] [query ...]

Exit code 0 iff every checked query hashes identically in both passes.

The package is imported from this checkout (the parent of tools/);
Spark's Python workers need the same root on PYTHONPATH, e.g.
``PYTHONPATH=. python tools/determinism_check.py``.
"""

from __future__ import annotations

import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from tools.oracle_check import canon_pdf, value_hash  # noqa: E402


PASS_CONFIGS = {
    # driver memory is NOT a determinism axis — both passes get the
    # same adequate heap (the 1g default OOMs on the heavier queries
    # at sf0.1); everything that shapes the physical plan differs.
    "A": {
        "master": "local[8]",
        "spark.driver.memory": "6g",
        "spark.sql.shuffle.partitions": "8",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.files.maxPartitionBytes": "134217728",
        "spark.sql.files.openCostInBytes": "4194304",
    },
    "B": {
        "master": "local[3]",
        "spark.driver.memory": "6g",
        "spark.sql.shuffle.partitions": "7",
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.files.maxPartitionBytes": "1048576",
        "spark.sql.files.openCostInBytes": "0",
    },
}


def run_pass(
    tag: str, sf_dir: str, only: set[str], registry: dict | None = None
) -> dict:
    """One full registry evaluation under PASS_CONFIGS[tag].

    Builds a fresh SparkSession (stopping any active one so the config
    actually applies — getOrCreate reuses a live session's JVM config
    otherwise), runs every query, and returns {name: (cols, hash,
    nrows)} with error strings for queries that raise. ``registry``
    overrides the package registry ({name: fn(spark, sf_dir) -> DF});
    the tool's own tests plant deliberately partition-dependent
    queries through it to prove the audit actually catches the class.
    """
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    cfg = PASS_CONFIGS[tag]
    b = SparkSession.builder.master(cfg["master"]).config(
        "spark.ui.enabled", "false"
    )
    for k, v in cfg.items():
        if k != "master":
            b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    if registry is None:
        from map_reduce_project_spark.queries import all_queries

        registry = {n: q.fn for n, q in all_queries().items()}

    out = {}
    for name, fn in sorted(registry.items()):
        if only and name not in only:
            continue
        try:
            pdf = fn(spark, sf_dir).toPandas()
            cols, lines = canon_pdf(pdf)
            out[name] = (tuple(cols), value_hash(lines), len(lines))
        except Exception as e:  # noqa: BLE001 - audit must not abort
            out[name] = ("ERROR", str(e).splitlines()[0][:160], -1)
    spark.stop()
    return out


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    a = run_pass("A", sf_dir, only)
    b = run_pass("B", sf_dir, only)

    failures = []
    for name in sorted(a):
        ra, rb = a[name], b.get(name)
        if ra[0] == "ERROR" or rb is None or rb[0] == "ERROR":
            print(f"{name:35s} ERROR    A={ra[1] if ra[0]=='ERROR' else 'ok'}"
                  f" B={rb[1] if rb and rb[0]=='ERROR' else 'ok'}")
            failures.append(name)
        elif ra == rb:
            print(f"{name:35s} STABLE   rows={ra[2]} hash={ra[1]}")
        else:
            print(f"{name:35s} DIVERGED rows={ra[2]}/{rb[2]} "
                  f"hashA={ra[1]} hashB={rb[1]}")
            failures.append(name)

    print(f"\n{len(failures)} unstable: {failures}" if failures
          else "\nALL STABLE")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
