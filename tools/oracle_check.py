"""Local emulation of the driver's correctness gate.

Runs every registry query on Spark AND its oracle SQL on DuckDB over
the same parquet tables, then compares row count, sorted column names,
and an order-insensitive value hash. Usage:

    python tools/oracle_check.py [--vanilla] [--time] [sf_dir] [query ...]

``--vanilla`` builds a bare SparkSession (no get_spark configs) to
reproduce the round driver's session seam. ``--time`` appends the
Spark-side wall seconds per query (plan + execute + toPandas) so a
full-registry run doubles as a perf census.

Canonicalization is PANDAS-BASED, byte-matching the driver's: the
Spark result goes through ``toPandas()``, the DuckDB result through
``.df()``, then both are column-sorted, row-sorted via
``sort_values``, and hashed cell-wise through ``str``. This preserves
dtype seams the old repr-based canon hid (round 1's q17 escape:
DuckDB ``SUM(BIGINT)`` returns HUGEINT -> pandas float64/object,
which stringifies differently from Spark's int64) and crashes on
array-typed cells exactly like the driver does.

Exit code 0 iff every checked query matches.

The package is imported from this checkout (the parent of tools/);
Spark's Python workers need the same root on PYTHONPATH, e.g.
``PYTHONPATH=. python tools/oracle_check.py``.
"""

from __future__ import annotations

import hashlib
import sys
from pathlib import Path

import duckdb
import pandas as pd

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from map_reduce_project_spark import get_spark  # noqa: E402
from map_reduce_project_spark.queries import all_queries  # noqa: E402
from map_reduce_project_spark.sources.io import TABLES  # noqa: E402


def canon_pdf(pdf: pd.DataFrame) -> tuple[list[str], list[str]]:
    """(sorted column names, sorted stringified row lines) — the
    driver's canon: sort_values over every column, then str cells."""
    pdf = pdf[sorted(pdf.columns)]
    if len(pdf):
        pdf = pdf.sort_values(
            list(pdf.columns), kind="mergesort"
        ).reset_index(drop=True)
    cells = pdf.astype(str)
    lines = [
        "\x1f".join(row) for row in cells.itertuples(index=False, name=None)
    ]
    return list(pdf.columns), lines


def value_hash(lines: list[str]) -> str:
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\x1e")
    return h.hexdigest()[:16]


def main() -> int:
    args = sys.argv[1:]
    vanilla = "--vanilla" in args
    if vanilla:
        args.remove("--vanilla")
    timing = "--time" in args
    if timing:
        args.remove("--time")
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    if vanilla:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .config("spark.sql.shuffle.partitions", "8")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("ERROR")
    else:
        spark = get_spark("oracle-check")
    registry = all_queries()
    failures = []
    n_run = 0
    for name, q in sorted(registry.items()):
        if only and name not in only:
            continue
        # Iterative queries return caller-owned localCheckpoint blocks;
        # in a one-session full-registry sweep those accumulate until
        # Spark's ContextCleaner runs, and its periodicGC default is
        # 30 MINUTES — a 1g vanilla driver heap OOMs at sf0.1 long
        # before that. Collect python-side so the py4j proxies die,
        # then ask the JVM to GC every few queries so the cleaner can
        # actually free the orphaned blocks.
        n_run += 1
        if n_run % 5 == 0:
            import gc as _gc

            _gc.collect()
            spark.sparkContext._jvm.System.gc()
        if q.oracle is None:
            df = q.fn(spark, sf_dir)
            n = df.count()
            print(f"{name:35s} ROWS-ONLY  rows={n}")
            continue
        try:
            import time as _time

            _t0 = _time.monotonic()
            spdf = q.fn(spark, sf_dir).toPandas()
            spark_sec = _time.monotonic() - _t0
            sc, sl = canon_pdf(spdf)
        except Exception as e:
            print(f"{name:35s} SPARK-ERROR {str(e).splitlines()[0][:160]}")
            failures.append(name)
            continue
        try:
            dpdf = con.execute(q.oracle).df()
            dc, dl = canon_pdf(dpdf)
        except Exception as e:
            print(f"{name:35s} DUCKDB-ERROR {str(e).splitlines()[0][:160]}")
            failures.append(name)
            continue

        ok_cols = sc == dc
        ok_count = len(sl) == len(dl)
        ok_hash = value_hash(sl) == value_hash(dl)
        status = "OK" if (ok_cols and ok_count and ok_hash) else "MISMATCH"
        print(
            f"{name:35s} {status:8s} rows={len(sl)}/{len(dl)} "
            f"cols={'=' if ok_cols else f'{sc} vs {dc}'} "
            f"hash={'=' if ok_hash else '!'}"
            + (f" spark={spark_sec:7.2f}s" if timing else "")
        )
        if status != "OK":
            failures.append(name)
            sset, dset = set(sl), set(dl)
            for line in list(sset - dset)[:3]:
                print(f"    spark-only: {line[:200]}")
            for line in list(dset - sset)[:3]:
                print(f"    duck-only:  {line[:200]}")

    print(f"\n{len(failures)} failures: {failures}" if failures else "\nALL OK")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
