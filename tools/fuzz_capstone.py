"""Capstone stage-parameter fuzz lane (round-10 verdict item 4).

The capstone oracle is a 40+ CTE composition; stage-COUPLING bugs
(like round 9's InferFiltersFromGenerate replay below the size guard)
only surface when the stages run as one plan, and only the pinned
default parameters get exercised by the gated registry entries. This
lane perturbs the composition's stage parameters — span gram size
``k``, LSH ``num_hashes``/``bands`` (which move the banding threshold,
so the CC stage sees DIFFERENT cluster graphs), and the packing
``context_len`` (the funnel's bin arithmetic / manifest offsets) —
and re-gates BOTH registry shapes (per-document manifest + funnel)
against DuckDB oracles rebuilt from the same single-source SQL
builders (``build_capstone_sql`` / ``build_capstone_funnel_sql``).

Every draw must pass rows + columns + order-insensitive value hash,
the same canon as the driver gate (reused from tools/oracle_check.py).

Usage: python tools/fuzz_capstone.py [sf_dir]   (default sf0.001)

The package is imported from this checkout (the parent of tools/);
Spark's Python workers need the same root on PYTHONPATH, e.g.
``PYTHONPATH=. python tools/fuzz_capstone.py``.
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

import duckdb

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from tools.oracle_check import canon_pdf, value_hash  # noqa: E402

from map_reduce_project_spark import get_spark  # noqa: E402
from map_reduce_project_spark.queries.capstone import (  # noqa: E402
    build_capstone_funnel_sql,
    build_capstone_sql,
    curation_capstone_funnel_q,
    curation_capstone_q,
)
from map_reduce_project_spark.sources.io import TABLES  # noqa: E402

# Six deterministic draws around the pinned defaults (k=4, 512, 12/4):
# k crossing the vocabulary's duplicate-density knee in both
# directions, band geometries that RAISE (16/4 -> tighter) and LOWER
# (8/4, 12/6 -> looser) the LSH similarity threshold, and context
# lengths that exercise non-power-of-two bin arithmetic.
DRAWS = [
    {"span_k": 3, "context_len": 512, "num_hashes": 12, "bands": 4},
    {"span_k": 6, "context_len": 512, "num_hashes": 12, "bands": 4},
    {"span_k": 4, "context_len": 128, "num_hashes": 16, "bands": 4},
    {"span_k": 4, "context_len": 777, "num_hashes": 8, "bands": 4},
    {"span_k": 5, "context_len": 300, "num_hashes": 12, "bands": 6},
    {"span_k": 6, "context_len": 100, "num_hashes": 16, "bands": 8},
]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    spark = get_spark("fuzz-capstone")
    failures = []
    for i, draw in enumerate(DRAWS):
        for shape, spark_fn, sql_fn in (
            ("manifest", curation_capstone_q, build_capstone_sql),
            ("funnel", curation_capstone_funnel_q, build_capstone_funnel_sql),
        ):
            t0 = time.monotonic()
            spdf = spark_fn(spark, sf_dir, **draw).toPandas()
            dpdf = con.execute(sql_fn(**draw)).df()
            sc, sl = canon_pdf(spdf)
            dc, dl = canon_pdf(dpdf)
            ok = (
                sc == dc and len(sl) == len(dl)
                and value_hash(sl) == value_hash(dl)
            )
            print(
                f"draw {i} {shape:8s} {draw} "
                f"{'OK' if ok else 'MISMATCH'} rows={len(sl)}/{len(dl)} "
                f"({time.monotonic() - t0:.1f}s)"
            )
            if not ok:
                failures.append((i, shape, draw))
                for line in list(set(sl) - set(dl))[:3]:
                    print(f"    spark-only: {line[:200]}")
                for line in list(set(dl) - set(sl))[:3]:
                    print(f"    duck-only:  {line[:200]}")
    print(f"\n{len(failures)} failures" if failures else "\nALL OK")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
