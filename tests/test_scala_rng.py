"""Scala-RNG experiment parity: the reference's SECOND published result
set (experiment_results_scala.csv) was produced from scala.util.Random
edge sets that diverge from the Python generators'. The JavaRandom
reimplementation + Scala-mode generators must reproduce the published
iteration and component counts for all 34 configs — validated through
the pure-Python CCF fixed point (itself property-tested bit-identical
to the distributed loop in test_ccf_local.py). No Spark needed.

The published CSV is read from the reference checkout (``SCALA_CSV``).
Where that file is absent, the 34-row sweep is reported as skipped, not
passed; the JavaRandom sequence and edge-shape tests still run."""

from __future__ import annotations

import csv
import os

import pytest

from map_reduce_project_spark.graph.ccf import ccf_fixed_point_local
from map_reduce_project_spark.graph.generators import (
    generate_chain_graph,
    generate_cluster_graph_scala,
    generate_random_graph_scala,
)
from map_reduce_project_spark.graph.javarandom import JavaRandom

SCALA_CSV = "/root/reference/experiment_results_scala.csv"


def _published():
    with open(SCALA_CSV) as f:
        return list(csv.DictReader(f))


def _sweep_params():
    if not os.path.exists(SCALA_CSV):
        return [pytest.param(None, id="missing-csv")]
    return [
        pytest.param(r, id=(
            f"{r['experiment']}-{r['nodes']}-{r['edges']}-{r['algorithm']}"
        ))
        for r in _published()
    ]


def _components(pairs: list[tuple[str, str]], edges) -> int:
    mapped = {p[0] for p in pairs}
    comps = {p[1] for p in pairs}
    singletons = {
        n for e in edges for n in e if n not in mapped and n not in comps
    }
    return len(comps | singletons)


def test_java_random_known_sequence():
    # java.util.Random(42).nextInt(100) x5 — verified against a real
    # JVM (java 17: 30 63 48 84 70)
    rng = JavaRandom(42)
    assert [rng.next_int(100) for _ in range(5)] == [30, 63, 48, 84, 70]


def test_scala_random_graph_shape():
    edges = generate_random_graph_scala(50, 100, seed=42)
    assert len(edges) == 100
    assert len(set(edges)) == 100
    # canonical orientation: numeric min first
    assert all(int(a) < int(b) for a, b in edges)


@pytest.mark.skipif(
    not os.path.exists(SCALA_CSV),
    reason=f"published Scala sweep needs {SCALA_CSV}",
)
@pytest.mark.parametrize("row", _sweep_params())
def test_scala_sweep_parity(row):
    exp = row["experiment"]
    if exp == "random_graph":
        edges = generate_random_graph_scala(int(row["nodes"]), int(row["edges"]))
    elif exp == "chain_graph":
        edges = generate_chain_graph(int(row["nodes"]))
    else:
        edges = generate_cluster_graph_scala(
            int(row["clusters"]),
            int(row["nodes"]) // int(row["clusters"]),
            int(row["inter_edges"]),
        )
    assert len(edges) == int(row["edges"])
    pairs, iterations, converged, _ = ccf_fixed_point_local(edges)
    assert converged
    assert iterations == int(row["iterations"]), (
        f"{exp}: got {iterations} iterations, published {row['iterations']}"
    )
    assert _components(pairs, edges) == int(row["components"])
