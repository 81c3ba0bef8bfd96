"""Property tests for the small-graph local CCF fast path and the
hub-skew autodetect: both alternate paths must be observationally
identical to the distributed window loop (mapping, iteration count,
per-iteration new-pair counts)."""

from __future__ import annotations

import pytest

from map_reduce_project_spark.graph.ccf import (
    ccf_fixed_point_local,
    connected_components,
)
from map_reduce_project_spark.graph.generators import (
    edges_df,
    generate_chain_graph,
    generate_cluster_graph,
    generate_random_graph,
)


def _mapping_set(result):
    return {(r["node"], r["component"]) for r in result.mapping.collect()}


GRAPHS = [
    ("random", lambda: generate_random_graph(200, 600, seed=7)),
    ("chain", lambda: generate_chain_graph(60)),
    ("cluster", lambda: generate_cluster_graph(4, 15, 3, seed=7)),
    ("dup_edges", lambda: [("1", "2"), ("2", "1"), ("1", "2"), ("3", "3")]),
]


@pytest.mark.parametrize("name,gen", GRAPHS, ids=[g[0] for g in GRAPHS])
def test_local_path_matches_distributed(spark, name, gen):
    edges = gen()
    dist = connected_components(edges_df(spark, edges))
    local = connected_components(
        edges_df(spark, edges), local_threshold=10**6
    )
    assert local.iterate_path == "local"
    assert dist.iterate_path == "window"
    assert local.iterations == dist.iterations
    assert local.new_pair_counts == dist.new_pair_counts
    assert local.converged and dist.converged
    assert _mapping_set(local) == _mapping_set(dist)


def test_local_fixed_point_pure():
    pairs, iters, converged, counts = ccf_fixed_point_local(
        [("b", "a"), ("c", "b"), ("e", "d")]
    )
    assert converged
    assert set(pairs) == {("b", "a"), ("c", "a"), ("e", "d")}
    assert counts[-1] == 0


def test_local_empty_graph(spark):
    res = connected_components(
        edges_df(spark, []), local_threshold=10
    )
    assert res.iterate_path == "local"
    assert res.converged
    assert res.mapping.count() == 0
    assert res.mapping.columns == ["node", "component"]


def test_local_path_rejects_non_string_ids(spark):
    # S1: ids are strings (lexicographic min). The local path builds
    # string Arrow arrays, so long ids must fail loudly, before any
    # conversion, naming the contract — not with an Arrow type error
    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    with pytest.raises(ValueError, match="string node ids.*src bigint"):
        connected_components(edges, local_threshold=10**6)
    # the distributed path is unchanged (no cast: min stays numeric)
    res = connected_components(edges)
    assert {(r.node, r.component) for r in res.mapping.collect()} == {
        (2, 1),
        (3, 1),
    }


def test_skew_autodetect_star_graph(spark):
    # star: 1 hub ("0") with 3000 spokes — the 1-hub/1M-spokes shape at
    # reduced scale. With a reduced degree threshold the autodetect
    # must pick the AQE-splittable join path without the caller asking,
    # and the result must be identical to the window path.
    edges = [("0", str(i)) for i in range(1, 3001)]
    auto = connected_components(
        edges_df(spark, edges), skew_degree_threshold=2000
    )
    assert auto.iterate_path == "join"
    window = connected_components(edges_df(spark, edges), skew_robust=False)
    assert window.iterate_path == "window"
    assert auto.iterations == window.iterations
    assert _mapping_set(auto) == _mapping_set(window)
    assert auto.mapping.count() == 3000  # every spoke maps to "0"


def test_skew_autodetect_stays_on_window_path(spark):
    # same graph, default threshold (1M): probe is skipped entirely
    # (edges < threshold => no degree can cross) and the window path
    # is chosen
    edges = [("0", str(i)) for i in range(1, 101)]
    res = connected_components(edges_df(spark, edges))
    assert res.iterate_path == "window"
    assert res.mapping.count() == 100
