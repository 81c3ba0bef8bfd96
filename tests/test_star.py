"""Alternating large-star/small-star CC (graph/star.py): golden,
mapping equality vs CCF, and the O(log n) round-count advantage on
high-diameter graphs (Kiveris et al., SoCC 2014)."""

from __future__ import annotations

import pytest

from map_reduce_project_spark.graph import (
    connected_components,
    generate_chain_graph,
    generate_cluster_graph,
    generate_random_graph,
)
from map_reduce_project_spark.graph.generators import edges_df

from tests.test_ccf import FIG5_EDGES, FIG5_EXPECTED, mapping_set


def test_star_golden_figure5(spark):
    res = connected_components(edges_df(spark, FIG5_EDGES), algorithm="star")
    assert mapping_set(res) == FIG5_EXPECTED
    assert res.converged


@pytest.mark.parametrize(
    "edges",
    [
        generate_chain_graph(50),
        generate_random_graph(200, 400, seed=42),
        generate_cluster_graph(5, 10, 3, seed=42),
        # duplicate edges, both orientations, repeated pairs
        [("b", "a"), ("a", "b"), ("b", "a"), ("c", "b"), ("e", "a")],
        # lexicographic trap: "10" < "2"
        [("2", "10"), ("10", "3")],
    ],
    ids=["chain50", "random200", "cluster5x10", "dups", "lexico"],
)
def test_star_matches_ccf(spark, edges):
    ccf = connected_components(edges_df(spark, edges))
    star = connected_components(edges_df(spark, edges), algorithm="star")
    assert mapping_set(star) == mapping_set(ccf)
    assert star.converged


def test_star_rounds_sublinear_on_chain(spark):
    # CCF needs O(diameter) iterations on a chain (the reference's own
    # worst case: 12 iterations for chain-500); star converges in
    # O(log n) rounds — this is the reason the algorithm exists.
    n = 200
    edges = generate_chain_graph(n)
    ccf = connected_components(edges_df(spark, edges))
    star = connected_components(edges_df(spark, edges), algorithm="star")
    assert mapping_set(star) == mapping_set(ccf)
    assert star.iterations < ccf.iterations


def test_triangle_count_known_graphs(spark):
    from map_reduce_project_spark.graph.analytics import triangle_count

    def count(edges):
        row = triangle_count(edges_df(spark, edges)).collect()[0]
        return (row.n_nodes, row.n_edges, row.n_triangles)

    # K4: 4 triangles; duplicate + reversed edges must not change it
    k4 = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
          ("c", "d"), ("b", "a"), ("a", "b")]
    assert count(k4) == (4, 6, 4)
    # chain: none
    assert count(generate_chain_graph(10)) == (10, 9, 0)
    # one triangle + a pendant edge, plus a self-loop to ignore
    tri = [("x", "y"), ("y", "z"), ("x", "z"), ("z", "w"), ("w", "w")]
    assert count(tri) == (4, 4, 1)
    # hub star (skew case for naive orientation): no triangles
    star = [("h", str(i)) for i in range(20)]
    assert count(star) == (21, 20, 0)


def test_star_empty_and_self_loop(spark):
    res = connected_components(
        edges_df(spark, [("a", "a")]), algorithm="star"
    )
    assert mapping_set(res) == set()
    assert res.converged


def test_bfs_hops_chain_and_disconnect(spark):
    from map_reduce_project_spark.graph.analytics import bfs_hops

    # chain 0-1-2-3-4 plus an unreachable island (x, y)
    edges = edges_df(
        spark, [(str(i), str(i + 1)) for i in range(4)] + [("x", "y")]
    )
    seeds = spark.createDataFrame([("0",)], "node string")
    got = {(r.node, r.hop) for r in bfs_hops(edges, seeds).collect()}
    assert got == {("0", 0), ("1", 1), ("2", 2), ("3", 3), ("4", 4)}

    # max_hops cap truncates the frontier
    got = {
        (r.node, r.hop)
        for r in bfs_hops(edges, seeds, max_hops=2).collect()
    }
    assert got == {("0", 0), ("1", 1), ("2", 2)}

    # multi-source: min hop wins; seed on the island reaches it
    seeds2 = spark.createDataFrame([("0",), ("4",), ("x",)], "node string")
    got = {(r.node, r.hop) for r in bfs_hops(edges, seeds2).collect()}
    assert got == {
        ("0", 0), ("4", 0), ("x", 0),
        ("1", 1), ("3", 1), ("y", 1),
        ("2", 2),
    }


def test_pagerank_int_properties(spark):
    from map_reduce_project_spark.graph.analytics import pagerank_int

    # undirected chain a-b-c: symmetric ends, heavier middle
    edges = edges_df(spark, [("a", "b"), ("b", "c")])
    scale = 10**12
    ranks = {
        r.node: r.rank
        for r in pagerank_int(edges, iterations=10, scale=scale).collect()
    }
    assert set(ranks) == {"a", "b", "c"}
    assert ranks["a"] == ranks["c"]  # symmetry is exact in integer math
    assert ranks["b"] > ranks["a"]
    # total mass stays ~1 (floor-div loses < 1 unit per node per iter)
    total = sum(ranks.values())
    assert abs(total - scale) < 10 * 3 * 10  # iters * nodes * slack
    # regular graph (triangle): exactly uniform at every iteration
    tri = edges_df(spark, [("a", "b"), ("b", "c"), ("a", "c")])
    r3 = {r.node: r.rank for r in pagerank_int(tri, iterations=3).collect()}
    assert len(set(r3.values())) == 1


def test_bounded_sssp_prefers_cheaper_two_hop_path(spark):
    from map_reduce_project_spark.graph.analytics import bounded_sssp

    edges = spark.createDataFrame(
        [("a", "b", 1), ("b", "c", 1), ("a", "c", 5), ("c", "d", 1)],
        "src string, dst string, w long",
    )
    seeds = spark.createDataFrame([("a",)], "node string")
    one = {r.node: r.dist for r in bounded_sssp(edges, seeds, rounds=1).collect()}
    assert one == {"a": 0, "b": 1, "c": 5}  # direct edge only
    three = {r.node: r.dist for r in bounded_sssp(edges, seeds, rounds=3).collect()}
    assert three == {"a": 0, "b": 1, "c": 2, "d": 3}  # relaxed via b


def test_clustering_coefficient_known_graph(spark):
    from map_reduce_project_spark.graph.analytics import (
        clustering_coefficient,
    )

    # triangle a-b-c plus pendant d on a: coeff(b)=coeff(c)=1,
    # coeff(a)=1/3 (one closed of three possible), coeff(d)=0 (deg 1)
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("a", "d")],
        "src string, dst string",
    )
    out = {r.node: (r.deg, r.n_triangles, r.coeff)
           for r in clustering_coefficient(edges).collect()}
    assert out["b"] == (2, 1, 1.0) and out["c"] == (2, 1, 1.0)
    assert out["a"][0] == 3 and out["a"][1] == 1
    assert out["a"][2] == pytest.approx(1 / 3)
    assert out["d"] == (1, 0, 0.0)
