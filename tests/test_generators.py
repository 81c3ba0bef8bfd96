"""Graph generator conformance: determinism + structural invariants.

Bit-exactness with the reference generators was verified behaviorally
(identical edge lists for chain/random/cluster at seed=42); these tests
pin the invariants that make the iteration-count goldens meaningful.
"""

from __future__ import annotations

from map_reduce_project_spark.graph import (
    generate_chain_graph,
    generate_cluster_graph,
    generate_random_graph,
)
from map_reduce_project_spark.graph.generators import (
    random_graph_df,
)
from support import chain_graph_df


def test_chain_shape():
    edges = generate_chain_graph(10)
    assert edges == [(str(i), str(i + 1)) for i in range(9)]


def test_random_graph_deterministic_and_canonical():
    a = generate_random_graph(50, 100, seed=42)
    b = generate_random_graph(50, 100, seed=42)
    assert a == b
    assert len(a) == 100
    assert len(set(a)) == 100
    for src, dst in a:
        assert src != dst
        assert src < dst or (int(src) < int(dst))  # canonical (min,max) ints


def test_random_graph_seed_sensitivity():
    assert generate_random_graph(50, 100, seed=42) != generate_random_graph(
        50, 100, seed=43
    )


def test_cluster_graph_structure():
    edges = generate_cluster_graph(5, 20, inter_edges=0, seed=42)
    # per cluster: 19 chain + 18 skip-2 edges
    assert len(edges) == 5 * (19 + 18)
    nodes = {int(n) for e in edges for n in e}
    assert nodes == set(range(100))
    # no inter-cluster edges when inter_edges=0
    for a, b in edges:
        assert int(a) // 20 == int(b) // 20


def test_cluster_graph_bridges():
    base = generate_cluster_graph(5, 20, inter_edges=0, seed=42)
    bridged = generate_cluster_graph(5, 20, inter_edges=4, seed=42)
    assert bridged[: len(base)] == base
    extra = bridged[len(base) :]
    assert len(extra) == 4
    for a, b in extra:
        assert int(a) // 20 != int(b) // 20


def test_distributed_chain_matches_driver(spark):
    dist = {(r.src, r.dst) for r in chain_graph_df(spark, 25).collect()}
    assert dist == set(generate_chain_graph(25))


def test_distributed_random_graph_valid(spark):
    rows = random_graph_df(spark, 1000, 200, seed=42).collect()
    pairs = {(r.src, r.dst) for r in rows}
    assert len(pairs) == len(rows) <= 200
    for s, d in pairs:
        assert s != d
        assert int(s) < int(d)


def test_hub_graph_is_skewed_and_cc_takes_join_path(spark):
    from map_reduce_project_spark.graph import (
        component_count,
        connected_components,
    )
    from map_reduce_project_spark.graph.generators import hub_graph_df
    from pyspark.sql import functions as F

    g = hub_graph_df(spark, 2000, 8000, n_hubs=2, seed=42)
    deg = (
        g.unionAll(g.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .groupBy("src")
        .count()
    )
    max_deg = deg.agg(F.max("count")).collect()[0][0]
    # ~half of 8000 edges over 2 hubs => hub degree ~2000, uniform ~8
    assert max_deg > 1000
    # the CC autodetect must choose the skew-robust join path when the
    # probe threshold is sized to the hub degree, and still converge
    res = connected_components(g, skew_degree_threshold=800)
    assert res.iterate_path == "join"
    assert res.converged
    # hub graphs with half the edges uniform are one giant component
    assert component_count(res.mapping) >= 1
    # same partition as the default window path
    base = connected_components(g, skew_robust=False)
    a = {tuple(r) for r in res.mapping.collect()}
    b = {tuple(r) for r in base.mapping.collect()}
    assert a == b
