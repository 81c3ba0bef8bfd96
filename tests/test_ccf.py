"""CCF connected components: golden, semantic fine print, and
iteration-count conformance against the reference's published results
(reference experiment_results.csv; semantics S1-S5 per SURVEY.md §2.4).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from map_reduce_project_spark.graph import (
    ccf_dedup,
    component_count,
    component_summary,
    connected_components,
    generate_chain_graph,
    generate_cluster_graph,
    generate_random_graph,
)
from map_reduce_project_spark.graph.generators import edges_df

# Paper Figure 5 worked example (reference ccf_connected_components.py:249-257)
FIG5_EDGES = [
    ("A", "B"),
    ("B", "D"),
    ("D", "E"),
    ("A", "C"),
    ("A", "E"),
    ("F", "G"),
    ("F", "H"),
]
FIG5_EXPECTED = {
    ("B", "A"),
    ("C", "A"),
    ("D", "A"),
    ("E", "A"),
    ("G", "F"),
    ("H", "F"),
}


def mapping_set(result) -> set[tuple[str, str]]:
    return {(r.node, r.component) for r in result.mapping.collect()}


@pytest.mark.parametrize("secondary", [False, True])
def test_golden_figure5(spark, secondary):
    res = connected_components(
        edges_df(spark, FIG5_EDGES), use_secondary_sort=secondary
    )
    assert mapping_set(res) == FIG5_EXPECTED
    assert res.converged
    assert component_count(res.mapping) == 2


def test_representative_never_self_maps(spark):
    # S3: rows = nodes - components; no (x, x) rows.
    res = connected_components(edges_df(spark, FIG5_EDGES))
    rows = mapping_set(res)
    assert len(rows) == 8 - 2
    assert all(node != comp for node, comp in rows)


def test_lexicographic_min_semantics(spark):
    # S1: "10" < "2" lexicographically, so "10" is the representative.
    res = connected_components(edges_df(spark, [("2", "10")]))
    assert mapping_set(res) == {("2", "10")}


def test_dedup_is_ordered_pair(spark):
    # S5: (a,b) and (b,a) are distinct pairs.
    # the dedup reads an iterate's output, which carries the new flag
    df = edges_df(spark, [("a", "b"), ("b", "a"), ("a", "b")]).withColumn(
        "_ccf_new", F.lit(True)
    )
    out = {(r.src, r.dst) for r in ccf_dedup(df).collect()}
    assert out == {("a", "b"), ("b", "a")}


def test_component_summary_readds_representative(spark):
    res = connected_components(edges_df(spark, FIG5_EDGES))
    summary = {
        r.component: (r.members, r.size)
        for r in component_summary(res.mapping).collect()
    }
    assert summary["A"] == (["A", "B", "C", "D", "E"], 5)
    assert summary["F"] == (["F", "G", "H"], 3)


def test_isolated_edge_and_two_components(spark):
    res = connected_components(edges_df(spark, [("x", "y"), ("p", "q")]))
    assert mapping_set(res) == {("y", "x"), ("q", "p")}


# --- iteration-count conformance goldens (reference experiment_results.csv) --

CHAIN_GOLDENS = {10: 6, 50: 8, 100: 9}  # 200/500 -> 10/12 covered by the sweep CLI
RANDOM_GOLDENS = {(50, 100): (5, 1), (100, 300): (5, 1)}
CLUSTER_GOLDENS = {
    (5, 20, 0): (6, 5),
    (5, 20, 4): (7, 2),
    (10, 50, 9): (9, 4),
}


@pytest.mark.parametrize("n,expected_iters", sorted(CHAIN_GOLDENS.items()))
def test_chain_iteration_goldens(spark, n, expected_iters):
    res = connected_components(edges_df(spark, generate_chain_graph(n)))
    assert res.iterations == expected_iters
    assert res.converged
    assert component_count(res.mapping) == 1
    # chain node ids 0..n-1: lexicographic min is "0"
    comps = {r.component for r in res.mapping.collect()}
    assert comps == {"0"}


@pytest.mark.parametrize(
    "cfg,expected", sorted(RANDOM_GOLDENS.items())
)
def test_random_graph_goldens(spark, cfg, expected):
    n_nodes, n_edges = cfg
    iters, comps = expected
    res = connected_components(
        edges_df(spark, generate_random_graph(n_nodes, n_edges, seed=42))
    )
    assert res.iterations == iters
    assert component_count(res.mapping) == comps


@pytest.mark.parametrize("cfg,expected", sorted(CLUSTER_GOLDENS.items()))
def test_cluster_graph_goldens(spark, cfg, expected):
    clusters, per, inter = cfg
    iters, comps = expected
    res = connected_components(
        edges_df(spark, generate_cluster_graph(clusters, per, inter, seed=42))
    )
    assert res.iterations == iters
    assert component_count(res.mapping) == comps


def test_secondary_sort_agrees_with_basic(spark):
    edges = generate_cluster_graph(5, 20, 4, seed=42)
    basic = connected_components(edges_df(spark, edges))
    secsort = connected_components(edges_df(spark, edges), use_secondary_sort=True)
    assert mapping_set(basic) == mapping_set(secsort)
    assert basic.iterations == secsort.iterations


def test_mapping_matches_union_find(spark):
    # Property oracle: pure-Python union-find on the same edges.
    edges = generate_random_graph(80, 120, seed=7)
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb

    groups: dict[str, set[str]] = {}
    for node in parent:
        groups.setdefault(find(node), set()).add(node)
    expected = set()
    for members in groups.values():
        rep = min(members)  # lexicographic (S1)
        expected |= {(m, rep) for m in members if m != rep}

    res = connected_components(edges_df(spark, edges))
    assert mapping_set(res) == expected


def test_max_iterations_cap(spark):
    res = connected_components(
        edges_df(spark, generate_chain_graph(50)), max_iterations=2
    )
    assert not res.converged
    assert res.iterations == 2


def test_parquet_roundtrip_edges(spark, tmp_path, sf0001):
    # O1 production path: edge list from a parquet scan, not parallelize.
    orders = spark.read.parquet(f"{sf0001}/orders.parquet")
    edges = orders.select(
        F.concat(F.lit("c:"), F.col("o_custkey")).alias("src"),
        F.concat(F.lit("o:"), F.col("o_orderkey")).alias("dst"),
    )
    path = str(tmp_path / "edges.parquet")
    edges.write.parquet(path)
    res = connected_components(spark.read.parquet(path))
    # bipartite customer-order graph: every order maps to its customer
    # ("c:" < "o:"), customers are representatives -> rows == orders.
    assert res.mapping.count() == orders.count()
    assert component_count(res.mapping) == orders.select("o_custkey").distinct().count()


def test_join_formulation_agrees_with_window(spark):
    # the skew-robust groupBy+join iterate must produce the identical
    # emission set (incl. the _ccf_new flags) as the fused-window default
    from map_reduce_project_spark.graph import ccf_iterate, ccf_iterate_join

    edges = edges_df(spark, generate_cluster_graph(5, 20, 4, seed=42))
    a = {tuple(r) for r in ccf_iterate(edges).collect()}
    b = {tuple(r) for r in ccf_iterate_join(edges).collect()}
    assert a == b


def test_skew_robust_fixed_point(spark):
    edges = generate_cluster_graph(5, 20, 4, seed=42)
    a = connected_components(edges_df(spark, edges))
    b = connected_components(edges_df(spark, edges), skew_robust=True)
    assert mapping_set(a) == mapping_set(b)
    assert a.iterations == b.iterations


def test_loop_releases_checkpoint_blocks(spark):
    # the loop must not retain one checkpoint generation per
    # iteration: after convergence at most the final generation (plus
    # anything persisted before the loop) may remain — the per-round
    # blocks are freed by CheckpointCycler the moment the next round
    # materializes (graph/checkpointing.py)
    from map_reduce_project_spark.graph.checkpointing import (
        _persistent_rdd_ids,
    )

    before = _persistent_rdd_ids(spark)
    edges = edges_df(spark, generate_chain_graph(40))  # multi-iteration
    res = connected_components(edges)
    assert res.iterations >= 3
    leaked = _persistent_rdd_ids(spark) - before
    # final generation = one checkpointed RDD backing res.mapping
    assert len(leaked) <= 1
    # and the result is still readable after all the unpersists
    assert res.mapping.count() == 39


def test_reliable_checkpoint_mode_matches_default(spark, tmp_path):
    # reliable checkpoints (df.checkpoint into a directory) must
    # produce the identical partition as localCheckpoint mode, and
    # must actually write checkpoint data (the executor-loss-tolerant
    # mode for multi-hour cluster runs)
    import os

    edges = edges_df(spark, generate_chain_graph(40))
    ckpt = str(tmp_path / "ckpt")
    res = connected_components(edges, reliable_checkpoint_dir=ckpt)
    base = connected_components(edges_df(spark, generate_chain_graph(40)))
    assert mapping_set(res) == mapping_set(base)
    assert res.iterations == base.iterations
    written = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(ckpt)
        for f in fs
    ]
    assert written, "no reliable checkpoint files were written"
    # superseded generations are deleted as the loop advances: only
    # the FINAL iteration's subdirectory may hold files (it backs the
    # returned mapping), so disk stays one generation wide
    iter_dirs_with_files = {
        os.path.relpath(dp, ckpt).split(os.sep)[0]
        for dp, _, fs in os.walk(ckpt)
        if fs
    }
    assert iter_dirs_with_files == {f"iter-{res.iterations:04d}"}
    # the result must still be readable from the surviving generation
    assert res.mapping.count() == 39
    # the loop never touches the session checkpoint dir (the parquet
    # barrier is path-addressed), so a later df.checkpoint() elsewhere
    # can't be redirected into loop files
    opt = spark.sparkContext._jsc.sc().getCheckpointDir()
    assert (not opt.isDefined()) or "/iter-" not in opt.get()


def test_reliable_checkpoint_depth_stays_one_generation(spark, tmp_path):
    # the invariant that keeps a multi-hour 100 TB run from filling
    # the checkpoint store, pinned AT DEPTH: a long chain forces ~11
    # iterations, and a sampler thread watches the directory the
    # whole time — at most TWO generations may coexist (iteration
    # i+1 materializes before iteration i is deleted), and exactly
    # one survives the loop
    import os
    import threading
    import time as _time

    edges = edges_df(spark, generate_chain_graph(1200))
    ckpt = str(tmp_path / "deep_ckpt")

    peak = {"gens": 0}
    stop = threading.Event()

    def sample() -> None:
        while not stop.is_set():
            gens = {
                os.path.relpath(dp, ckpt).split(os.sep)[0]
                for dp, _, fs in os.walk(ckpt)
                if fs and "/iter-" in dp
            }
            peak["gens"] = max(peak["gens"], len(gens))
            _time.sleep(0.02)

    t = threading.Thread(target=sample, daemon=True)
    t.start()
    try:
        res = connected_components(edges, reliable_checkpoint_dir=ckpt)
    finally:
        stop.set()
        t.join(timeout=5)
    assert res.converged and res.iterations >= 8, res.iterations
    assert peak["gens"] >= 1, "sampler never saw a live generation"
    assert peak["gens"] <= 2, (
        f"{peak['gens']} checkpoint generations coexisted — superseded "
        "iterations are not being deleted promptly"
    )
    live = {
        os.path.relpath(dp, ckpt).split(os.sep)[0]
        for dp, _, fs in os.walk(ckpt)
        if fs
    }
    assert live == {f"iter-{res.iterations:04d}"}
    assert res.mapping.count() == 1199


def test_incremental_cc_matches_full(spark):
    from map_reduce_project_spark.graph.ccf import (
        connected_components_incremental,
    )

    # old graph: two chains {0..9} and {20..29}; delta: a bridge and a
    # brand-new pair
    old = [(str(i), str(i + 1)) for i in range(9)] + [
        (str(i), str(i + 1)) for i in range(20, 29)
    ]
    delta = [("9", "20"), ("50", "51")]
    old_df = spark.createDataFrame(old, "src string, dst string")
    delta_df = spark.createDataFrame(delta, "src string, dst string")

    full = connected_components(
        spark.createDataFrame(old + delta, "src string, dst string")
    )
    base = connected_components(old_df)
    inc = connected_components_incremental(base.mapping, delta_df)
    assert mapping_set(inc) == mapping_set(full)
    # the incremental run converges fast: old components are stars, so
    # the merge chain is short regardless of the old chains' diameter
    assert inc.iterations < full.iterations


def test_k_truss_peels_pendant_triangle(spark):
    from map_reduce_project_spark.graph.analytics import k_truss

    # K4 on {a,b,c,d}: every edge closes 2 triangles -> survives k=4.
    # Pendant triangle {c,e,f}: its edges close 1 triangle each ->
    # peeled at k=4; removing them cannot affect K4's supports.
    k4 = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d")]
    pendant = [("c", "e"), ("c", "f"), ("e", "f")]
    edges = spark.createDataFrame(k4 + pendant, "src string, dst string")
    out = {
        (r["src"], r["dst"]): r["support"]
        for r in k_truss(edges, k=4).collect()
    }
    assert out == {(a, b): 2 for (a, b) in k4}
    # k=3 keeps both triangles' edges
    assert k_truss(edges, k=3).count() == 9
    # k above the max cohesion empties the graph
    assert k_truss(edges, k=5).count() == 0


def test_k_truss_rejects_k_below_3(spark):
    import pytest as _pytest

    from map_reduce_project_spark.graph.analytics import k_truss

    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    with _pytest.raises(ValueError):
        k_truss(edges, k=2)


def test_k_truss_raises_when_rounds_exhausted(spark):
    import pytest as _pytest

    from map_reduce_project_spark.graph.analytics import k_truss

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c")], "src string, dst string"
    )
    # max_rounds=0 can never reach a verified fixed point: the
    # contract is fail-loud, never supports-from-a-larger-edge-set
    with _pytest.raises(ValueError, match="did not converge"):
        k_truss(edges, k=3, max_rounds=0)


def _py_scc(edge_list):
    """Pure-Python Kosaraju (iterative) — SCC oracle for property tests.
    Returns {node: min-id-of-its-SCC}."""
    from collections import defaultdict

    g, gr, nodes = defaultdict(list), defaultdict(list), set()
    for s, d in edge_list:
        if s == d:
            continue
        nodes.add(s)
        nodes.add(d)
        g[s].append(d)
        gr[d].append(s)
    visited, order = set(), []
    for n in nodes:
        if n in visited:
            continue
        visited.add(n)
        stack = [(n, iter(g[n]))]
        while stack:
            node, it = stack[-1]
            advanced = False
            for nb in it:
                if nb not in visited:
                    visited.add(nb)
                    stack.append((nb, iter(g[nb])))
                    advanced = True
                    break
            if not advanced:
                order.append(node)
                stack.pop()
    comp = {}
    for n in reversed(order):
        if n in comp:
            continue
        comp[n] = n
        members, stack = [n], [n]
        while stack:
            x = stack.pop()
            for nb in gr[x]:
                if nb not in comp:
                    comp[nb] = n
                    members.append(nb)
                    stack.append(nb)
        m = min(members)
        for v in members:
            comp[v] = m
    return comp


def _run_scc(spark, edge_list):
    from map_reduce_project_spark.graph.analytics import (
        strongly_connected_components_directed,
    )

    edges = spark.createDataFrame(edge_list, "src string, dst string")
    return {
        r["node"]: r["scc"]
        for r in strongly_connected_components_directed(edges).collect()
    }


def test_scc_two_cycles_bridged(spark):
    # cycle {a,b,c} -> bridge v -> cycle {d,e}; v trims only after a
    # cycle peels, exercising the non-trivial middle-node case
    edges = [
        ("a", "b"), ("b", "c"), ("c", "a"),
        ("c", "v"), ("v", "d"),
        ("d", "e"), ("e", "d"),
    ]
    got = _run_scc(spark, edges)
    assert got == {
        "a": "a", "b": "a", "c": "a",
        "v": "v",
        "d": "d", "e": "d",
    }


def test_scc_dag_chain_trims(spark):
    # pure DAG: every node a singleton, dissolved by trim cascades alone
    edges = [(str(i), str(i + 1)) for i in range(9)]
    got = _run_scc(spark, edges)
    assert got == {str(i): str(i) for i in range(10)}


def test_scc_self_loops_and_duplicates(spark):
    edges = [("a", "a"), ("a", "b"), ("a", "b"), ("b", "a"), ("c", "a")]
    got = _run_scc(spark, edges)
    assert got == {"a": "a", "b": "a", "c": "c"}


def test_scc_empty(spark):
    got = _run_scc(spark, [("x", "x")])  # only a self-loop -> no edges
    assert got == {}


def test_scc_matches_python_oracle_random(spark):
    import random

    for seed in (7, 42, 99):
        rng = random.Random(seed)
        n = 30
        edge_list = list(
            {
                (str(rng.randrange(n)), str(rng.randrange(n)))
                for _ in range(70)
            }
        )
        got = _run_scc(spark, edge_list)
        assert got == _py_scc(edge_list), f"seed={seed}"


def test_scc_local_threshold_matches_distributed(spark):
    """The driver-local Tarjan fast path is semantics-identical to the
    distributed peel: same mapping against the python oracle on random
    directed graphs, self-loop/duplicate intake included, and an
    over-threshold graph falls through to the distributed loop."""
    import random

    from map_reduce_project_spark.graph.analytics import (
        scc_fixed_point_local,
        strongly_connected_components_directed,
    )

    for seed in (5, 23, 61):
        rng = random.Random(seed)
        n = 25
        edge_list = list(
            {
                (str(rng.randrange(n)), str(rng.randrange(n)))
                for _ in range(60)
            }
        )
        want = _py_scc(edge_list)
        # the raw local oracle (simple edges only — drop self-loops)
        simple = [(s, d) for s, d in set(edge_list) if s != d]
        assert scc_fixed_point_local(simple) == want, f"seed={seed}"
        # the DataFrame wrapper through the threshold branch
        edges = spark.createDataFrame(edge_list, "src string, dst string")
        got = {
            r["node"]: r["scc"]
            for r in strongly_connected_components_directed(
                edges, local_threshold=100_000
            ).collect()
        }
        assert got == want, f"seed={seed}"
        # a threshold below the edge count must take the distributed
        # path and still agree
        got_dist = {
            r["node"]: r["scc"]
            for r in strongly_connected_components_directed(
                edges, local_threshold=1
            ).collect()
        }
        assert got_dist == want, f"seed={seed}"

    # self-loop-only graph: no simple edges -> typed empty mapping
    only_loop = spark.createDataFrame(
        [("x", "x")], "src string, dst string"
    )
    out = strongly_connected_components_directed(
        only_loop, local_threshold=10
    )
    assert out.count() == 0 and out.columns == ["node", "scc"]


def test_scc_condensation_is_dag(spark):
    # condensing SCCs must leave an acyclic graph: rerunning SCC on the
    # condensation yields only singletons
    from map_reduce_project_spark.queries.graph_queries import (
        scc_condensation,
    )
    from map_reduce_project_spark.graph.analytics import (
        strongly_connected_components_directed,
    )

    cond = scc_condensation(spark, "/root/testdata/sf0.001")
    cond_edges = cond.select(
        F.col("scc_src").alias("src"), F.col("scc_dst").alias("dst")
    )
    again = strongly_connected_components_directed(cond_edges)
    assert again.where(F.col("node") != F.col("scc")).count() == 0


def test_dag_levels_chain_and_diamond(spark):
    from map_reduce_project_spark.graph.analytics import (
        dag_longest_path_levels,
    )

    # diamond with a long arm: a->b->d, a->c->e->d  => d at level 3
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "d"), ("a", "c"), ("c", "e"), ("e", "d")],
        "src string, dst string",
    )
    got = {
        r["node"]: r["level"]
        for r in dag_longest_path_levels(edges).collect()
    }
    assert got == {"a": 0, "b": 1, "c": 1, "e": 2, "d": 3}


def test_dag_levels_cycle_raises(spark):
    import pytest

    from map_reduce_project_spark.graph.analytics import (
        dag_longest_path_levels,
    )

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a")], "src string, dst string"
    )
    with pytest.raises(ValueError, match="cycle"):
        dag_longest_path_levels(edges, max_iters=6)


def test_dag_levels_isolated_nodes(spark):
    from map_reduce_project_spark.graph.analytics import (
        dag_longest_path_levels,
    )

    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    nodes = spark.createDataFrame([("z",), ("a",)], "node string")
    got = {
        r["node"]: r["level"]
        for r in dag_longest_path_levels(edges, nodes=nodes).collect()
    }
    assert got == {"a": 0, "b": 1, "z": 0}


def test_scc_deep_dag_does_not_consume_round_budget(spark):
    # a 120-node path needs ~60 trim cascades; they must not count
    # against the color-round budget (max_rounds bounds SCC chains)
    from map_reduce_project_spark.graph.analytics import (
        strongly_connected_components_directed,
    )

    edges = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(119)],
        "src string, dst string",
    )
    got = strongly_connected_components_directed(edges, max_rounds=3)
    assert got.where(F.col("node") != F.col("scc")).count() == 0
    assert got.count() == 120


def _py_kruskal(edge_list):
    """Total-order Kruskal — MSF oracle. Edges (src, dst, w); the
    same (weight, src, dst) total order as the engine; returns the
    canonical-orientation edge set."""
    canon = {}
    for s, d, w in edge_list:
        if s == d or s is None or d is None:
            continue
        a, b = (s, d) if s < d else (d, s)
        if (a, b) not in canon or w < canon[(a, b)]:
            canon[(a, b)] = w
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    out = set()
    for (a, b), w in sorted(canon.items(), key=lambda kv: (kv[1], kv[0])):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
            out.add((a, b, w))
    return out


def _run_msf(spark, edge_list):
    from map_reduce_project_spark.graph.analytics import (
        minimum_spanning_forest,
    )

    df = spark.createDataFrame(
        edge_list, "src string, dst string, weight double"
    )
    return {
        (r["src"], r["dst"], r["weight"])
        for r in minimum_spanning_forest(df).collect()
    }


def test_msf_small_known(spark):
    # triangle + pendant: MST drops the heaviest triangle edge
    edges = [
        ("a", "b", 1.0),
        ("b", "c", 2.0),
        ("a", "c", 3.0),
        ("c", "d", 4.0),
    ]
    assert _run_msf(spark, edges) == {
        ("a", "b", 1.0),
        ("b", "c", 2.0),
        ("c", "d", 4.0),
    }


def test_msf_forest_and_duplicates(spark):
    # two components, duplicate + reversed edges, equal weights broken
    # by the (weight, src, dst) total order
    edges = [
        ("a", "b", 1.0),
        ("b", "a", 1.0),
        ("b", "c", 1.0),
        ("a", "c", 1.0),
        ("x", "y", 5.0),
    ]
    got = _run_msf(spark, edges)
    assert got == _py_kruskal(edges)
    assert len(got) == 3  # spanning forest: 2 comps, 5 nodes


def test_msf_matches_kruskal_random(spark):
    import random

    for seed in (3, 17, 71):
        rng = random.Random(seed)
        n = 25
        edge_list = [
            (
                str(rng.randrange(n)),
                str(rng.randrange(n)),
                float(rng.randrange(1, 40)),
            )
            for _ in range(60)
        ]
        assert _run_msf(spark, edge_list) == _py_kruskal(edge_list), seed


def test_scc_empty_result_schema_matches_key_type(spark):
    # an int-keyed graph with only self-loops yields an EMPTY mapping;
    # both the local-Tarjan fast path and the distributed peel must
    # type the empty (node, scc) columns as the edge key type, not
    # hardcoded strings (advice r5: schema divergence forced casts in
    # scc_condensation/scc_topo_levels downstream joins)
    from map_reduce_project_spark.graph.analytics import (
        strongly_connected_components_directed,
    )

    edges = spark.createDataFrame([(7, 7), (9, 9)], "src long, dst long")
    local = strongly_connected_components_directed(
        edges, local_threshold=100
    )
    dist = strongly_connected_components_directed(edges)
    for df in (local, dist):
        assert df.count() == 0
        types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        assert types == {"node": "bigint", "scc": "bigint"}, types


def test_n_edges_hint_skips_sizing_count(spark):
    # round 8 (round-7 watch item): a correct hint produces the same
    # mapping as the counted path; a WRONG hint still converges to the
    # identical fixed point (the hint only steers sizing heuristics)
    from pyspark.sql import functions as F

    from map_reduce_project_spark.graph.ccf import connected_components

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "src string, dst string"
    )
    base = {
        (r.node, r.component)
        for r in connected_components(edges).mapping.collect()
    }
    hinted = {
        (r.node, r.component)
        for r in connected_components(
            edges, n_edges_hint=3
        ).mapping.collect()
    }
    wrong = {
        (r.node, r.component)
        for r in connected_components(
            edges, n_edges_hint=10_000_000
        ).mapping.collect()
    }
    assert base == hinted == wrong

    # hint + local fast path: the hint drives the threshold decision
    local = connected_components(
        edges, local_threshold=100, n_edges_hint=3
    )
    assert {
        (r.node, r.component) for r in local.mapping.collect()
    } == base


def test_algorithm_star_dispatch_matches_ccf(spark):
    # connected_components(algorithm="star") must produce the exact
    # mapping CCF does (S1 lexicographic min, S3 representative
    # excluded) and report the star iterate_path
    edges = edges_df(spark, generate_random_graph(120, 180, seed=7))
    base = connected_components(edges)
    star = connected_components(
        edges_df(spark, generate_random_graph(120, 180, seed=7)),
        algorithm="star",
    )
    assert mapping_set(star) == mapping_set(base)
    assert star.iterate_path == "star"
    assert star.converged


def test_algorithm_star_reliable_barrier(spark, tmp_path):
    # star + reliable mode: identical mapping, one surviving parquet
    # generation (iter-NNNN dirs, as CCF), per-round hook reports the bounded
    # canonical edge-set size
    import os

    edges = edges_df(spark, generate_chain_graph(60))
    ckpt = str(tmp_path / "star_ckpt")
    seen: list[dict] = []
    res = connected_components(
        edges,
        algorithm="star",
        reliable_checkpoint_dir=ckpt,
        on_iteration=seen.append,
    )
    base = connected_components(edges_df(spark, generate_chain_graph(60)))
    assert mapping_set(res) == mapping_set(base)
    # superseded generations deleted: only the final round's dir holds files
    live = {
        os.path.relpath(dp, ckpt).split(os.sep)[0]
        for dp, _, fs in os.walk(ckpt)
        if fs
    }
    assert live == {f"iter-{res.iterations:04d}"}
    # hook fired once per round with the bounded-intermediate metric
    assert len(seen) == res.iterations
    assert all("pairs" in i and "ckpt_mb" in i for i in seen)
    # star never amplifies: every round's canonical set is bounded by
    # nodes + input edges (Kiveris et al. Thm 3.1) — chain of 60 nodes
    assert max(i["pairs"] for i in seen) <= 60 + 59
    # result still readable from the surviving generation
    assert res.mapping.count() == 59


def test_algorithm_star_rejects_ccf_only_knobs(spark):
    edges = edges_df(spark, generate_chain_graph(5))
    with pytest.raises(ValueError):
        connected_components(edges, algorithm="star", use_secondary_sort=True)
    with pytest.raises(ValueError):
        connected_components(edges, algorithm="star", local_threshold=10)
    with pytest.raises(ValueError):
        connected_components(edges, algorithm="nope")
