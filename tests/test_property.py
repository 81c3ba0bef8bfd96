"""Hypothesis property tests: CCF vs a pure-Python union-find oracle
on arbitrary small graphs (SURVEY.md §5.2)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from map_reduce_project_spark.graph import connected_components
from map_reduce_project_spark.graph.generators import edges_df

node = st.integers(min_value=0, max_value=30).map(str)
edge = st.tuples(node, node)


def union_find_mapping(edges: list[tuple[str, str]]) -> set[tuple[str, str]]:
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a == b:
            # self-loops register the node but connect nothing;
            # CCF never emits for an isolated self-looped node
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb

    groups: dict[str, set[str]] = {}
    for n in parent:
        groups.setdefault(find(n), set()).add(n)
    expected = set()
    for members in groups.values():
        rep = min(members)  # lexicographic (S1)
        expected |= {(m, rep) for m in members if m != rep}
    return expected


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(st.lists(edge, min_size=1, max_size=40))
def test_ccf_matches_union_find(spark, edges):
    expected = union_find_mapping(edges)
    res = connected_components(edges_df(spark, edges))
    got = {(r.node, r.component) for r in res.mapping.collect()}
    assert got == expected
    assert res.converged
    # representative never self-maps (S3)
    assert all(n != c for n, c in got)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(st.lists(edge, min_size=1, max_size=40))
def test_star_matches_union_find(spark, edges):
    expected = union_find_mapping(edges)
    res = connected_components(edges_df(spark, edges), algorithm="star")
    got = {(r.node, r.component) for r in res.mapping.collect()}
    assert got == expected
    assert res.converged


def python_bfs(edges, seeds, max_hops):
    adj: dict[str, set[str]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    hops = {s: 0 for s in seeds}
    frontier = set(seeds)
    for h in range(1, max_hops + 1):
        frontier = {
            v for u in frontier for v in adj.get(u, ()) if v not in hops
        }
        for v in frontier:
            hops[v] = h
        if not frontier:
            break
    return set(hops.items())


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    st.lists(edge, min_size=1, max_size=40),
    st.lists(node, min_size=1, max_size=3),
)
def test_bfs_matches_python_oracle(spark, edges, seeds):
    from map_reduce_project_spark.graph.analytics import bfs_hops

    # seeds must exist in the graph OR be isolated seed-only nodes —
    # bfs_hops reports them at hop 0 either way, as does the oracle
    expected = python_bfs(edges, set(seeds), max_hops=5)
    sdf = spark.createDataFrame([(s,) for s in seeds], "node string")
    got = {
        (r.node, r.hop)
        for r in bfs_hops(edges_df(spark, edges), sdf, max_hops=5).collect()
    }
    assert got == expected


def python_pagerank_int(edges, iterations, scale):
    und = set()
    for a, b in edges:
        und.add((a, b))
        und.add((b, a))
    adj: dict[str, list[str]] = {}
    for a, b in sorted(und):
        adj.setdefault(a, []).append(b)
    n = len(adj)
    init = scale // n
    tp = (15 * init) // 100
    rank = {u: init for u in adj}
    for _ in range(iterations):
        incoming: dict[str, int] = {}
        for u, nbrs in adj.items():
            c = rank[u] // len(nbrs)
            for v in nbrs:
                incoming[v] = incoming.get(v, 0) + c
        rank = {v: tp + (85 * s) // 100 for v, s in incoming.items()}
    return set(rank.items())


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(st.lists(edge, min_size=1, max_size=40))
def test_pagerank_int_matches_python_oracle(spark, edges):
    from map_reduce_project_spark.graph.analytics import pagerank_int

    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    # integer fixed-point arithmetic: the distributed result must be
    # BIT-IDENTICAL to the sequential one, not merely close
    expected = python_pagerank_int(edges, iterations=3, scale=10**9)
    got = {
        (r.node, r.rank)
        for r in pagerank_int(
            edges_df(spark, edges), iterations=3, scale=10**9
        ).collect()
    }
    assert got == expected


def python_k_core(edges, k):
    """Synchronous peeling oracle: all degrees computed before any
    removal each round."""
    und = set()
    for a, b in edges:
        if a != b:
            und.add((a, b))
            und.add((b, a))
    while True:
        deg = {}
        for a, _ in und:
            deg[a] = deg.get(a, 0) + 1
        nxt = {(a, b) for a, b in und if deg[a] >= k and deg[b] >= k}
        if nxt == und:
            break
        und = nxt
    deg = {}
    for a, _ in und:
        deg[a] = deg.get(a, 0) + 1
    return deg


def test_k_core_chain_cascade(spark):
    """A chain peels from the ends inward one round per node — the
    deep-cascade case (every round removes exactly two nodes): the
    2-core of a pure chain is empty, reached only after len/2 rounds."""
    from map_reduce_project_spark.graph.analytics import k_core

    chain = [(str(i), str(i + 1)) for i in range(12)]
    got = {
        (r.node, r.deg)
        for r in k_core(edges_df(spark, chain), k=2).collect()
    }
    assert got == set()
    # a chain with a 4-cycle welded on keeps exactly the cycle
    cyc = chain + [("100", "101"), ("101", "102"), ("102", "103"), ("103", "100"), ("0", "100")]
    got2 = {
        (r.node, r.deg)
        for r in k_core(edges_df(spark, cyc), k=2).collect()
    }
    assert got2 == {(n, 2) for n in ("100", "101", "102", "103")}
    assert python_k_core(cyc, 2) == {n: d for n, d in got2}


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(st.lists(edge, min_size=1, max_size=40), st.integers(min_value=2, max_value=4))
def test_k_core_matches_python_oracle(spark, edges, k):
    from map_reduce_project_spark.graph.analytics import k_core

    expected = python_k_core(edges, k)
    got = {r.node: r.deg for r in k_core(edges_df(spark, edges), k=k).collect()}
    assert got == expected


def test_both_orientation_intake(spark):
    """Regression for the round-2 k_core bug class: an input that
    contains BOTH (a,b) and (b,a) must behave identically to one that
    contains the edge once. Checked on every analytics loop that
    consumes an undirected edge list."""
    from map_reduce_project_spark.graph.analytics import (
        bfs_hops,
        clustering_coefficient,
        k_core,
        label_propagation,
        pagerank_int,
        triangle_count,
    )

    tri = [("0", "1"), ("1", "2"), ("2", "0")]
    doubled = tri + [(b, a) for a, b in tri]

    # the original falsifying example: both orientations of ONE edge
    # must yield an empty 2-core, not a doubled-degree phantom core
    single = edges_df(spark, [("0", "1"), ("1", "0")])
    assert k_core(single, k=2).collect() == []

    for fn in (
        lambda df: {(r.node, r.deg) for r in k_core(df, k=2).collect()},
        lambda df: {
            (r.node, r.hop)
            for r in bfs_hops(
                df, spark.createDataFrame([("0",)], "node string"), 3
            ).collect()
        },
        lambda df: {(r.node, r.rank) for r in pagerank_int(df, 2).collect()},
        lambda df: {
            (r.node, r.community)
            for r in label_propagation(df, 2).collect()
        },
        lambda df: {
            (r.node, r.deg, r.n_triangles, r.coeff)
            for r in clustering_coefficient(df).collect()
        },
        lambda df: {tuple(r) for r in triangle_count(df).collect()},
    ):
        assert fn(edges_df(spark, tri)) == fn(edges_df(spark, doubled))


def python_lpa(edges, rounds):
    und = set()
    for a, b in edges:
        und.add((a, b))
        und.add((b, a))
    adj: dict[str, list[str]] = {}
    for a, b in sorted(und):
        adj.setdefault(a, []).append(b)
    label = {u: u for u in adj}
    for _ in range(rounds):
        nxt = {}
        for u, nbrs in adj.items():
            counts: dict[str, int] = {}
            for v in nbrs:
                counts[label[v]] = counts.get(label[v], 0) + 1
            # max count, tie -> lexicographically smallest label
            nxt[u] = min(counts, key=lambda l: (-counts[l], l))
        label = nxt
    return set(label.items())


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(st.lists(edge, min_size=1, max_size=40), st.integers(min_value=1, max_value=3))
def test_label_propagation_matches_python_oracle(spark, edges, rounds):
    from map_reduce_project_spark.graph.analytics import label_propagation

    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    expected = python_lpa(edges, rounds)
    got = {
        (r.node, r.community)
        for r in label_propagation(edges_df(spark, edges), rounds=rounds).collect()
    }
    assert got == expected


def test_label_propagation_splits_bridged_cliques(spark):
    """Two 4-cliques joined by one bridge: connectivity is a single
    component, but LPA assigns each clique its own community."""
    from map_reduce_project_spark.graph.analytics import label_propagation

    def clique(prefix, ids):
        return [
            (f"{prefix}{i}", f"{prefix}{j}")
            for i in ids
            for j in ids
            if i < j
        ]

    edges = clique("a", range(4)) + clique("b", range(4)) + [("a0", "b0")]
    labels = {
        r.node: r.community
        for r in label_propagation(edges_df(spark, edges), rounds=3).collect()
    }
    a_comms = {labels[f"a{i}"] for i in range(4)}
    b_comms = {labels[f"b{i}"] for i in range(4)}
    assert len(a_comms) == 1 and len(b_comms) == 1
    assert a_comms != b_comms

    res_cc = connected_components(edges_df(spark, edges))
    comps = {r.component for r in res_cc.mapping.collect()}
    assert comps == {"a0"}  # one component, two communities


# ---------------------------------------------------------------------------
# Round-3 embedding operators vs pure-Python oracles
# ---------------------------------------------------------------------------

QS = 1 << 24


def _quant(vec: list[float]) -> list[int]:
    import math

    return [math.floor(x * QS) for x in vec]


def _semdedup_python(
    rows: list[tuple[int, list[float]]], k: int, tau: float
) -> dict[int, tuple[int, bool, int]]:
    """(id -> (cell, pruned, pruned_by)) mirroring semdedup_prune."""
    q = {i: _quant(v) for i, v in rows}
    cents = {i: q[i] for i, _ in rows if i < k}
    cell = {}
    for i, _ in rows:
        best = min(
            (
                (
                    sum((a - b) * (a - b) for a, b in zip(q[i], c)),
                    cid,
                )
                for cid, c in cents.items()
            )
        )
        cell[i] = best[1]
    out = {}
    tau2 = tau * tau
    for v, _ in rows:
        pby = -1
        for u, _ in rows:
            if u >= v or cell[u] != cell[v]:
                continue
            dot = sum(a * b for a, b in zip(q[u], q[v]))
            nu = sum(a * a for a in q[u])
            nv = sum(a * a for a in q[v])
            if dot > 0 and float(dot) * float(dot) >= tau2 * float(nu) * float(nv):
                pby = u if pby == -1 else min(pby, u)
        out[v] = (cell[v], pby != -1, pby)
    return out


vec4 = st.lists(
    st.floats(
        min_value=-4.0, max_value=4.0, allow_nan=False, allow_infinity=False
    ),
    min_size=4,
    max_size=4,
)


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(vec4, min_size=3, max_size=12, unique_by=lambda v: tuple(v)))
def test_semdedup_matches_python_oracle(spark, vecs):
    from map_reduce_project_spark.operators.similarity import semdedup_prune

    rows = [(i, v) for i, v in enumerate(vecs)]
    want = _semdedup_python(rows, k=2, tau=0.9)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r["vec_id"]: (r["cell"], r["pruned"], r["pruned_by"])
        for r in semdedup_prune(df, n_centroids=2, threshold=0.9).collect()
    }
    assert got == want


def _kmeans_python(
    rows: list[tuple[int, list[float]]], k: int, iterations: int
) -> dict[int, tuple[int, int]]:
    import math

    q = {i: _quant(v) for i, v in rows}
    cents = {i: list(q[i]) for i, _ in rows if i < k}

    def assign():
        a = {}
        for i, _ in rows:
            best = min(
                (
                    (
                        sum((x - c) * (x - c) for x, c in zip(q[i], cv)),
                        cid,
                    )
                    for cid, cv in cents.items()
                )
            )
            a[i] = (best[1], best[0])
        return a

    for _ in range(iterations):
        a = assign()
        members: dict[int, list[int]] = {}
        for i, (c, _) in a.items():
            members.setdefault(c, []).append(i)
        for c, ids in members.items():
            cents[c] = [
                math.floor(
                    sum(q[i][p] for i in ids) / float(len(ids))
                )
                for p in range(len(cents[c]))
            ]
    return {i: (c, d) for i, (c, d) in assign().items()}


@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(vec4, min_size=3, max_size=10, unique_by=lambda v: tuple(v)))
def test_kmeans_int_matches_python_oracle(spark, vecs):
    from map_reduce_project_spark.operators.similarity import kmeans_int

    rows = [(i, v) for i, v in enumerate(vecs)]
    want = _kmeans_python(rows, k=2, iterations=2)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r["vec_id"]: (r["cluster"], r["dist2"])
        for r in kmeans_int(df, k=2, iterations=2).collect()
    }
    assert got == want


def python_ppr_int(edges, seeds, iterations, scale):
    und = set()
    for a, b in edges:
        und.add((a, b))
        und.add((b, a))
    adj: dict[str, list[str]] = {}
    for a, b in sorted(und):
        adj.setdefault(a, []).append(b)
    seeds = {s for s in seeds if s in adj}
    init = scale // len(seeds)
    tp = (15 * init) // 100
    rank = {u: (init if u in seeds else 0) for u in adj}
    for _ in range(iterations):
        incoming: dict[str, int] = {v: 0 for v in adj}
        for u, nbrs in adj.items():
            c = rank[u] // len(nbrs)
            for v in nbrs:
                incoming[v] += c
        rank = {
            v: (tp if v in seeds else 0) + (85 * s) // 100
            for v, s in incoming.items()
        }
    return set(rank.items())


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(st.lists(edge, min_size=1, max_size=40))
def test_ppr_int_matches_python_oracle(spark, edges):
    from map_reduce_project_spark.graph.analytics import (
        personalized_pagerank_int,
    )

    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    # seed = the smallest node present (always nonempty)
    all_nodes = sorted({n for e in edges for n in e})
    seeds = all_nodes[:2]
    expected = python_ppr_int(edges, seeds, iterations=3, scale=10**9)
    seeds_df = spark.createDataFrame([(s,) for s in seeds], "node string")
    got = {
        (r.node, r.rank)
        for r in personalized_pagerank_int(
            edges_df(spark, edges), seeds_df, iterations=3, scale=10**9
        ).collect()
    }
    assert got == expected


def _bpe_reference(texts: list[str], n_merges: int):
    """Straight-line reference BPE: global adjacent-pair counts,
    (count desc, pair asc) argmax, greedy-leftmost application."""
    docs = [t.split(" ") for t in texts]
    merges = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for toks in docs:
            for i in range(len(toks) - 1):
                p = (toks[i], toks[i + 1])
                counts[p] = counts.get(p, 0) + 1
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append((best[0], best[1], counts[best]))
        new_docs = []
        for toks in docs:
            out, i = [], 0
            while i < len(toks):
                if (
                    i + 1 < len(toks)
                    and (toks[i], toks[i + 1]) == best
                ):
                    out.append(toks[i] + toks[i + 1])
                    i += 2
                else:
                    out.append(toks[i])
                    i += 1
            new_docs.append(out)
        docs = new_docs
    return merges


def test_bpe_train_matches_reference_on_random_corpora(spark):
    import random

    from map_reduce_project_spark.operators.text import bpe_train

    rng = random.Random(1234)
    vocab = ["a", "b", "c", "d"]
    for trial in range(4):
        texts = [
            " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 30)))
            for _ in range(8)
        ]
        df = spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string"
        )
        got = [
            (r["lhs"], r["rhs"], r["pair_count"])
            for r in bpe_train(df, 4).orderBy("merge_rank").collect()
        ]
        want = _bpe_reference(texts, 4)
        assert got == want, f"trial {trial}: {got} != {want}"


def test_sigma_counts_diamond(spark):
    # diamond s-a-t / s-b-t: two shortest 2-hop paths to t, one to
    # each middle node; plus a longer detour t-c that contributes a
    # 3-hop count of 2 (via t)
    from map_reduce_project_spark.graph.analytics import shortest_path_counts

    edges = spark.createDataFrame(
        [("s", "a"), ("s", "b"), ("a", "t"), ("b", "t"), ("t", "c")],
        "src string, dst string",
    )
    seeds = spark.createDataFrame([("s",)], "node string")
    out = {
        (r["node"], r["hop"]): r["n_paths"]
        for r in shortest_path_counts(edges, seeds, max_hops=3).collect()
    }
    assert out == {
        ("s", 0): 1,
        ("a", 1): 1,
        ("b", 1): 1,
        ("t", 2): 2,
        ("c", 3): 2,
    }


def brute_truss(edges: list[tuple[str, str]], k: int) -> dict:
    """Pure-Python synchronous k-truss peel: canonical simple edges,
    remove all edges with < k-2 triangles each round until stable.
    Returns {edge: support-at-fixed-point}."""
    es = {
        (min(a, b), max(a, b))
        for a, b in edges
        if a != b
    }
    while True:
        adj: dict[str, set[str]] = {}
        for a, b in es:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        sup = {
            (a, b): len(adj[a] & adj[b])
            for a, b in es
        }
        keep = {e for e in es if sup[e] >= k - 2}
        if keep == es:
            return {e: sup[e] for e in es}
        es = keep


@settings(
    max_examples=6,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
    deadline=None,
)
@given(st.lists(edge, min_size=1, max_size=40), st.integers(3, 5))
def test_k_truss_matches_brute_force(spark, edges, k):
    from map_reduce_project_spark.graph.analytics import k_truss

    expected = brute_truss(edges, k)
    got = {
        (r["src"], r["dst"]): r["support"]
        for r in k_truss(edges_df(spark, edges), k=k).collect()
    }
    assert got == expected


def brute_sigma(
    edges: list[tuple[str, str]], seeds: list[str], max_hops: int
) -> dict:
    adj: dict[str, set[str]] = {}
    for a, b in edges:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    out = {}
    for s in seeds:
        dist = {s: 0}
        paths = {s: 1}
        frontier = [s]
        for h in range(1, max_hops + 1):
            nxt: dict[str, int] = {}
            for u in frontier:
                for v in adj.get(u, ()):
                    if v in dist:
                        continue
                    nxt[v] = nxt.get(v, 0) + paths[u]
            for v, p in nxt.items():
                dist[v] = h
                paths[v] = p
            frontier = list(nxt)
            if not frontier:
                break
        for v in dist:
            out[(s, v)] = (dist[v], paths[v])
    return out


@settings(
    max_examples=6,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
    deadline=None,
)
@given(st.lists(edge, min_size=1, max_size=40))
def test_sigma_matches_brute_force(spark, edges):
    from map_reduce_project_spark.graph.analytics import shortest_path_counts

    seeds = sorted({a for a, _ in edges})[:2]
    if not seeds:
        return
    expected = brute_sigma(edges, seeds, max_hops=3)
    seeds_df = spark.createDataFrame(
        [(s,) for s in seeds], "node string"
    )
    got = {
        (r["seed"], r["node"]): (r["hop"], r["n_paths"])
        for r in shortest_path_counts(
            edges_df(spark, edges), seeds_df, max_hops=3
        ).collect()
    }
    assert got == expected
