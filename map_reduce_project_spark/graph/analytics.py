"""Graph analytics beyond connected components: triangle counting,
multi-source BFS shortest hops, and integer fixed-point PageRank.

Implements the degree-ordered triangle count (Suri & Vassilvitskii,
WWW 2011 — the MapReduce formulation; also Cohen 2009): orient every
undirected edge from its lower-(degree, id) endpoint to the higher
one, then count wedges closed by an oriented edge. Degree ordering is
the scale trick: a hub of degree d contributes O(d^2) wedges under
naive orientation but only O(sum of squared OUT-degrees) here, and
out-degree is bounded by ~sqrt(edges) under this orientation — the
difference between feasible and quadratic on power-law graphs.

The count is orientation-invariant (every triangle has exactly one
source under any total order), which is what lets the DuckDB oracle
use plain id-ordering while the engine uses degree-ordering.

Physical shape: one degree aggregate, two equi-joins (wedge build +
closure semi-join), all shuffle-partitioned on node ids — no
windows, no cross joins.
"""

from __future__ import annotations

from functools import reduce
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .ccf import _undirected
from .checkpointing import (
    CheckpointCycler,
    _unpersist_rdds,
    checkpoint_rdd_ids,
    fixed_point,
    release_unread,
)

# How many Bellman-Ford relaxations the sssp loops chain LAZILY between
# materialization barriers (a lazy localCheckpoint forced by the
# convergence count).
# 1 reproduces the classic one-barrier-per-round loop bit-for-bit; the
# batched loop is result-identical for any value because relaxation is
# monotone and a no-op at the fixed point (argument inline at the loop).
# Scale-neutral: the knob trades lineage depth between checkpoints
# against per-round scheduling + state-write cost, not data volume.
_RELAX_PER_BARRIER = 2


def _changed_rows(flag: str):
    """``fixed_point`` measure: the rows whose ``flag`` is true (the
    loop has converged when there are none)."""
    return lambda df: {"changed": df.where(F.col(flag)).count()}


def canonical_pairs(edges: DataFrame) -> DataFrame:
    """Fold both orientations of every edge onto the (least, greatest)
    canonical pair, drop self-loops, and dedup. Output: (src, dst),
    exactly one row per undirected edge regardless of how the input
    mixed orientations or duplicated rows.

    Deduping the FOLDED pairs (one shuffle over ~|E| rows) is the only
    correct intake for a mixed-orientation edge list: deduping ordered
    pairs first and expanding after re-emits an edge twice when both
    (a,b) and (b,a) were present — the round-2 k_core bug, falsified
    by tests/test_property.py on [('0','1'),('1','0')].
    """
    a, b = edges.columns[0], edges.columns[1]
    return (
        edges.select(
            F.least(F.col(a), F.col(b)).alias("src"),
            F.greatest(F.col(a), F.col(b)).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )


def canonical_undirected(edges: DataFrame) -> DataFrame:
    """Undirected simple-graph intake shared by every analytics loop:
    canonicalize (``canonical_pairs``) then re-expand bidirectionally.
    Each undirected edge appears exactly once per direction; degrees
    computed on the result are the simple-graph degrees."""
    return _undirected(canonical_pairs(edges))


def degree_oriented_edges(edges: DataFrame) -> DataFrame:
    """Canonical (src -> dst) orientation by (degree, id) order, with
    self-loops and duplicate edges removed. Output: (src, dst)."""
    canon = canonical_pairs(edges).select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    )
    und = _undirected(canon.select(F.col("a").alias("src"), F.col("b").alias("dst")))
    deg = und.groupBy("src").agg(F.count("*").alias("deg")).withColumnRenamed("src", "n")

    da = deg.select(F.col("n").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("n").alias("b"), F.col("deg").alias("deg_b"))
    with_deg = canon.join(da, "a").join(db, "b")
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    return with_deg.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
    )


def bfs_hops(
    edges: DataFrame, seeds: DataFrame, max_hops: int = 10
) -> DataFrame:
    """Multi-source BFS: minimum hop count from any seed node, capped
    at ``max_hops``. Returns (node, hop) for every REACHED node
    (unreached nodes are absent, mirroring the CCF mapping's S3
    convention of omitting what was never emitted).

    Frontier-expansion formulation: each level joins only the NEW
    frontier against the adjacency list and anti-joins the visited
    set. Each node enters the frontier at most once, so total work is
    O(edges) across all iterations — unlike a Bellman-Ford-style "min
    over neighbors until fixpoint" which rescans every edge every
    round.

    Round-12 restructure (guide §1.2 step 1 — the sssp batching
    pattern): the loop keeps ONE state table, ``visited(node, hop)``
    (the frontier is just its newest hop slice), chains
    ``_RELAX_PER_BARRIER`` levels LAZILY between eager checkpoints,
    and checks termination on the batch's LAST level (an empty
    frontier stays empty, so mid-batch levels past exhaustion emit
    nothing and the result is row-identical — the old loop's
    per-level break only saved empty-join work). Two actions per
    TWO levels instead of two per level; the adjacency is pinned
    once (an unpinned subtree re-ran scan+canonicalize+expand per
    level — cross-action jobs never reuse shuffles).
    """
    und = canonical_undirected(edges).localCheckpoint(eager=True)
    seed_rows = seeds.select("node").distinct().withColumn(
        "hop", F.lit(0)
    )
    out = _bfs_hops_on(und, seed_rows, max_hops)
    release_unread([und], out)
    return out


def _bfs_hops_on(
    und: DataFrame, seed_rows: DataFrame, max_hops: int
) -> DataFrame:
    """BFS core over a PREBUILT (checkpointed) bidirectional (src,
    dst) adjacency — callers that run several sweeps on one graph
    (cc_diameter_estimate's double sweep) build the adjacency once.
    ``seed_rows`` must be (node, hop=0)."""
    first = visited = seed_rows.localCheckpoint(eager=True)
    frontier = visited
    cycler = CheckpointCycler(und.sparkSession)
    b = _RELAX_PER_BARRIER
    h = 0
    while h < max_hops:
        take = min(b, max_hops - h)
        cur = visited
        for j in range(1, take + 1):
            frontier = (
                und.join(
                    frontier.select(F.col("node").alias("src")),
                    "src",
                    "inner",
                )
                .select(F.col("dst").alias("node"))
                .distinct()
                .join(cur.select("node"), "node", "left_anti")
                .withColumn("hop", F.lit(h + j))
            )
            cur = cur.unionAll(frontier)
        visited = cur.localCheckpoint(eager=True)
        h += take
        # rebind the next batch's frontier to the MATERIALIZED slice
        # (the lazy `frontier` above would re-run its subtree)
        frontier = visited.where(F.col("hop") == h).select("node")
        done = not visited.where(F.col("hop") == h).take(1)
        cycler.cycle(visited)
        if done:
            break
    release_unread([first], visited)
    return visited


def _adjacency_degrees(edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The integer PageRanks' loop invariants, each checkpointed once:
    the undirected simple adjacency and its (node, deg) table."""
    und = canonical_undirected(edges).localCheckpoint(eager=True)
    deg = (
        und.groupBy("src")
        .agg(F.count("*").alias("deg"))
        .withColumnRenamed("src", "node")
    ).localCheckpoint(eager=True)
    return und, deg


def _rank_shares(cur: DataFrame, und: DataFrame, deg: DataFrame) -> DataFrame:
    """(node, c): every neighbor's integer share ``rank div deg``."""
    return (
        cur.join(deg, "node")
        .select(F.col("node").alias("src"), F.expr("rank div deg").alias("c"))
        .join(und, "src")
        .select(F.col("dst").alias("node"), "c")
    )


def pagerank_int(
    edges: DataFrame, iterations: int = 5, scale: int = 10**12
) -> DataFrame:
    """PageRank over the undirected simple graph, in exact int64
    fixed-point arithmetic. Returns (node, rank) with rank in units
    of 1/``scale``.

    Every operation is integer (floor division for the per-neighbor
    share, integer sum for the gather, floor division for the 0.85
    damping), so the result is bit-identical regardless of summation
    order — that's what lets a DuckDB recursive-CTE oracle hash-match
    a distributed Spark run, where float contributions would differ
    in the last ulp by reduction order. Semantics: init 1/N, damping
    d=0.85, rank' = 0.15/N + d * sum(rank_u / deg_u). No dangling
    mass: the undirected expansion gives every node out-degree >= 1.

    Scale shape: per iteration one shuffle for the gather
    (groupBy(dst).sum) — the contribs join is map-side against the
    degree table partitioned the same as ranks — plus a checkpoint
    to truncate lineage (plan growth is the iterative-loop killer,
    SURVEY §4.4). Optimization round 12 (guide §1.2 step 1): the
    undirected adjacency is eagerly checkpointed ONCE — a
    localCheckpoint surfaces as an ExistingRDD with unknown
    partitioning, so each iteration's plan previously re-derived the
    whole scan -> canonicalize -> dedup -> expand subtree (cross-action
    jobs never reuse shuffles) — and iterations are BATCHED two per
    barrier exactly like sssp_int's relaxation batching: the update is
    a pure deterministic function of the previous ranks, so barrier
    frequency changes nothing about the result, only how often the
    loop pays a full state write+read. Interleaved A/B at sf0.1
    (part-supplier graph, noop sink): 26.5 s -> 9.9 s.
    """
    und, deg = _adjacency_degrees(edges)
    n = deg.count()
    init = scale // n
    teleport = (15 * init) // 100
    ranks = deg.select("node", F.lit(init).alias("rank"))

    def _step(cur: DataFrame) -> DataFrame:
        return _rank_shares(cur, und, deg).groupBy("node").agg(
            (F.lit(teleport) + F.expr("(85 * sum(c)) div 100")).alias("rank")
        )

    return fixed_point(
        ranks,
        _step,
        max_steps=iterations,
        per_barrier=_RELAX_PER_BARRIER,
        invariants=(und, deg),
    ).state


def label_propagation(edges: DataFrame, rounds: int = 2) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et
    al. 2007), made DETERMINISTIC: every node simultaneously adopts
    the most frequent label among its neighbors, ties broken by the
    lexicographically smallest label. Returns (node, community) after
    ``rounds`` rounds; initial label = the node's own id.

    Distinct from connected components: CC's min-label fixed point
    collapses everything reachable into one label, while LPA's mode
    update finds DENSELY connected groups inside a component — the
    community structure a curation pipeline uses to diversify or
    down-weight near-clique content farms.

    Classic LPA breaks ties randomly and updates asynchronously;
    both are non-reproducible on a cluster (partition order changes
    the result). The synchronous min-tie-break variant is a pure
    function of the graph, which is what lets an unrolled SQL oracle
    hash-match it round for round.

    Per round: one join of the (deduped, undirected) edge list with
    the label table — both hash-partitioned on the join key — one
    (node, label) count aggregate with map-side partials, and one
    row_number window over the per-node counts (partition cardinality
    = a node's distinct neighbor labels, bounded by degree; hub-skew
    handling falls back on the same AQE-skew consideration as the CCF
    window vs join trade-off). Checkpoint per round truncates lineage
    (SURVEY §4.4 discipline).
    """
    from pyspark.sql.window import Window

    # round 12: the adjacency feeds the init distinct plus every
    # round's join — checkpoint it once instead of re-deriving the
    # scan->canonicalize->expand subtree per consumer
    und = canonical_undirected(edges).localCheckpoint(eager=True)
    labels = (
        und.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("community"))
    )
    w = Window.partitionBy("node").orderBy(
        F.col("cnt").desc(), F.col("community")
    )
    def _round(cur: DataFrame) -> DataFrame:
        nbr_labels = und.join(
            cur.withColumnRenamed("node", "src"), "src"
        ).select(F.col("dst").alias("node"), "community")
        return (
            nbr_labels.groupBy("node", "community")
            .agg(F.count("*").alias("cnt"))
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("node", "community")
        )

    # round 12: two rounds per barrier (same batching as pagerank_int
    # — the synchronous update is a pure function of the previous
    # labels, so barrier frequency cannot change the result)
    return fixed_point(
        labels,
        _round,
        max_steps=rounds,
        per_barrier=_RELAX_PER_BARRIER,
        invariants=(und,),
    ).state


def _wedge_shuffle_partitions(oriented: DataFrame) -> int:
    """Volume-adaptive exchange sizing for a degree-oriented wedge
    join: the join emits exactly sum_v in(v)*out(v) rows under the
    orientation — measure it with ONE tiny aggregate over the pinned
    oriented edges and size to ~2M rows per partition (explicit
    numbers are AQE-stable; the vanilla-session recipe shared by
    triangle_count, k_truss, and cc_link_prediction)."""
    spark = oriented.sparkSession
    wedge_vol = (
        oriented.select(F.col("dst").alias("v"))
        .groupBy("v")
        .agg(F.count("*").alias("i"))
        .join(
            oriented.select(F.col("src").alias("v"))
            .groupBy("v")
            .agg(F.count("*").alias("o")),
            "v",
        )
        .agg(F.sum(F.col("i") * F.col("o")).alias("w"))
        .collect()[0]["w"]
        or 0
    )
    return max(
        spark.sparkContext.defaultParallelism,
        min(4096, int(wedge_vol // 2_000_000) + 1),
    )


def oriented_triangles(oriented: DataFrame, n_shuf: int) -> DataFrame:
    """Each triangle exactly once as an oriented wedge u->v->w closed
    by the oriented edge (u, w) — one wedge join + one semi-join,
    every exchange user-numbered on both sides (EnsureRequirements
    discards one-sided numbering; the round-7 triangle_count lesson).
    Shared by ``triangle_count`` and every ``k_truss`` peel round;
    the REPARTITION_BY_NUM shape is plan-pinned in test_plans.py."""
    e1 = oriented.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    e2 = oriented.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    closing = oriented.select(
        F.col("src").alias("u"), F.col("dst").alias("w")
    )
    return (
        e1.repartition(n_shuf, "v")
        .join(e2.repartition(n_shuf, "v"), "v")
        .repartition(n_shuf, "u", "w")
        .join(closing.repartition(n_shuf, "u", "w"), ["u", "w"], "left_semi")
        .select("u", "v", "w")
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """Single-row DataFrame (n_nodes, n_edges, n_triangles) for the
    undirected simple graph induced by ``edges``.

    The oriented edge list feeds FIVE consumers (both wedge sides,
    the closure semi-join, and the edge/node counts); the lazy
    checkpoint materializes the canon/degree/orient subtree once —
    without it Catalyst re-derives it per consumer (measured: 122
    exchanges in the plan vs 7 after).

    VOLUME-ADAPTIVE SHUFFLE SIZING (same recipe as
    cc_link_prediction): the wedge join emits exactly
    sum_v in(v)*out(v) rows under the orientation — measured with one
    tiny agg over the pinned oriented edges, then the wedge-join and
    closure-semi-join exchanges are repartitioned to ~2M rows per
    partition (explicit numbers are AQE-stable). Partitions bounded
    by ROWS, not session defaults: the 8-partition vanilla session
    OOM'd its 1 GB heap inside this join at sf0.1 (~200M wedges)
    before this sizing."""
    oriented = degree_oriented_edges(edges).localCheckpoint(eager=False)
    n_shuf = _wedge_shuffle_partitions(oriented)

    tri = oriented_triangles(oriented, n_shuf)

    und = _undirected(oriented)
    return (
        tri.agg(F.count("*").alias("n_triangles"))
        .crossJoin(
            oriented.agg(F.count("*").alias("n_edges"))
        )
        .crossJoin(
            und.select("src").distinct().agg(F.count("*").alias("n_nodes"))
        )
        .select("n_nodes", "n_edges", "n_triangles")
    )


def k_core(
    edges: DataFrame, k: int, max_iterations: int = 50
) -> DataFrame:
    """k-core decomposition by synchronous peeling: repeatedly drop
    every node whose degree in the surviving subgraph is below ``k``
    until the edge set is stable; return (node, deg) for the core.

    Per iteration: one degree aggregate + two broadcast-or-shuffle
    semi-joins + a count (the one materializing action, pinning the
    iterate via localCheckpoint exactly like the CCF loop). Peeling is
    monotone — the edge set only shrinks — so iterations are bounded
    by the longest removal cascade (1-2 rounds on dense random
    graphs, O(n) worst case on chains); each round's cost is
    proportional to the SURVIVING subgraph, so late rounds are cheap.
    Synchronous semantics (all degrees computed before any removal)
    is what makes the result engine-exact: the DuckDB oracle peels in
    lockstep via a bounded recursive CTE (KCORE_SQL in
    queries/graph_queries.py).

    ``edges`` is an undirected edge list (first two columns used);
    self-loops and duplicates are removed.
    """
    cur = canonical_undirected(edges)
    n0 = cur.count()

    def _peel(cur: DataFrame) -> DataFrame:
        deg = cur.groupBy("src").agg(F.count("*").alias("deg"))
        keep = deg.where(F.col("deg") >= k).select("src")
        return cur.join(keep, "src", "left_semi").join(
            keep.withColumnRenamed("src", "dst"), "dst", "left_semi"
        )

    def _stable(figures: dict, prev: dict | None) -> bool:
        # peeling only shrinks the edge set, so an unchanged count is
        # an unchanged set: the last generation equals the one before
        return figures["edges"] in (0, (prev or {"edges": n0})["edges"])

    cur = fixed_point(
        cur,
        _peel,
        max_steps=max_iterations if n0 else 0,
        measure=lambda df: {"edges": df.count()},
        until=_stable,
    ).state
    return cur.groupBy("src").agg(F.count("*").cast("long").alias("deg")).select(
        F.col("src").alias("node"), "deg"
    )


def bounded_sssp(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int = 3,
) -> DataFrame:
    """Bellman-Ford min-plus: exact shortest distances over paths of
    at most ``rounds`` edges, from every seed node simultaneously.

    ``edges`` is a DIRECTED weighted edge list (src, dst, w long) —
    callers wanting undirected semantics pass the symmetric expansion.
    ``seeds`` provides a ``node`` column (distance 0). Returns
    (node, dist) for every node reachable within ``rounds`` hops;
    unreached nodes are absent (the S3 convention all the graph
    operators share). Integer weights keep every distance exact, so
    the whole relaxation runs under the hash gate against a DuckDB
    recursive-CTE oracle (SSSP_SQL in queries/graph_queries.py).

    Per round: one shuffle join (dist hash-partitioned on node, edges
    on src — the partitioning is reused round over round) + one
    partial+final min aggregate + one eager localCheckpoint, with the
    previous round's blocks freed by the CheckpointCycler. Hub skew
    lands in the JOIN, which AQE can split — this loop has no window
    formulation to outgrow. Bounded rounds is the production contract
    for 100 TB graphs: distances stabilize within graph diameter,
    and each round's cost is one edge-list join regardless of round
    number.
    """
    e = edges.select(
        F.col(edges.columns[0]).alias("src"),
        F.col(edges.columns[1]).alias("dst"),
        F.col(edges.columns[2]).cast("long").alias("w"),
    )
    dist = (
        seeds.select("node")
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
    )

    def _relax(cur: DataFrame) -> DataFrame:
        cand = cur.join(
            e.withColumnRenamed("src", "node"), "node"
        ).select(
            F.col("dst").alias("node"),
            (F.col("dist") + F.col("w")).alias("dist"),
        )
        return (
            cur.unionAll(cand)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )

    return fixed_point(dist, _relax, max_steps=rounds).state


def clustering_coefficient(edges: DataFrame) -> DataFrame:
    """Per-node local clustering coefficient over the undirected
    simple graph: coeff(v) = triangles_at(v) / C(deg(v), 2).

    Triangle enumeration reuses the degree-oriented wedge closure
    (same scale argument as ``triangle_count``: out-degree bounded by
    ~sqrt(edges) under degree ordering); per-node counts are
    orientation-INVARIANT — every triangle touches its three nodes
    exactly once no matter which node sources it — which is what lets
    an id-ordered SQL oracle hash-match the degree-ordered engine.
    All integer arithmetic plus one final IEEE division; nodes with
    deg < 2 report 0.0. Output: (node, deg, n_triangles, coeff).
    """
    oriented = degree_oriented_edges(edges).localCheckpoint(eager=False)

    e1 = oriented.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    e2 = oriented.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    wedges = e1.join(e2, "v").select("u", "v", "w")
    closing = oriented.select(
        F.col("src").alias("u"), F.col("dst").alias("w")
    )
    tri = wedges.join(closing, ["u", "w"], "left_semi")

    at_node = (
        tri.select(F.explode(F.array("u", "v", "w")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )
    deg = (
        _undirected(oriented)
        .groupBy("src")
        .agg(F.count("*").cast("long").alias("deg"))
        .withColumnRenamed("src", "node")
    )
    possible = (F.col("deg") * (F.col("deg") - 1) / 2).cast("double")
    return deg.join(at_node, "node", "left").select(
        "node",
        "deg",
        F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long").alias(
            "n_triangles"
        ),
        F.when(F.col("deg") < 2, F.lit(0.0))
        .otherwise(
            F.coalesce(F.col("n_triangles"), F.lit(0)).cast("double")
            / possible
        )
        .alias("coeff"),
    )


def personalized_pagerank_int(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 5,
    scale: int = 10**12,
) -> DataFrame:
    """Personalized PageRank in exact int64 fixed-point: identical
    arithmetic to ``pagerank_int`` except the teleport mass
    concentrates on the seed set instead of spreading uniformly —
    the similar-items / graph-feature workhorse (rank = proximity to
    the seeds). Returns (node, rank), rank in 1/``scale`` units.

    Init: scale // |seeds| on each seed, 0 elsewhere; per round every
    node's rank = seed-teleport + 85% of the gathered integer shares.
    Every node keeps a row every round (zero ranks contribute zero),
    so the gather covers the full node set and the recursive-CTE
    oracle's working table stays in lockstep with the distributed
    loop — bit-for-bit.

    Scale shape: same as pagerank_int — one gather shuffle per round,
    broadcastable seed table, eager checkpoint + cycler to keep the
    plan and the block store flat. Round 12: adjacency checkpointed
    once + two iterations per barrier, exactly as in ``pagerank_int``
    (see its docstring; the update is a pure deterministic function of
    the previous ranks, so only barrier frequency changes).
    """
    und, deg = _adjacency_degrees(edges)
    seed_nodes = seeds.select(
        F.col(seeds.columns[0]).alias("node")
    ).dropDuplicates().localCheckpoint(eager=True)
    n_seeds = seed_nodes.count()
    init = scale // n_seeds
    teleport = (15 * init) // 100

    is_seed = F.col("_s").isNotNull()
    tagged = deg.join(
        seed_nodes.withColumn("_s", F.lit(1)), "node", "left"
    )
    ranks = tagged.select(
        "node", F.when(is_seed, F.lit(init)).otherwise(F.lit(0)).alias("rank")
    )

    def _step(cur: DataFrame) -> DataFrame:
        gathered = _rank_shares(cur, und, deg).groupBy("node").agg(
            F.expr("(85 * sum(c)) div 100").alias("_g")
        )
        return gathered.join(
            F.broadcast(seed_nodes.withColumn("_s", F.lit(1))),
            "node",
            "left",
        ).select(
            "node",
            (
                F.when(is_seed, F.lit(teleport)).otherwise(F.lit(0))
                + F.col("_g")
            ).alias("rank"),
        )

    return fixed_point(
        ranks,
        _step,
        max_steps=iterations,
        per_barrier=_RELAX_PER_BARRIER,
        invariants=(und, deg, seed_nodes),
    ).state


def _node_adjacency(edges: DataFrame) -> DataFrame:
    """The undirected simple adjacency as (node, dst), checkpointed
    once: every BFS/DP level joins it, and an unpinned subtree re-runs
    the scan -> canonicalize -> expand work per level."""
    return (
        canonical_undirected(edges)
        .withColumnRenamed("src", "node")
        .localCheckpoint(eager=True)
    )


def per_seed_bfs(
    edges: DataFrame, seeds: DataFrame, max_hops: int = 10
) -> DataFrame:
    """Per-seed BFS: exact hop distance from EACH seed separately —
    (seed, node, hop) for every (seed, node) pair reached. The
    simultaneous formulation runs ALL seeds in one frontier loop, so
    k sources cost one pass over the edges per hop level, not k
    sequential traversals — the multi-source pattern behind
    closeness/harmonic centrality probes at cluster scale. Same O9
    checkpoint discipline as every loop here.

    SEED BATCHING: for 3 <= k <= 62 seeds (the common probe-set
    case) the frontier is ONE row per node carrying an int64 bitmask of the
    seeds that first reached it, so each level's adjacency join and
    shuffle move |frontier nodes| rows instead of |frontier (seed,
    node) pairs| — on a 40-seed probe that is ~40x less join volume
    per level. Per level: one edges-join + bit_or gather, one
    bitwise-mask anti-visit, one visited bit_or merge. The (seed,
    node, hop) rows are reconstructed ONCE at the end by exploding
    set bits (output-sized work) and mapping bit index back to the
    seed value through a broadcast of the tiny seed table — output is
    row-identical to the per-pair formulation (property-pinned).
    Outside 3..62 seeds the per-pair path (``_per_seed_bfs_rows``)
    takes over unchanged (below 3 the batch's extra per-level bit_or
    merge shuffle costs more than it saves).
    """
    seed_rows = seeds.select(F.col("node").alias("seed")).distinct()
    k = seed_rows.count()
    # the batch pays one extra shuffle per level (the visited-mask
    # bit_or merge) to divide join volume by k — below ~3 seeds that
    # trade loses (measured: single-seed diameter probes regressed
    # 27 -> 32 s at sf0.1 on the batch), above it wins by ~k
    if k < 3 or k > 62:
        return _per_seed_bfs_rows(edges, seeds, max_hops)

    und = _node_adjacency(edges)
    seed_idx = _seed_bit_index(seed_rows)
    levels = _bfs_mask_levels(und, seed_idx, max_hops)
    reached = levels[0].withColumn("hop", F.lit(0))
    for h, lv in enumerate(levels[1:], start=1):
        reached = reached.unionAll(lv.withColumn("hop", F.lit(h)))
    set_bits = F.expr(
        f"filter(sequence(0, {k - 1}), "
        "i -> (shiftright(mask, i) & 1) = 1)"
    )
    out = (
        reached.select("node", "hop", F.explode(set_bits).alias("idx"))
        .join(F.broadcast(seed_idx), "idx")
        .select("seed", "node", "hop")
    )
    release_unread([und, seed_idx], out)
    return out


def sssp_int(
    weighted_edges: DataFrame,
    seeds: DataFrame,
    max_rounds: int = 25,
) -> DataFrame:
    """Weighted single-source shortest paths from EVERY probe seed —
    Bellman-Ford relaxation over an undirected graph with positive
    int64 edge weights, exact integer distances (hash-gateable
    cross-engine; no float accumulates). Input: (src, dst, w) in the
    first three columns; parallel edges keep their MINIMUM weight;
    self-loops dropped. Returns (seed, node, dist) for every (seed,
    node) pair reached, seed self-rows included (dist 0).

    Level-synchronous relaxation: round t improves dist(v) to
    min(dist(v), min over edges (dist(u) + w)); positive weights
    guarantee convergence within (longest shortest path's edge
    count) rounds. Raises — not returns a stale table — if
    ``max_rounds`` relaxations don't reach the fixed point.

    SEED BATCHING (same design as ``shortest_path_counts``): for
    3 <= k <= 62 seeds the state is ONE row per reached node carrying
    an int64 ARRAY of per-seed distances (absent seeds ride an
    infinity sentinel of 2^62 — positive weights keep sentinel
    arithmetic far inside int64), so each relaxation round is one
    adjacency join on |reached nodes| rows + k partial-aggregating
    element mins + one full-outer element-wise min merge. Rows are
    reconstructed once at the end (posexplode, output-sized).
    Outside that range the (seed, node)-keyed twin (``_sssp_rows``)
    runs unchanged; row equality is property-pinned.
    """
    seed_rows = seeds.select(
        F.col(seeds.columns[0]).alias("seed")
    ).distinct()
    k = seed_rows.count()
    if k < 3 or k > 62:
        return _sssp_rows(weighted_edges, seeds, max_rounds)

    und = _weighted_undirected(weighted_edges).localCheckpoint(eager=True)
    seed_idx = _seed_bit_index(seed_rows)
    inf = 1 << 62
    dist = seed_idx.select(
        F.col("seed").alias("node"),
        F.expr(
            f"transform(sequence(0, {k - 1}), "
            f"i -> CAST(IF(i = idx, 0, {inf}) AS BIGINT))"
        ).alias("d"),
    ).localCheckpoint(eager=True)
    fill = F.expr(f"array_repeat(CAST({inf} AS BIGINT), {k})")

    def _relax(cur: DataFrame) -> DataFrame:
        """One lazy relaxation: (node, d, chg) where d is the improved
        distance array and chg flags a node whose array improved on
        ``cur``'s (the next relaxation reads only (node, d), so a
        chained flag is pruned from the plan). ``cur`` appears twice
        (adjacency join + full-outer merge); its exchange is planned
        once and reused (ReuseExchange), so chaining relaxations
        between barriers does not re-shuffle the state per reference."""
        cand = (
            und.join(cur, "node")
            .groupBy(F.col("dst").alias("node"))
            .agg(
                *[
                    F.min(F.element_at("d", i + 1) + F.col("w")).alias(
                        f"c{i}"
                    )
                    for i in range(k)
                ]
            )
            .select(
                "node", F.array(*[f"c{i}" for i in range(k)]).alias("cd")
            )
        )
        # two separate single-level HOF selects (zip_with then
        # exists) — nesting them re-evaluates the outer lambda per
        # element (the round-5 plan-pin lesson)
        return (
            cur.join(cand, "node", "full_outer")
            .select(
                "node",
                F.coalesce("d", fill).alias("od"),
                F.coalesce("cd", fill).alias("cnd"),
            )
            .select(
                "node",
                "od",
                F.expr(
                    f"zip_with(od, cnd, (x, y) -> "
                    f"IF(least(x, y) >= {inf}, {inf}, least(x, y)))"
                ).alias("nd"),
            )
            .select(
                "node",
                F.col("nd").alias("d"),
                F.expr("exists(zip_with(od, nd, (x, y) -> y < x), b -> b)")
                .alias("chg"),
            )
        )

    # Relaxation batching (optimization round 12, guide §1.2 step 1 /
    # §5 caching notes): chain _RELAX_PER_BARRIER relaxations LAZILY
    # between materialization barriers. Each barrier (a lazy
    # localCheckpoint forced by the convergence count) is a full
    # write+read of the state plus one scheduled job; relaxation itself
    # is monotone and idempotent at the fixed point, so batching
    # changes NOTHING about the result — only how often the loop pays
    # the barrier. The
    # convergence test reads the LAST chained relaxation's change
    # flag: zero changes there means the previous relaxation already
    # sat at the fixed point. Budget parity: ceil(max_rounds / b)
    # full batches observe >= max_rounds relaxations, so any instance
    # the unbatched loop could converge within budget still converges
    # (extra relaxations past the fixed point are no-ops).
    dist = _sssp_fixed_point(dist, _relax, max_rounds, invariants=(und,))
    out = (
        dist.select("node", F.posexplode("d").alias("idx", "dist"))
        .where(F.col("dist") < inf)
        .join(F.broadcast(seed_idx), "idx")
        .select("seed", "node", F.col("dist").cast("long").alias("dist"))
    )
    return out


def _weighted_undirected(weighted_edges: DataFrame) -> DataFrame:
    """(node, dst, w): both orientations, parallel edges keep min w,
    self-loops dropped, nulls dropped."""
    a, b, wc = weighted_edges.columns[:3]
    e = weighted_edges.select(
        F.col(a).alias("src"),
        F.col(b).alias("dst"),
        F.col(wc).cast("long").alias("w"),
    ).where(
        F.col("src").isNotNull()
        & F.col("dst").isNotNull()
        & (F.col("src") != F.col("dst"))
    )
    return (
        e.unionAll(
            e.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
            )
        )
        .groupBy("src", "dst")
        .agg(F.min("w").alias("w"))
        .withColumnRenamed("src", "node")
    )


def _sssp_rows(
    weighted_edges: DataFrame, seeds: DataFrame, max_rounds: int = 25
) -> DataFrame:
    """(seed, node)-keyed Bellman-Ford — the general-k path (and the
    property-pin oracle for the array batch above)."""
    und = _weighted_undirected(weighted_edges).localCheckpoint(eager=True)
    dist = (
        seeds.select(F.col(seeds.columns[0]).alias("seed"))
        .distinct()
        .select(
            "seed",
            F.col("seed").alias("node"),
            F.lit(0).cast("long").alias("dist"),
        )
    ).localCheckpoint(eager=True)

    def _relax(cur: DataFrame) -> DataFrame:
        cand = (
            und.join(cur, "node")
            .select(
                "seed",
                F.col("dst").alias("node"),
                (F.col("dist") + F.col("w")).alias("dist"),
            )
            .groupBy("seed", "node")
            .agg(F.min("dist").alias("dist"))
        )
        return (
            cur.withColumnRenamed("dist", "od")
            .join(cand, ["seed", "node"], "full_outer")
            .select(
                "seed",
                "node",
                # Spark's least skips NULLs (returns NULL only when
                # every operand is NULL), so a one-sided outer row
                # keeps its present distance
                F.least("od", "dist").alias("dist"),
                (
                    F.col("od").isNull()
                    | (
                        F.col("dist").isNotNull()
                        & (F.col("dist") < F.col("od"))
                    )
                ).alias("chg"),
            )
        )

    # chained-relaxation barriers — same batching (and same result
    # identity / budget-parity argument) as the array path above
    return _sssp_fixed_point(
        dist, _relax, max_rounds, invariants=(und,)
    ).select("seed", "node", "dist")


def _sssp_fixed_point(
    dist: DataFrame,
    relax: Callable[[DataFrame], DataFrame],
    max_rounds: int,
    invariants: tuple[DataFrame, ...],
) -> DataFrame:
    """Both sssp loops: ceil(max_rounds / b) barriers of b chained
    relaxations each, every barrier a lazy checkpoint forced by the
    count of the rows flagged ``chg`` (one job); the initial ``dist``
    checkpoint is freed after the first barrier. Raises when the budget
    runs out."""
    b = _RELAX_PER_BARRIER
    res = fixed_point(
        dist,
        relax,
        max_steps=-(-max_rounds // b) * b,
        per_barrier=b,
        measure=_changed_rows("chg"),
        own_state=True,
        invariants=invariants,
    )
    if not res.converged:
        raise ValueError(
            f"sssp_int did not converge within max_rounds={max_rounds}; "
            "raise max_rounds (bound is the longest shortest path's "
            "edge count)"
        )
    return res.state


def _seed_bit_index(seed_rows: DataFrame) -> DataFrame:
    """(seed, idx): deterministic bit assignment — seeds in sort
    order get bits 0..k-1. Eagerly checkpointed (tiny; joined back
    to every batched result)."""
    from pyspark.sql.window import Window

    return seed_rows.select(
        "seed",
        (F.row_number().over(Window.orderBy("seed")) - 1).alias("idx"),
    ).localCheckpoint(eager=True)


def _bfs_mask_levels(
    und: DataFrame,
    seed_idx: DataFrame,
    max_hops: int,
) -> list[DataFrame]:
    """Bitmask-batched BFS core: returns one (node, mask) DataFrame
    per hop level (list index = hop; every one eagerly checkpointed
    and RESULT-owned — the cycler only ever claims the merged
    visited-mask scratch). ``mask`` bit i set means seed ``idx = i``
    FIRST reached ``node`` at exactly that level."""
    cycler = CheckpointCycler(und.sparkSession)
    frontier = seed_idx.select(
        F.col("seed").alias("node"),
        F.expr("shiftleft(CAST(1 AS BIGINT), idx)").alias("mask"),
    ).localCheckpoint(eager=True)
    visited = frontier.withColumnRenamed("mask", "vmask")
    levels = [frontier]
    for _h in range(1, max_hops + 1):
        cand = (
            und.join(frontier, "node")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.bit_or("mask").alias("cmask"))
        )
        frontier = (
            cand.join(visited, "node", "left")
            .select(
                "node",
                F.col("cmask")
                .bitwiseAND(
                    F.bitwise_not(
                        F.coalesce(F.col("vmask"), F.lit(0).cast("long"))
                    )
                )
                .alias("mask"),
            )
            .where(F.col("mask") != 0)
        ).localCheckpoint(eager=True)
        if not frontier.take(1):
            break
        levels.append(frontier)
        visited = (
            visited.unionAll(frontier.withColumnRenamed("mask", "vmask"))
            .groupBy("node")
            .agg(F.bit_or("vmask").alias("vmask"))
        ).localCheckpoint(eager=True)
        # every level's mask DataFrame is part of the RESULT — only
        # the merged visited mask is loop-scratch the cycler may free
        cycler.cycle(visited)
    release_unread([visited, frontier], *levels)
    return levels


def _per_seed_bfs_rows(
    edges: DataFrame, seeds: DataFrame, max_hops: int = 10
) -> DataFrame:
    """(seed, node)-keyed simultaneous BFS — the general-k path (and
    the property-pin oracle for the bitmask batch above)."""
    und = _node_adjacency(edges)
    frontier = (
        seeds.select(F.col("node").alias("seed"))
        .distinct()
        .select("seed", F.col("seed").alias("node"), F.lit(0).alias("hop"))
    ).localCheckpoint(eager=True)
    visited = frontier
    owned = [und, frontier]
    cycler = CheckpointCycler(edges.sparkSession)
    for h in range(1, max_hops + 1):
        frontier = (
            und.join(frontier.select("seed", "node"), "node")
            .select("seed", F.col("dst").alias("node"))
            .distinct()
            .join(visited.select("seed", "node"), ["seed", "node"], "left_anti")
            .withColumn("hop", F.lit(h))
        ).localCheckpoint(eager=True)
        owned.append(frontier)
        if not frontier.take(1):
            break
        visited = visited.unionAll(frontier).localCheckpoint(eager=True)
        cycler.cycle(frontier, visited)
    release_unread(owned, visited)
    return visited


def closeness_centrality(
    edges: DataFrame, seeds: DataFrame, max_hops: int = 10
) -> DataFrame:
    """Closeness centrality of each probe seed within its max_hops
    ball: n_reached (INCLUDING the seed's own hop-0 row — subtract 1
    for the neighbor count), total hop distance, and
    closeness = (n_reached - 1) / total_hops — the standard
    Bavelas/Beauchamp normalization, computed as ONE IEEE double
    division of exact int64 operands so the value is hash-stable
    cross-engine. Exact centrality needs all-pairs distances; probing
    a seed SET via the simultaneous BFS is the way it is actually
    estimated on big graphs.
    """
    d = per_seed_bfs(edges, seeds, max_hops)
    return (
        d.groupBy("seed")
        .agg(
            F.count("*").cast("long").alias("n_reached"),
            F.sum("hop").cast("long").alias("total_hops"),
        )
        .where(F.col("total_hops") > 0)
        .select(
            "seed",
            "n_reached",
            "total_hops",
            (
                (F.col("n_reached") - 1).cast("double")
                / F.col("total_hops").cast("double")
            ).alias("closeness"),
        )
    )


def hits_int(edges: DataFrame, rounds: int = 3) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) in exact UNNORMALIZED
    int64 for a bounded number of rounds: h_{t+1}(v) = sum of a_t over
    v's out-neighbors, a_{t+1}(u) = sum of h_{t+1} over u's
    in-neighbors, both from a_0 = 1. Production HITS L2-normalizes
    each round (float); the gate variant keeps exact integers instead
    — scores grow like degree^rounds, so bounded rounds keep them
    far inside int64 at gate scale, and the ranking (HITS' actual
    output) is identical to the normalized iteration's. Each round is
    two hash-join + partial/final-agg shuffles on the edge keys.

    Returns (node, score, kind) with kind in ('hub', 'authority') —
    on a bipartite src->dst graph, hubs live on the src side and
    authorities on the dst side.
    """
    if rounds < 1:
        raise ValueError(f"hits_int needs rounds >= 1, got {rounds}")
    e = (
        edges.select(
            F.col(edges.columns[0]).alias("src"),
            F.col(edges.columns[1]).alias("dst"),
        )
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    a = e.select(F.col("dst").alias("node")).distinct().withColumn(
        "a", F.lit(1).cast("long")
    )
    h = None
    for _ in range(rounds):
        h = (
            e.join(a.withColumnRenamed("node", "dst"), "dst")
            .groupBy("src")
            .agg(F.sum("a").cast("long").alias("h"))
            .withColumnRenamed("src", "node")
        )
        a = (
            e.join(h.withColumnRenamed("node", "src"), "src")
            .groupBy("dst")
            .agg(F.sum("h").cast("long").alias("a"))
            .withColumnRenamed("dst", "node")
        )
    return h.select(
        "node", F.col("h").alias("score"), F.lit("hub").alias("kind")
    ).unionAll(
        a.select(
            "node", F.col("a").alias("score"), F.lit("authority").alias("kind")
        )
    )


def deterministic_walks(
    edges: DataFrame,
    seeds: DataFrame,
    steps: int = 3,
    salt: str = "walk",
) -> DataFrame:
    """Deterministic random-walk corpus generation (the DeepWalk /
    node2vec sampling stage): from each seed, take ``steps`` steps
    where step t picks neighbor rank
    1 + md5(start|t|current) % degree(current) — the draw is a pure
    function of (walk, step, node), so walks are reproducible across
    engines/retries/partitionings, exactly like the samplers' hash
    discipline (rand() would re-roll per retry and be un-oracleable).

    Each step is one broadcast-or-hash join against the ranked
    adjacency list (neighbor rank = row_number per node — built once).
    Output: (start, step, node) for steps 0..steps.
    """
    from pyspark.sql.window import Window

    e = edges.select(
        F.col(edges.columns[0]).alias("a"), F.col(edges.columns[1]).alias("b")
    ).where(F.col("a") != F.col("b"))
    both = e.unionAll(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    adj = (
        both.dropDuplicates()
        .select(F.col("a").alias("node"), F.col("b").alias("nbr"))
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("node").orderBy("nbr")),
        )
    ).localCheckpoint(eager=True)
    deg = adj.groupBy("node").agg(F.max("rn").cast("long").alias("deg"))

    cur = seeds.select(
        F.col("node").alias("start"),
        F.col("node"),
        F.lit(0).cast("long").alias("step"),
    )
    levels = [cur]
    for t in range(1, steps + 1):
        draw = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(f"{salt}|"),
                            F.col("start"),
                            F.lit(f"|{t}|"),
                            F.col("node"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % F.col("deg")
            + 1
        )
        cur = (
            cur.join(deg, "node")
            .withColumn("_pick", draw)
            .join(
                adj,
                ["node"],
            )
            .where(F.col("rn") == F.col("_pick"))
            .select(
                "start",
                F.col("nbr").alias("node"),
                F.lit(t).cast("long").alias("step"),
            )
            # pin each level: the final union reads EVERY level, and
            # without the checkpoint level t's branch would replay
            # joins 1..t from scratch — O(steps^2) join stages instead
            # of O(steps). Every level is part of the output, so no
            # generation can be released early (no cycler here).
            .localCheckpoint(eager=True)
        )
        levels.append(cur)
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionAll(lv)
    return out


def k_truss(
    edges: DataFrame, k: int, max_rounds: int = 12
) -> DataFrame:
    """k-truss of the undirected simple graph: the maximal subgraph
    in which every edge participates in at least k-2 triangles
    (Cohen 2008) — the cohesion mining rung ABOVE triangle counting
    (k-core bounds degree; k-truss bounds shared neighborhoods, so it
    rejects hub-spoke stars that k-core admits).

    Synchronous peeling: each round computes per-edge triangle
    support on the CURRENT edge set and removes EVERY under-supported
    edge simultaneously. The k-truss is unique, and the synchronous
    fixed point equals any peeling order's result, which is what lets
    an unrolled SQL oracle hash-match it round for round.

    Per round: re-orient the surviving edges by (degree, id) — the
    hub-safe wedge bound (out-degree <= sqrt(2|E|), same argument as
    ``triangle_count``); enumerate each triangle exactly once as an
    oriented wedge closed by one semi-join; credit its THREE edges in
    id-canonical form (union-all + partial/final count agg — the
    triangle SET is orientation-invariant, so per-edge support is
    identical to an id-ordered oracle's); inner-join the supports
    back (an edge in no triangle simply has no support row = removed
    for k >= 3). One localCheckpoint per round, previous generations
    freed by the ownership cycler; the convergence count is the
    round's single materializing action.

    Returns (src, dst, support) for the surviving edges; at the fixed
    point every support is >= k-2 and is the edge's support within
    the truss itself. Raises if k < 3 (k-truss is defined from 3)."""
    if k < 3:
        raise ValueError(f"k_truss needs k >= 3, got {k}")
    cycler = CheckpointCycler(edges.sparkSession)
    cur = canonical_pairs(edges).localCheckpoint(eager=True)
    n_cur = cur.count()
    cycler.cycle(cur)
    for _ in range(max_rounds):
        oriented = degree_oriented_edges(cur).localCheckpoint(eager=False)
        # volume-size the round's wedge join and support agg: the
        # first co-purchase round emits ~49M wedges at sf0.1, which
        # OOMs a session-default 8-partition exchange on a 1 GB heap
        # (found by the round-7 vanilla census once cc_triangles —
        # alphabetically earlier — stopped aborting the sweep first);
        # peeling shrinks later rounds, and the probe re-measures
        # each one. Both wedge sides AND the credits agg carry the
        # user number (one-sided numbering gets discarded by
        # EnsureRequirements — the triangle_count lesson).
        n_shuf = _wedge_shuffle_partitions(oriented)
        tri = oriented_triangles(oriented, n_shuf)
        credits = (
            tri.select(F.col("u").alias("x"), F.col("v").alias("y"))
            .unionAll(tri.select(F.col("v").alias("x"), F.col("w").alias("y")))
            .unionAll(tri.select(F.col("u").alias("x"), F.col("w").alias("y")))
            .select(
                F.least(F.col("x"), F.col("y")).alias("src"),
                F.greatest(F.col("x"), F.col("y")).alias("dst"),
            )
        )
        sup = credits.repartition(n_shuf, "src", "dst").groupBy(
            "src", "dst"
        ).agg(
            F.count("*").cast("long").alias("support")
        )
        kept = (
            cur.join(sup, ["src", "dst"])
            .where(F.col("support") >= k - 2)
            .localCheckpoint(eager=False)
        )
        n_new = kept.count()
        # this round's oriented subtree is dead once kept materialized;
        # claim both so the next cycle() frees them together
        cycler.cycle(kept, oriented)
        if n_new == n_cur:
            break
        cur = kept.select("src", "dst")
        n_cur = n_new
    else:
        # exhausting the budget without a fixed point would return
        # supports computed against a larger edge set — an invalid
        # truss indistinguishable from a correct one; fail loudly
        raise ValueError(
            f"k_truss did not converge within max_rounds={max_rounds}; "
            "raise max_rounds (peeling cascades can be long on chains "
            "of dependent triangles)"
        )
    out = kept.select("src", "dst", "support")
    release_unread([oriented], out)
    return out


def shortest_path_counts(
    edges: DataFrame, seeds: DataFrame, max_hops: int = 4
) -> DataFrame:
    """Number of SHORTEST paths from each seed to every node it
    reaches within ``max_hops`` — the sigma stage of Brandes'
    betweenness algorithm (Brandes 2001), run for a probe seed set
    (how betweenness is actually estimated on big graphs: sampled
    sources, not all-pairs). Counts are exact integers, so the whole
    DP is hash-gateable cross-engine.

    Level-synchronous DP on the BFS DAG: sigma(seed, v, t) =
    sum of sigma(seed, u, t-1) over edges (u, v) where dist(u) = t-1
    and dist(v) = t. The distance table comes from the simultaneous
    ``per_seed_bfs`` (one frontier loop for ALL seeds); each DP level
    is one join of the previous level against the adjacency list plus
    a semi-join against the level's distance slice — path counts flow
    only along strictly-forward BFS edges, which is what makes the
    count well-defined. Per level: one shuffle on (seed, node) +
    checkpoint; generations released by the ownership cycler (the
    dist table is loop-invariant and never claimed).

    int64 bound: counts grow at most (max out-degree)^max_hops —
    callers pick max_hops so the product stays far inside int64 (the
    gate fixture's worst count is ~1e6 at 4 hops).

    SEED BATCHING: for 3 <= k <= 62 seeds the whole DP runs with ONE
    row per node per level carrying an int64 ARRAY of the k per-seed
    path counts — each level is one adjacency join on |frontier
    nodes| rows (not |(seed, node)| pairs), k partial-aggregating
    element sums, and a bitmask filter against the BFS level masks
    (``_bfs_mask_levels``): count element i survives at node v, level
    t iff seed i FIRST reached v at t — exactly the strictly-forward
    flow constraint of the per-pair formulation (property-pinned row
    equality in tests). (seed, node, hop, n_paths) rows are
    reconstructed once at the end by posexploding the arrays
    (output-sized). Outside that k range the per-pair path
    (``_shortest_path_counts_rows``) runs unchanged.

    Returns (seed, node, hop, n_paths) for reached nodes, seed rows
    included (hop 0, 1 path)."""
    seed_rows = seeds.select(F.col("node").alias("seed")).distinct()
    k = seed_rows.count()
    if k < 3 or k > 62:
        return _shortest_path_counts_rows(edges, seeds, max_hops)

    und = _node_adjacency(edges)
    seed_idx = _seed_bit_index(seed_rows)
    masks = _bfs_mask_levels(und, seed_idx, max_hops)

    # counts_0: the seed's own element is 1 (one zero-length path)
    cnt = seed_idx.select(
        F.col("seed").alias("node"),
        F.expr(
            f"transform(sequence(0, {k - 1}), "
            "i -> CAST(IF(i = idx, 1, 0) AS BIGINT))"
        ).alias("cnt"),
    ).localCheckpoint(eager=True)
    per_level = [cnt]
    for t in range(1, len(masks)):
        gathered = (
            und.join(cnt, "node")
            .groupBy(F.col("dst").alias("node"))
            .agg(
                *[
                    F.sum(F.element_at("cnt", i + 1)).alias(f"c{i}")
                    for i in range(k)
                ]
            )
            .select(
                "node",
                F.array(*[f"c{i}" for i in range(k)]).alias("cnt"),
            )
        )
        cnt = (
            gathered.join(masks[t], "node")
            .select(
                "node",
                F.expr(
                    f"transform(sequence(0, {k - 1}), "
                    "i -> IF((shiftright(mask, i) & 1) = 1, "
                    "element_at(cnt, i + 1), CAST(0 AS BIGINT)))"
                ).alias("cnt"),
            )
        ).localCheckpoint(eager=True)
        if not cnt.take(1):
            break
        per_level.append(cnt)
        # per-level count tables are RESULT pieces; nothing to cycle
        # (the masks stay live until the loop ends)
    out = None
    for t, lvl in enumerate(per_level):
        rows = (
            lvl.select(
                "node", F.posexplode("cnt").alias("idx", "n_paths")
            )
            .where(F.col("n_paths") > 0)
            .withColumn("hop", F.lit(t).cast("long"))
        )
        out = rows if out is None else out.unionAll(rows)
    out = out.join(F.broadcast(seed_idx), "idx").select(
        "seed", "node", "hop", F.col("n_paths").cast("long").alias("n_paths")
    )
    release_unread([und, seed_idx, cnt, *masks], out)
    return out


def _shortest_path_counts_rows(
    edges: DataFrame, seeds: DataFrame, max_hops: int = 4
) -> DataFrame:
    """(seed, node)-keyed sigma DP — the general-k path (and the
    property-pin oracle for the array batch above)."""
    und = _node_adjacency(edges)
    # on this path per_seed_bfs returns its loop's final checkpoint
    dist = per_seed_bfs(edges, seeds, max_hops)

    level = (
        dist.where(F.col("hop") == 0)
        .select("seed", "node")
        .withColumn("n_paths", F.lit(1).cast("long"))
    ).localCheckpoint(eager=True)
    out = level.withColumn("hop", F.lit(0).cast("long"))
    owned = [und, dist, level]
    cycler = CheckpointCycler(edges.sparkSession)
    for t in range(1, max_hops + 1):
        nxt_nodes = dist.where(F.col("hop") == t).select("seed", "node")
        level = (
            und.join(level, "node")
            .select("seed", F.col("dst").alias("node"), "n_paths")
            .join(nxt_nodes, ["seed", "node"], "left_semi")
            .groupBy("seed", "node")
            .agg(F.sum("n_paths").cast("long").alias("n_paths"))
        ).localCheckpoint(eager=True)
        owned.append(level)
        if not level.take(1):
            break
        out = out.unionAll(
            level.withColumn("hop", F.lit(t).cast("long"))
        ).localCheckpoint(eager=True)
        # previous level + previous accumulated union are dead; dist
        # stays live until the loop ends (never claimed by the cycler)
        cycler.cycle(level, out)
    out = out.select("seed", "node", "hop", "n_paths")
    release_unread(owned, out)
    return out


def pagerank_weighted_int(
    weighted_edges: DataFrame, iterations: int = 4, scale: int = 10**12
) -> DataFrame:
    """Weighted PageRank in exact int64 fixed point: a node's rank is
    split across neighbors PROPORTIONALLY TO EDGE WEIGHT —
    share(u->v) = (rank_u * w_uv) div W_u, with W_u = u's total
    incident weight — instead of uniformly (the edge-strength prior a
    co-occurrence graph actually carries: a supplier shipping a part
    a thousand times should pull more rank along that edge than a
    one-off). Same discipline as ``pagerank_int``: every operation is
    integer (the scaled product rank*w stays far inside int64 for the
    scale/weight ranges callers pass: rank <= scale=1e12 and
    sum-of-weights per node <= ~1e6 -> product <= 1e18 < 2^63), so
    the result is reduction-order-free and a recursive-CTE oracle
    hash-matches the distributed run. Input: (src, dst, w) with
    positive integer weights; expanded to both orientations here.

    Per iteration: one map-side join against the weighted adjacency
    (co-partitioned on the rank key) + one gather shuffle + an eager
    checkpoint; previous generations released by the cycler. Round 12:
    adjacency checkpointed once + two iterations per barrier, exactly
    as in ``pagerank_int`` (deterministic update — only barrier
    frequency changes)."""
    a, b, wcol = weighted_edges.columns[:3]
    e = weighted_edges.select(
        F.col(a).alias("src"), F.col(b).alias("dst"),
        F.col(wcol).cast("long").alias("w"),
    ).where(F.col("src") != F.col("dst"))
    und = e.unionAll(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    ).groupBy("src", "dst").agg(F.max("w").alias("w")).localCheckpoint(
        eager=True
    )
    wdeg = (
        und.groupBy("src").agg(F.sum("w").alias("wdeg"))
        .withColumnRenamed("src", "node")
    ).localCheckpoint(eager=True)
    n = wdeg.count()
    init = scale // n
    teleport = (15 * init) // 100
    ranks = wdeg.select("node", F.lit(init).alias("rank"))

    def _step(cur: DataFrame) -> DataFrame:
        contribs = (
            cur.join(wdeg, "node")
            .withColumnRenamed("node", "src")
            .join(und, "src")
            .select(
                F.col("dst").alias("node"),
                F.expr("(rank * w) div wdeg").alias("c"),
            )
        )
        return contribs.groupBy("node").agg(
            (F.lit(teleport) + F.expr("(85 * sum(c)) div 100")).alias(
                "rank"
            )
        )

    return fixed_point(
        ranks,
        _step,
        max_steps=iterations,
        per_barrier=_RELAX_PER_BARRIER,
        invariants=(und, wdeg),
    ).state


def _directed_simple_edges(edges: DataFrame) -> DataFrame:
    """Directed-graph intake: first two columns as (src, dst), nulls
    and self-loops dropped, duplicate ordered pairs removed. The
    directed twin of ``canonical_pairs`` — NO orientation canonicalization
    (direction is the data)."""
    c = edges.columns
    return (
        edges.select(F.col(c[0]).alias("src"), F.col(c[1]).alias("dst"))
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )


def _min_reach_labels(
    edges: DataFrame, nodes: DataFrame, max_iters: int = 100
) -> DataFrame:
    """Fixed point of ``lbl(v) = min({v} ∪ {lbl(u) : (u,v) ∈ E})`` —
    after convergence ``lbl(v)`` is the minimum id over v and every
    node that can REACH v along edge direction. Bellman-Ford-style:
    every round joins the full edge set to the current labels (the
    standard distributed-coloring cost; rounds = directed diameter).
    One lazy checkpoint + one counting action per round; generations
    released through the ownership cycler. The returned labels ride
    the final checkpoint — the caller owns (and should release) it.
    """
    labels = nodes.select(
        "node", F.col("node").alias("lbl")
    ).localCheckpoint(eager=True)

    def _round(cur: DataFrame) -> DataFrame:
        incoming = (
            edges.join(
                cur.select(F.col("node").alias("src"), "lbl"), "src"
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("lbl").alias("in_lbl"))
        )
        return cur.join(incoming, "node", "left").select(
            "node",
            # least() skips NULL (no in-edges -> keep own label)
            F.least("lbl", "in_lbl").alias("lbl"),
            (F.col("in_lbl") < F.col("lbl")).alias("_chg"),
        )

    # round 12: _RELAX_PER_BARRIER rounds chained lazily per barrier +
    # count — the sssp batching argument verbatim (monotone min update,
    # idempotent at the fixed point; a zero-change LAST round proves
    # the previous one already converged)
    res = fixed_point(
        labels,
        _round,
        max_steps=max_iters,
        per_barrier=_RELAX_PER_BARRIER,
        measure=_changed_rows("_chg"),
        own_state=True,
    )
    if res.converged:
        return res.state.select("node", "lbl")
    raise ValueError(
        f"min-label propagation did not converge within {max_iters} "
        "iterations — raise max_iters (rounds track the directed "
        "diameter of the surviving subgraph)"
    )


def scc_fixed_point_local(
    edge_list: list[tuple],
) -> dict:
    """Driver-local SCC oracle: iterative Tarjan over an in-memory
    simple directed edge list, each component labeled by its MINIMUM
    node id — exactly the distributed peel's mapping contract.
    ``{node: scc}`` for every endpoint. O(V+E), explicit stack (no
    recursion limit). The local twin of ``ccf_fixed_point_local``."""
    from collections import defaultdict

    adj = defaultdict(list)
    nodes: set = set()
    for s, d in edge_list:
        adj[s].append(d)
        nodes.add(s)
        nodes.add(d)
    index: dict = {}
    low: dict = {}
    onstk: set = set()
    stk: list = []
    out: dict = {}
    counter = 0
    for root in nodes:
        if root in index:
            continue
        work = [(root, 0)]
        while work:
            v, pi = work[-1]
            if pi == 0:
                index[v] = low[v] = counter
                counter += 1
                stk.append(v)
                onstk.add(v)
            advanced = False
            nbrs = adj.get(v, ())
            for i in range(pi, len(nbrs)):
                w = nbrs[i]
                if w not in index:
                    work[-1] = (v, i + 1)
                    work.append((w, 0))
                    advanced = True
                    break
                if w in onstk and index[w] < low[v]:
                    low[v] = index[w]
            if advanced:
                continue
            work.pop()
            if work:
                u = work[-1][0]
                if low[v] < low[u]:
                    low[u] = low[v]
            if low[v] == index[v]:
                comp = []
                while True:
                    w = stk.pop()
                    onstk.discard(w)
                    comp.append(w)
                    if w == v:
                        break
                rep = min(comp)
                for w in comp:
                    out[w] = rep
    return out


def strongly_connected_components_directed(
    edges: DataFrame,
    max_rounds: int = 40,
    max_label_iters: int = 100,
    local_threshold: int | None = None,
) -> DataFrame:
    """Strongly connected components of a DIRECTED graph — the classic
    decomposition CC (undirected) cannot express. Returns
    ``(node, scc)`` for EVERY node appearing in the edge list, where
    ``scc`` is the minimum node id of the component (same
    lexicographic-min representative convention as the CCF mapping,
    S1; unlike CC's S3, representatives DO map to themselves here).

    ``local_threshold``: if set and the simple-edge count is at or
    below it, the decomposition runs as ONE driver-local iterative
    Tarjan pass over the collected edges instead of the distributed
    peel — below ~100k edges the peel is pure stage-scheduling
    overhead (tens of tiny rounds), the same economics as CCF's
    ``local_threshold``. Semantics are identical (property-pinned);
    past the threshold the distributed loop takes over untouched.

    Trim + simultaneous forward/backward min-coloring, each peel round:

    1. **Trim** (iterated to fixed point): a node with no in-edges or
       no out-edges in the surviving subgraph can sit on no cycle —
       it is a singleton SCC; peel it. Dissolves DAG regions in
       rounds-of-cascade, which is exactly the case that starves
       pivot-style peeling.
    2. **Color**: ``f(v)`` = min id over nodes reaching v (forward
       propagation fixed point), ``b(v)`` = min id over nodes v
       reaches (same loop on reversed edges). Ancestor and descendant
       sets are SCC-invariant, so whenever ``f(v) == b(v) == c`` the
       entire SCC(c) satisfies it: c reaches v AND v reaches c, and
       the peeled set is a union of COMPLETE SCCs with their true
       minimum as label. The global-min node always qualifies
       (f = b = itself), so every color round peels >= 1 whole SCC —
       typically many (one per color class whose min lies on a cycle
       in its class).

    All propagation is equi-joins + partial/final min-aggs (never a
    collect, never a cross join); per-round state rides one
    localCheckpoint generation, released by the ownership cycler.
    The emitted result pieces are separate pinned checkpoints (they
    are the return value; bounded by total node count). Raises — not
    returns a partial decomposition — if ``max_rounds`` peels don't
    dissolve the graph (worst case is a chain of SCCs; each round
    peels at least one full SCC plus every trimmable node).
    """
    spark = edges.sparkSession
    if local_threshold is not None:
        simple = _directed_simple_edges(edges)
        rows = [(r[0], r[1]) for r in simple.limit(
            local_threshold + 1
        ).collect()]
        if len(rows) <= local_threshold:
            mapping = scc_fixed_point_local(rows)
            if not mapping:
                # empty-result schema derives from the edge key type
                # (like the distributed peel's), not a hardcoded
                # string — an int-keyed graph of pure self-loops must
                # not flip column types between the two paths
                return _empty_scc(simple)
            import pandas as pd

            pdf = pd.DataFrame(
                sorted(mapping.items()), columns=["node", "scc"]
            )
            return spark.createDataFrame(pdf)

    cur = _directed_simple_edges(edges).localCheckpoint(eager=True)
    nodes = (
        cur.select(F.col("src").alias("node"))
        .unionAll(cur.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    pieces: list[DataFrame] = []
    outer = CheckpointCycler(spark)
    outer.cycle(cur, nodes)
    n_nodes = nodes.count()

    def shrink(done: DataFrame) -> None:
        """Commit a peeled piece: next node/edge generations, cycled."""
        nonlocal cur, nodes
        new_nodes = nodes.join(
            done.select("node"), "node", "left_anti"
        ).localCheckpoint(eager=False)
        new_cur = (
            cur.join(
                new_nodes.select(F.col("node").alias("src")),
                "src",
                "left_semi",
            )
            .join(
                new_nodes.select(F.col("node").alias("dst")),
                "dst",
                "left_semi",
            )
            .select("src", "dst")
            .localCheckpoint(eager=False)
        )
        new_cur.count()
        outer.cycle(new_cur, new_nodes)
        nodes, cur = new_nodes, new_cur

    for _ in range(max_rounds):
        # ---- trim cascade to fixed point: sources/sinks are singleton
        # SCCs. Each pass strictly decreases n_nodes, so this inner
        # loop always terminates on its own — it does NOT consume the
        # color-round budget (max_rounds bounds chains of SCCs only;
        # an arbitrarily deep DAG dissolves right here).
        while n_nodes:
            has_in = cur.select(F.col("dst").alias("node")).distinct()
            has_out = cur.select(F.col("src").alias("node")).distinct()
            keep = nodes.join(has_in, "node", "left_semi").join(
                has_out, "node", "left_semi"
            )
            trivial = (
                nodes.join(keep, "node", "left_anti")
                .select("node", F.col("node").alias("scc"))
                .localCheckpoint(eager=False)
            )
            n_triv = trivial.count()
            if not n_triv:
                _unpersist_rdds(spark, checkpoint_rdd_ids(trivial))
                break
            pieces.append(trivial)
            shrink(trivial)
            n_nodes -= n_triv
        if n_nodes == 0:
            break
        # ---- color round: forward + backward min labels
        f = _min_reach_labels(cur, nodes, max_label_iters)
        rev = cur.select(
            F.col("dst").alias("src"), F.col("src").alias("dst")
        )
        b = _min_reach_labels(rev, nodes, max_label_iters)
        done = (
            f.join(b.withColumnRenamed("lbl", "blbl"), "node")
            .where(F.col("lbl") == F.col("blbl"))
            .select("node", F.col("lbl").alias("scc"))
            .localCheckpoint(eager=False)
        )
        n_done = done.count()  # >= |SCC(global min)| >= 1
        # done is its own checkpoint now; f/b are dead
        _unpersist_rdds(
            spark, checkpoint_rdd_ids(f) | checkpoint_rdd_ids(b)
        )
        pieces.append(done)
        shrink(done)
        n_nodes -= n_done
    else:
        if n_nodes:
            # a partial decomposition is indistinguishable from a
            # correct one downstream; fail loudly (k_truss discipline)
            raise ValueError(
                f"SCC peeling left {n_nodes} nodes after "
                f"max_rounds={max_rounds}; raise max_rounds (worst "
                "case is a long chain of SCCs)"
            )
    if not pieces:
        # key-typed empty schema, matching the local fast path
        return _empty_scc(cur)
    return reduce(DataFrame.unionAll, pieces)


def _empty_scc(edges: DataFrame) -> DataFrame:
    """Empty (node, scc) result typed by ``edges``' src key."""
    key_t = edges.schema["src"].dataType
    return edges.sparkSession.createDataFrame(
        [],
        T.StructType(
            [T.StructField("node", key_t), T.StructField("scc", key_t)]
        ),
    )


def dag_longest_path_levels(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    max_iters: int = 40,
) -> DataFrame:
    """Longest-path-from-any-source level per node of a DAG —
    topological layering: level 0 = sources, level k = nodes whose
    longest incoming chain has k edges (the stage number a dependency
    scheduler would run them at).

    Bellman-Ford-style max propagation (``lvl(v) = max(lvl(v),
    lvl(u)+1)`` over in-edges) converges in depth rounds on a DAG; on
    a CYCLE it never converges, so exhausting ``max_iters`` raises —
    the fail-loud doubles as a cycle detector, which is the right
    contract for an operator whose input is supposed to be a
    condensation. ``nodes`` adds isolated vertices (level 0) the edge
    list alone cannot see. Same per-round discipline as the other
    loops: one lazy checkpoint, one counting action, ownership-cycled
    generations.
    """
    e = _directed_simple_edges(edges)
    node_set = e.select(F.col("src").alias("node")).unionAll(
        e.select(F.col("dst").alias("node"))
    )
    if nodes is not None:
        node_set = node_set.unionAll(nodes.select("node"))
    levels = (
        node_set.distinct()
        .select("node", F.lit(0).cast("long").alias("level"))
        .localCheckpoint(eager=True)
    )

    def _round(cur: DataFrame) -> DataFrame:
        incoming = (
            e.join(cur.select(F.col("node").alias("src"), "level"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg((F.max("level") + 1).alias("in_lvl"))
        )
        return cur.join(incoming, "node", "left").select(
            "node",
            # greatest() skips NULL (no in-edges -> keep level)
            F.greatest("level", "in_lvl").alias("level"),
            (F.col("in_lvl") > F.col("level")).alias("_chg"),
        )

    res = fixed_point(
        levels,
        _round,
        max_steps=max_iters,
        measure=_changed_rows("_chg"),
        own_state=True,
    )
    if res.converged:
        return res.state.select("node", "level")
    raise ValueError(
        f"longest-path layering did not converge within {max_iters} "
        "rounds — the input has a cycle (not a DAG), or its depth "
        "exceeds max_iters"
    )


def minimum_spanning_forest(
    edges: DataFrame, max_rounds: int = 20
) -> DataFrame:
    """Borůvka minimum spanning forest of an undirected weighted graph
    — the classic O(log n)-round distributed MST. Input: first three
    columns as (src, dst, weight); output: the forest's edges
    ``(src, dst, weight)`` in id-canonical orientation.

    Determinism: edges are totally ordered by (weight, src, dst), so
    ties in weight cannot make the forest ambiguous — the result is
    THE unique minimum forest under that order (cut property with a
    total order), which is what lets a sequential Kruskal property
    oracle pin it edge-for-edge.

    Each round: attach component labels to both endpoints, keep
    cross-component edges, pick each component's minimum incident
    edge (one partial+final ``min(struct(weight, src, dst))`` agg over
    the two orientations), dedup the winners, CONTRACT by running the
    engine's own connected components on the winner COMPONENT graph
    (node count = component count, shrinking geometrically), and
    rewrite the label mapping through the contraction. Component
    count at least halves per round — max_rounds=20 covers 2^20
    components; exhausting it raises rather than returning a partial
    forest. All equi-joins and aggs; per-round state is checkpointed
    and released through the ownership cycler. Not SQL-oracle-able at
    reasonable depth (each round nests a CC fixed point), so this
    operator is property-tested against a total-order Kruskal oracle
    instead of the DuckDB gate — the documented pytest tier."""
    from map_reduce_project_spark.graph.ccf import connected_components
    c = edges.columns
    spark = edges.sparkSession
    canon = (
        edges.select(
            F.least(F.col(c[0]), F.col(c[1])).alias("src"),
            F.greatest(F.col(c[0]), F.col(c[1])).alias("dst"),
            F.col(c[2]).cast("double").alias("weight"),
        )
        .where(
            F.col("src").isNotNull()
            & F.col("dst").isNotNull()
            & (F.col("src") != F.col("dst"))
        )
        # parallel edges: keep only the minimal one under the total
        # order (the others can never be in the forest)
        .groupBy("src", "dst")
        .agg(F.min("weight").alias("weight"))
        .localCheckpoint(eager=True)
    )
    comp = (
        canon.select(F.col("src").alias("node"))
        .unionAll(canon.select(F.col("dst").alias("node")))
        .distinct()
        .select("node", F.col("node").alias("comp"))
        .localCheckpoint(eager=True)
    )
    cycler = CheckpointCycler(spark)
    cycler.cycle(canon, comp)
    pieces: list[DataFrame] = []

    def _ends(e: DataFrame) -> DataFrame:
        """``e`` with both endpoints' current labels, csrc and cdst."""
        for end in ("src", "dst"):
            e = e.join(
                comp.select(
                    F.col("node").alias(end), F.col("comp").alias(f"c{end}")
                ),
                end,
            )
        return e

    for _ in range(max_rounds):
        labeled = _ends(canon).where(F.col("csrc") != F.col("cdst"))
        incident = labeled.select(
            F.col("csrc").alias("c"), "weight", "src", "dst"
        ).unionAll(
            labeled.select(F.col("cdst").alias("c"), "weight", "src", "dst")
        )
        winners = (
            incident.groupBy("c")
            .agg(F.min(F.struct("weight", "src", "dst")).alias("e"))
            .select("e.src", "e.dst", "e.weight")
            .dropDuplicates(["src", "dst"])
            .localCheckpoint(eager=False)
        )
        if not winners.take(1):
            break
        pieces.append(winners)
        # contract: CC over the winner COMPONENT graph; the CC mapping
        # omits representatives (S3) -> coalesce to identity
        wl = _ends(winners).select(
            F.col("csrc").alias("src"), F.col("cdst").alias("dst")
        )
        contraction = connected_components(wl).mapping.select(
            F.col("node").alias("comp"), F.col("component").alias("newc")
        )
        new_comp = (
            comp.join(contraction, "comp", "left")
            .select(
                "node", F.coalesce("newc", F.col("comp")).alias("comp")
            )
            .localCheckpoint(eager=False)
        )
        new_comp.count()
        # winners pieces are the RESULT — never claimed, never freed
        cycler.cycle(canon, new_comp)
        comp = new_comp
    else:
        # if cross-component edges remain, the forest is incomplete
        remaining = (
            _ends(canon).where(F.col("csrc") != F.col("cdst")).count()
        )
        if remaining:
            raise ValueError(
                f"Boruvka left {remaining} cross-component edges after "
                f"max_rounds={max_rounds} — raise max_rounds"
            )
    if not pieces:
        return spark.createDataFrame(
            [], "src string, dst string, weight double"
        )
    return reduce(DataFrame.unionAll, pieces)
