"""Synthetic graph generators for conformance goldens + scale testing.

Two tiers:

1. ``generate_*`` — driver-side pure-Python generators whose RNG call
   sequence reproduces the reference's edge sets exactly
   (reference ccf_experiments.py:18-54, ``random.Random(seed)``,
   seed=42), because the iteration-count goldens in
   experiment_results.csv are only meaningful on the identical graph.
   Node IDs are stringified ints (lexicographic ordering semantics, S1).

2. ``*_graph_df`` — distributed variants built with ``spark.range`` for
   graphs that would not fit driver memory. These are NOT bit-exact with
   the reference RNG (documented deviation); they exist for the
   100 TB-scale path where the edge list itself is big data.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EDGE_SCHEMA = "src string, dst string"


def generate_chain_graph(n: int) -> list[tuple[str, str]]:
    """Path graph 0-1-...-(n-1); diameter n-1, the iteration worst case."""
    return [(str(i), str(i + 1)) for i in range(n - 1)]


def generate_random_graph(
    n_nodes: int, n_edges: int, seed: int = 42
) -> list[tuple[str, str]]:
    """Erdős–Rényi-style fixed-edge-count graph.

    Rejection-samples distinct canonical (min,max) pairs with the same
    RNG call order as the reference (two randint draws per attempt,
    self-loops rejected WITHOUT consuming extra draws), so the edge SET
    is identical for a given seed. Edge order is hash-seed dependent
    (set iteration) but CCF results depend only on the set.
    """
    rng = random.Random(seed)
    edges: set[tuple[str, str]] = set()
    while len(edges) < n_edges:
        a = rng.randint(0, n_nodes - 1)
        b = rng.randint(0, n_nodes - 1)
        if a == b:
            continue
        lo, hi = (a, b) if a < b else (b, a)
        edges.add((str(lo), str(hi)))
    return sorted(edges)


def generate_cluster_graph(
    n_clusters: int,
    nodes_per_cluster: int,
    inter_edges: int = 0,
    seed: int = 42,
) -> list[tuple[str, str]]:
    """k clusters, each a chain plus skip-by-2 edges, plus random bridges.

    Reproduces the reference's draw order exactly: per bridge, one
    ``rng.sample(range(n_clusters), 2)`` then two randint draws
    (reference ccf_experiments.py:36-54).
    """
    edges: list[tuple[str, str]] = []
    for c in range(n_clusters):
        base = c * nodes_per_cluster
        for i in range(nodes_per_cluster - 1):
            edges.append((str(base + i), str(base + i + 1)))
            if i + 2 < nodes_per_cluster:
                edges.append((str(base + i), str(base + i + 2)))

    rng = random.Random(seed)
    for _ in range(inter_edges):
        c1, c2 = rng.sample(range(n_clusters), 2)
        n1 = c1 * nodes_per_cluster + rng.randint(0, nodes_per_cluster - 1)
        n2 = c2 * nodes_per_cluster + rng.randint(0, nodes_per_cluster - 1)
        edges.append((str(n1), str(n2)))
    return edges


# --- Scala-RNG modes (the reference's second published result set) ---------
# The reference also ran its sweep from Scala (ccf_experiments_scala.scala:
# 21-55) with scala.util.Random, producing experiment_results_scala.csv on
# DIFFERENT edge sets (RNG divergence documented in its report). These
# reproduce those edge sets bit-for-bit via the pure-Python JavaRandom.


def generate_random_graph_scala(
    n_nodes: int, n_edges: int, seed: int = 42
) -> list[tuple[str, str]]:
    """Scala generateRandomGraph: rejection-sample canonical pairs into
    a LinkedHashSet (insertion-ordered, so even edge ORDER matches)
    until exactly n_edges distinct edges exist."""
    from map_reduce_project_spark.graph.javarandom import JavaRandom

    rng = JavaRandom(seed)
    edges: dict[tuple[str, str], None] = {}
    while len(edges) < n_edges:
        a = rng.next_int(n_nodes)
        b = rng.next_int(n_nodes)
        if a != b:
            lo, hi = (a, b) if a < b else (b, a)
            edges.setdefault((str(lo), str(hi)))
    return list(edges)


def generate_cluster_graph_scala(
    n_clusters: int,
    nodes_per_cluster: int,
    inter_edges: int = 0,
    seed: int = 42,
) -> list[tuple[str, str]]:
    """Scala generateClusterGraph: identical deterministic intra-cluster
    chains + skip-2 edges; bridges draw a full Fisher-Yates shuffle of
    the cluster list (n_clusters-1 nextInt calls), take the first two,
    then one nextInt per endpoint — the exact Scala draw order."""
    from map_reduce_project_spark.graph.javarandom import JavaRandom

    edges: list[tuple[str, str]] = []
    for c in range(n_clusters):
        base = c * nodes_per_cluster
        for i in range(nodes_per_cluster - 1):
            edges.append((str(base + i), str(base + i + 1)))
            if i + 2 < nodes_per_cluster:
                edges.append((str(base + i), str(base + i + 2)))

    rng = JavaRandom(seed)
    for _ in range(inter_edges):
        cs = rng.shuffle(list(range(n_clusters)))[:2]
        n1 = cs[0] * nodes_per_cluster + rng.next_int(nodes_per_cluster)
        n2 = cs[1] * nodes_per_cluster + rng.next_int(nodes_per_cluster)
        edges.append((str(n1), str(n2)))
    return edges


def edges_df(
    spark: SparkSession, edges: list[tuple[str, str]]
) -> DataFrame:
    """Driver-side edge list -> DataFrame(src, dst) (reference O1).

    Ships the rows through pandas so the Py4J transfer uses Arrow
    record batches instead of pickled Python rows — measured ~2.5x
    faster (0.2s vs 0.5s for a 15k-edge list) and the same schema.
    Falls back to the plain-list path if pandas is unavailable.
    """
    try:
        import pandas as pd

        pdf = pd.DataFrame(edges, columns=["src", "dst"], dtype=object)
        return spark.createDataFrame(pdf, EDGE_SCHEMA)
    except ImportError:  # pragma: no cover
        return spark.createDataFrame(edges, EDGE_SCHEMA)


# --- distributed variants (scale path; not RNG-conformant) -----------------


def random_graph_df(
    spark: SparkSession, n_nodes: int, n_edges: int, seed: int = 42
) -> DataFrame:
    """Distributed random graph: ~n_edges canonical pairs.

    A pure narrow pipeline — deterministic xxhash64 draws per row id,
    canonical (min,max) orientation, self-loops dropped. No
    dropDuplicates and no LIMIT: a global limit serializes through one
    task (measured: it dominated a 2M-edge build), and duplicate edges
    are harmless to connected components. Scales to billions of edges;
    edge count is n_edges minus the ~1/n_nodes self-loop rejections.
    """
    return (
        spark.range(n_edges)
        .select(
            F.pmod(F.xxhash64(F.col("id"), F.lit(seed)), F.lit(n_nodes)).alias(
                "a"
            ),
            F.pmod(
                F.xxhash64(F.col("id"), F.lit(seed + 1)), F.lit(n_nodes)
            ).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").cast("string").alias("src"),
            F.greatest("a", "b").cast("string").alias("dst"),
        )
    )


def hub_graph_df(
    spark: SparkSession,
    n_nodes: int,
    n_edges: int,
    n_hubs: int = 4,
    hub_permille: int = 500,
    seed: int = 42,
) -> DataFrame:
    """Distributed hub-skewed (star-heavy) graph: ``hub_permille``/1000
    of the edges attach a random node to one of ``n_hubs`` hub nodes
    (ids 0..n_hubs-1); the rest are uniform random pairs — the
    power-law degree shape the reference flags as CCF's reducer-skew
    risk (RESULTS.md:119). Expected hub degree ≈
    n_edges * hub_permille / (1000 * n_hubs), so configs can be sized
    to cross the CC loop's skew-probe threshold deliberately.

    Same narrow deterministic pipeline as ``random_graph_df``: xxhash64
    draws per row id, canonical (min,max) string orientation,
    self-loops dropped, duplicates tolerated.
    """
    a = F.pmod(F.xxhash64(F.col("id"), F.lit(seed)), F.lit(n_nodes))
    uniform_b = F.pmod(
        F.xxhash64(F.col("id"), F.lit(seed + 1)), F.lit(n_nodes)
    )
    hub_b = F.pmod(F.xxhash64(F.col("id"), F.lit(seed + 3)), F.lit(n_hubs))
    is_hub_edge = (
        F.pmod(F.xxhash64(F.col("id"), F.lit(seed + 2)), F.lit(1000))
        < hub_permille
    )
    return (
        spark.range(n_edges)
        .select(
            a.alias("a"),
            F.when(is_hub_edge, hub_b).otherwise(uniform_b).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").cast("string").alias("src"),
            F.greatest("a", "b").cast("string").alias("dst"),
        )
    )
