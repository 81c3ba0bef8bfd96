"""Graph queries: the reference's flagship CCF connected components,
bound to the driver's star schema.

cc_orders_bipartite has an exact SQL oracle because a customer-order
bipartite graph's components are trivially known (each order's only
neighbor is its customer, and "c:" < "o:" makes customers the
lexicographic representatives). cc_part_supplier exercises the real
multi-iteration fixed point on a co-occurrence graph; its correctness
is pinned by union-find property tests (tests/test_ccf.py), and the
driver records a rows-only check (connected components is not
expressible in portable non-recursive SQL).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from map_reduce_project_spark.graph.ccf import (
    component_summary,
    connected_components,
)
from map_reduce_project_spark.graph.analytics import (
    bfs_hops,
    k_core,
    label_propagation,
    pagerank_int,
    triangle_count,
)
from map_reduce_project_spark.queries import Query
from map_reduce_project_spark.sources.io import read_table


def _order_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    return orders.select(
        F.concat(F.lit("c:"), F.col("o_custkey")).alias("src"),
        F.concat(F.lit("o:"), F.col("o_orderkey")).alias("dst"),
    )


def cc_orders_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCF over the customer-order bipartite graph (flagship, O2-O9)."""
    return connected_components(_order_edges(spark, sf_dir)).mapping


CC_ORDERS_SQL = """
SELECT 'o:' || o_orderkey AS node, 'c:' || o_custkey AS component
FROM orders
"""


def cc_orders_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Component membership summary (O11) over the flagship mapping.

    The library API (``component_summary``) keeps ``members`` as a
    typed array<string>; this gate query serializes it with
    ``concat_ws`` because the driver's pandas canonicalizer cannot
    sort/hash list cells (unhashable-list crash in round 1).
    """
    mapping = connected_components(_order_edges(spark, sf_dir)).mapping
    summary = component_summary(mapping)
    return summary.select(
        "component",
        F.concat_ws("|", "members").alias("members"),
        "size",
    )


CC_SUMMARY_SQL = """
SELECT 'c:' || o_custkey AS component,
       array_to_string(
         list_sort(list_append(list('o:' || o_orderkey), 'c:' || o_custkey)),
         '|') AS members,
       COUNT(*) + 1 AS size
FROM orders
GROUP BY o_custkey
"""


def cc_part_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCF over the part-supplier co-occurrence graph from lineitem.

    A real multi-iteration fixed point: parts sharing a supplier and
    suppliers sharing a part collapse into components. Checked EXACTLY
    against a DuckDB recursive-CTE min-label-propagation oracle (the
    same bounded-recursion pattern as the BFS/PageRank oracles; the BFS
    oracle shows 6 hops span the graph, so 12 propagation rounds are
    safely past the fixed point at gate scale).
    """
    li = read_table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.concat(F.lit("p:"), F.col("l_partkey")).alias("src"),
        F.concat(F.lit("s:"), F.col("l_suppkey")).alias("dst"),
    ).dropDuplicates()
    return connected_components(edges).mapping


CC_PART_SUPPLIER_SQL = """
WITH RECURSIVE e AS (
  SELECT DISTINCT 'p:' || l_partkey AS src, 's:' || l_suppkey AS dst
  FROM lineitem
), und AS (
  SELECT src, dst FROM e UNION SELECT dst, src FROM e
), nodes AS (
  SELECT DISTINCT src AS n FROM und
), und2 AS (  -- self-loops so every node keeps its own label each round
  SELECT src, dst FROM und UNION SELECT n, n FROM nodes
), lab AS (
  SELECT 0 AS it, n AS node, n AS lab FROM nodes
  UNION ALL
  SELECT lab.it + 1 AS it, und2.dst AS node, MIN(lab.lab) AS lab
  FROM lab JOIN und2 ON und2.src = lab.node
  WHERE lab.it < 12
  GROUP BY lab.it, und2.dst
)
SELECT node, lab AS component FROM lab
WHERE it = 12 AND node <> lab
"""


def cc_star_orders_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alternating large-star/small-star CC (Kiveris et al., SoCC 2014)
    over the same bipartite graph — the O(log n)-round scale-path
    alternative to CCF's O(diameter) loop (graph/star.py). Produces
    the identical (node, component) mapping, so it shares CCF's exact
    SQL oracle."""
    return connected_components(
        _order_edges(spark, sf_dir), algorithm="star"
    ).mapping


def cc_star_reliable_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bounded-intermediate scale path END-TO-END under the hash
    gate: ``connected_components(..., algorithm="star")`` dispatch
    (round-12; graph/ccf.py) with the RELIABLE parquet-barrier rounds
    — the exact configuration a 100 TB multi-hour run would use
    (executor-loss-tolerant generations, per-round state bounded by
    the canonical edge set). Identical mapping to CCF, so it shares
    the exact SQL oracle."""
    import atexit
    import shutil
    import tempfile

    from map_reduce_project_spark.graph.ccf import connected_components

    ckpt = tempfile.mkdtemp(prefix="cc_star_rel_")
    # the final generation's parquet files back the returned mapping,
    # so the directory must outlive this call; reap at exit
    atexit.register(shutil.rmtree, ckpt, ignore_errors=True)
    res = connected_components(
        _order_edges(spark, sf_dir),
        algorithm="star",
        reliable_checkpoint_dir=ckpt,
    )
    return res.mapping


def cc_component_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Component-size distribution of the flagship graph (O10/O11 agg)."""
    mapping = connected_components(_order_edges(spark, sf_dir)).mapping
    return (
        mapping.groupBy("component")
        .agg(F.count("*").alias("n_members"))
        .groupBy("n_members")
        .agg(F.count("*").alias("n_components"))
    )


CC_SIZES_SQL = """
SELECT n_members, COUNT(*) AS n_components FROM (
  SELECT o_custkey, COUNT(*) AS n_members FROM orders GROUP BY o_custkey
) GROUP BY n_members
"""


def cc_triangles_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count of the co-purchase graph (parts appearing in the
    same order). The engine counts with DEGREE ordering (hub-safe at
    scale, graph/analytics.py); the oracle counts with plain id
    ordering — the count is orientation-invariant, so they must agree
    exactly. The hot path stays on RAW INT64 part keys (the
    link-prediction lesson: the wedge join emits ~49M rows at sf0.1,
    and 3-string wedge rows are ~3x the bytes of 3-int ones — part of
    what stood between the vanilla 1 GB heap and sf0.1); the output
    is counts only, so no display cast exists at all."""
    li = read_table(spark, sf_dir, "lineitem")
    edges = (
        li.select("l_orderkey", "l_partkey")
        .dropDuplicates()
        .alias("x")
        .join(
            li.select("l_orderkey", "l_partkey").dropDuplicates().alias("y"),
            "l_orderkey",
        )
        .where(F.col("x.l_partkey") < F.col("y.l_partkey"))
        .select(
            F.col("x.l_partkey").alias("src"),
            F.col("y.l_partkey").alias("dst"),
        )
    )
    return triangle_count(edges)


CC_TRIANGLES_SQL = """
WITH ip AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS (
  SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
  FROM ip x JOIN ip y ON x.l_orderkey = y.l_orderkey
  WHERE x.l_partkey < y.l_partkey
),
nodes AS (SELECT a AS n FROM e UNION SELECT b FROM e)
SELECT (SELECT COUNT(*) FROM nodes) AS n_nodes,
       (SELECT COUNT(*) FROM e) AS n_edges,
       (SELECT COUNT(*)
        FROM e e1 JOIN e e2 ON e2.a = e1.b
                  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b) AS n_triangles
"""


def _part_supplier_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem")
    return li.select(
        F.concat(F.lit("p:"), F.col("l_partkey")).alias("src"),
        F.concat(F.lit("s:"), F.col("l_suppkey")).alias("dst"),
    ).dropDuplicates()


def bfs_part_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hops over the part-supplier bipartite graph,
    seeded at nation-0 suppliers. Iterative frontier expansion
    (graph/analytics.py:bfs_hops) checked EXACTLY against a DuckDB
    recursive CTE — integer hop counts are summation-order-free, so
    the hash gate covers an iterative algorithm end-to-end."""
    supplier = read_table(spark, sf_dir, "supplier")
    seeds = supplier.where(F.col("s_nationkey") == 0).select(
        F.concat(F.lit("s:"), F.col("s_suppkey")).alias("node")
    )
    return bfs_hops(_part_supplier_edges(spark, sf_dir), seeds, max_hops=6)


BFS_SQL = """
WITH RECURSIVE e AS (
  SELECT DISTINCT 'p:' || l_partkey AS src, 's:' || l_suppkey AS dst
  FROM lineitem
), und AS (
  SELECT src, dst FROM e UNION SELECT dst, src FROM e
), walk AS (
  SELECT 's:' || s_suppkey AS node, 0 AS hop
  FROM supplier WHERE s_nationkey = 0
  UNION
  SELECT und.dst AS node, walk.hop + 1 AS hop
  FROM walk JOIN und ON und.src = walk.node
  WHERE walk.hop < 6
)
SELECT node, MIN(hop) AS hop FROM walk GROUP BY node
"""


def pagerank_part_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (5 iterations, d=0.85) over the same graph in exact
    int64 fixed-point units of 1e-12 (graph/analytics.py:pagerank_int)
    — integer floor-div arithmetic makes the distributed result
    bit-identical to the DuckDB recursive-CTE oracle, putting a
    second iterative algorithm under the exact hash gate."""
    return pagerank_int(
        _part_supplier_edges(spark, sf_dir), iterations=5, scale=10**12
    )


PAGERANK_SQL = """
WITH RECURSIVE e AS (
  SELECT DISTINCT 'p:' || l_partkey AS src, 's:' || l_suppkey AS dst
  FROM lineitem
), und AS (
  SELECT src, dst FROM e UNION SELECT dst, src FROM e
), deg AS (
  SELECT src AS node, COUNT(*) AS deg FROM und GROUP BY src
), consts AS (
  SELECT CAST(1000000000000 // COUNT(*) AS BIGINT) AS init,
         CAST((15 * (1000000000000 // COUNT(*))) // 100 AS BIGINT) AS tp
  FROM deg
), pr AS (
  SELECT 0 AS it, node, (SELECT init FROM consts) AS rank FROM deg
  UNION ALL
  SELECT pr.it + 1 AS it, und.dst AS node,
         (SELECT tp FROM consts) + (85 * SUM(pr.rank // deg.deg)) // 100
           AS rank
  FROM pr
  JOIN deg ON deg.node = pr.node
  JOIN und ON und.src = pr.node
  WHERE pr.it < 5
  GROUP BY pr.it, und.dst
)
SELECT node, rank FROM pr WHERE it = 5
"""


def lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synchronous label-propagation communities (2
    rounds, min tie-break) over the part-supplier bipartite graph —
    checked EXACTLY against a 2-level unrolled SQL oracle computing
    the same neighbor-label mode with the same tie-break. Community
    detection is a different question from connectivity (cc_*): LPA
    finds the dense groups inside a component."""
    return label_propagation(_part_supplier_edges(spark, sf_dir), rounds=2)


LPA_SQL = """
WITH e AS (
  SELECT DISTINCT 'p:' || l_partkey AS src, 's:' || l_suppkey AS dst
  FROM lineitem
), und AS (
  SELECT src, dst FROM e UNION SELECT dst, src FROM e
), l1 AS (
  SELECT node, community FROM (
    SELECT und.dst AS node, und.src AS community,
           ROW_NUMBER() OVER (PARTITION BY und.dst
                              ORDER BY COUNT(*) DESC, und.src) AS rn
    FROM und GROUP BY und.dst, und.src
  ) WHERE rn = 1
), l2 AS (
  SELECT node, community FROM (
    SELECT und.dst AS node, l1.community AS community,
           ROW_NUMBER() OVER (PARTITION BY und.dst
                              ORDER BY COUNT(*) DESC, l1.community) AS rn
    FROM und JOIN l1 ON l1.node = und.src
    GROUP BY und.dst, l1.community
  ) WHERE rn = 1
)
SELECT node, community FROM l2
"""


def kcore_part_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-core of the low-volume part-supplier graph (lineitems with
    l_quantity < 6 — sparse enough that peeling removes real mass):
    iterative synchronous peeling (graph/analytics.py:k_core) checked
    EXACTLY against a bounded recursive-CTE oracle that peels in
    lockstep — a third iterative algorithm under the hash gate."""
    li = read_table(spark, sf_dir, "lineitem")
    edges = (
        li.where(F.col("l_quantity") < 6)
        .select(
            F.concat(F.lit("p:"), F.col("l_partkey")).alias("src"),
            F.concat(F.lit("s:"), F.col("l_suppkey")).alias("dst"),
        )
        .dropDuplicates()
    )
    return k_core(edges, k=4)


KCORE_SQL = """
WITH RECURSIVE e AS (
  SELECT DISTINCT 'p:' || l_partkey AS src, 's:' || l_suppkey AS dst
  FROM lineitem WHERE l_quantity < 6
), und AS (
  SELECT src, dst FROM e UNION SELECT dst, src FROM e
), peel AS (
  SELECT 0 AS it, src, dst FROM und
  UNION ALL
  SELECT it + 1 AS it, src, dst FROM (
    SELECT it, src, dst,
      COUNT(*) OVER (PARTITION BY src) AS dsrc,
      COUNT(*) OVER (PARTITION BY dst) AS ddst
    FROM peel
  ) WHERE it < 8 AND dsrc >= 4 AND ddst >= 4
)
SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
FROM peel WHERE it = 8 GROUP BY src
"""



def sssp_part_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded weighted SSSP (Bellman-Ford min-plus, 3 relaxation
    rounds) over the part-supplier bipartite graph: edge weight =
    MIN integer l_quantity per (part, supplier) pair, seeds = nation-0
    suppliers at distance 0. Integer weights make every distance
    exact, so the whole iterative relaxation hash-matches the DuckDB
    recursive-CTE oracle (graph/analytics.py:bounded_sssp)."""
    from map_reduce_project_spark.graph.analytics import bounded_sssp

    li = read_table(spark, sf_dir, "lineitem")
    weighted = li.groupBy(
        F.concat(F.lit("p:"), F.col("l_partkey")).alias("a"),
        F.concat(F.lit("s:"), F.col("l_suppkey")).alias("b"),
    ).agg(F.min(F.col("l_quantity").cast("long")).alias("w"))
    und = weighted.select(
        F.col("a").alias("src"), F.col("b").alias("dst"), "w"
    ).unionAll(
        weighted.select(
            F.col("b").alias("src"), F.col("a").alias("dst"), "w"
        )
    )
    supplier = read_table(spark, sf_dir, "supplier")
    seeds = supplier.where(F.col("s_nationkey") == 0).select(
        F.concat(F.lit("s:"), F.col("s_suppkey")).alias("node")
    )
    return bounded_sssp(und, seeds, rounds=3)


SSSP_SQL = """
WITH RECURSIVE e AS (
  SELECT 'p:' || l_partkey AS src, 's:' || l_suppkey AS dst,
         MIN(CAST(l_quantity AS BIGINT)) AS w
  FROM lineitem GROUP BY 1, 2
), und AS (
  SELECT src, dst, w FROM e UNION ALL SELECT dst, src, w FROM e
), walk AS (
  SELECT 's:' || s_suppkey AS node, CAST(0 AS BIGINT) AS dist, 0 AS hop
  FROM supplier WHERE s_nationkey = 0
  UNION
  SELECT und.dst AS node, walk.dist + und.w AS dist, walk.hop + 1 AS hop
  FROM walk JOIN und ON und.src = walk.node
  WHERE walk.hop < 3
)
SELECT node, MIN(dist) AS dist FROM walk GROUP BY node
"""


def cc_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient over the part-supplier
    co-occurrence projection (suppliers sharing a part are linked):
    degree-oriented enumeration on the engine side, id-ordered
    enumeration in the oracle — per-node triangle counts are
    orientation-invariant, so the hash gate pins them equal
    (graph/analytics.py:clustering_coefficient)."""
    from map_reduce_project_spark.graph.analytics import (
        clustering_coefficient,
    )

    li = read_table(spark, sf_dir, "lineitem")
    # co-supplier projection on low-key parts (bounded fan-out slice)
    pairs = (
        li.where(F.col("l_partkey") <= 200)
        .select("l_partkey", "l_suppkey")
        .dropDuplicates()
    )
    a = pairs.selectExpr("l_partkey as pk", "l_suppkey as sa")
    b = pairs.selectExpr("l_partkey as pk", "l_suppkey as sb")
    edges = (
        a.join(b, "pk")
        .where(F.col("sa") < F.col("sb"))
        .select(
            F.concat(F.lit("s:"), F.col("sa")).alias("src"),
            F.concat(F.lit("s:"), F.col("sb")).alias("dst"),
        )
        .dropDuplicates()
    )
    return clustering_coefficient(edges)


CLUSTERING_SQL = """
WITH ps AS (
  SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk
  FROM lineitem WHERE l_partkey <= 200
), e AS (
  SELECT DISTINCT 's:' || a.sk AS a, 's:' || b.sk AS b
  FROM ps a JOIN ps b ON a.pk = b.pk AND a.sk < b.sk
), und AS (
  SELECT a AS node, b AS other FROM e UNION ALL SELECT b, a FROM e
), deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM und GROUP BY node
), tri AS (
  SELECT ab.a AS u, ab.b AS v, bc.b AS w
  FROM e ab JOIN e bc ON ab.b = bc.a
  JOIN e ac ON ac.a = ab.a AND ac.b = bc.b
), at_node AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
    SELECT u AS node FROM tri
    UNION ALL SELECT v FROM tri
    UNION ALL SELECT w FROM tri
  ) GROUP BY node
)
SELECT deg.node, deg.deg,
  CAST(COALESCE(at_node.n_triangles, 0) AS BIGINT) AS n_triangles,
  CASE WHEN deg.deg < 2 THEN 0.0
       ELSE CAST(COALESCE(at_node.n_triangles, 0) AS DOUBLE)
            / (CAST(deg.deg AS DOUBLE) * (deg.deg - 1) / 2)
  END AS coeff
FROM deg LEFT JOIN at_node ON at_node.node = deg.node
"""


def cc_degree_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-binned degree distribution of the part-supplier bipartite
    graph — the profiling pass that decides hub-skew strategy before
    an iterative job (window vs join CCF path, salting, AQE hints).
    The bucket is LENGTH(bin(degree)) - 1 = floor(log2): pure
    integer/string arithmetic, no float log to misround at bucket
    edges. One degree aggregate + one bucket aggregate."""
    und = _part_supplier_edges(spark, sf_dir)
    deg = (
        und.select(F.col("src").alias("node"))
        .unionAll(und.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("deg"))
    )
    bucket = (F.length(F.bin(F.col("deg"))) - 1).cast("long")
    return deg.groupBy(bucket.alias("log2_bucket")).agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.min("deg").alias("min_deg"),
        F.max("deg").alias("max_deg"),
    )


DEGREE_PROFILE_SQL = """
WITH e AS (
  SELECT DISTINCT 'p:' || l_partkey AS src, 's:' || l_suppkey AS dst
  FROM lineitem
), deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
    SELECT src AS node FROM e UNION ALL SELECT dst FROM e
  ) GROUP BY node
)
SELECT CAST(LENGTH(bin(deg)) - 1 AS BIGINT) AS log2_bucket,
  CAST(COUNT(*) AS BIGINT) AS n_nodes,
  CAST(MIN(deg) AS BIGINT) AS min_deg,
  CAST(MAX(deg) AS BIGINT) AS max_deg
FROM deg GROUP BY 1
"""

QUERIES = [
    Query("lpa_communities", lpa_communities, LPA_SQL, "deterministic synchronous label-propagation communities vs unrolled mode oracle (exact)"),
    Query("kcore_part_supplier", kcore_part_supplier, KCORE_SQL, "k-core decomposition by synchronous peeling vs lockstep recursive-CTE oracle (exact)"),
    Query("cc_orders_bipartite", cc_orders_bipartite, CC_ORDERS_SQL, "CCF fixed point, bipartite flagship (exact oracle)"),
    Query("cc_orders_summary", cc_orders_summary, CC_SUMMARY_SQL, "component membership summary w/ representative re-add"),
    Query("cc_part_supplier", cc_part_supplier, CC_PART_SUPPLIER_SQL, "CCF multi-iteration fixed point vs min-label-propagation oracle (exact)"),
    Query("cc_star_orders_bipartite", cc_star_orders_bipartite, CC_ORDERS_SQL, "large-star/small-star CC, O(log n) rounds (exact oracle)"),
    Query("cc_star_reliable_orders", cc_star_reliable_orders, CC_ORDERS_SQL, "algorithm='star' dispatch + reliable parquet-barrier rounds (exact oracle)"),
    Query("cc_triangles", cc_triangles_q, CC_TRIANGLES_SQL, "degree-ordered triangle count of the co-purchase graph"),
    Query("cc_component_sizes", cc_component_sizes, CC_SIZES_SQL, "component size histogram"),
    Query("bfs_part_supplier", bfs_part_supplier, BFS_SQL, "multi-source BFS hops vs recursive-CTE oracle (exact)"),
    Query("pagerank_part_supplier", pagerank_part_supplier, PAGERANK_SQL, "int64 fixed-point PageRank vs recursive-CTE oracle (exact)"),
    Query("sssp_part_supplier", sssp_part_supplier, SSSP_SQL, "bounded Bellman-Ford weighted SSSP vs recursive-CTE oracle (exact)"),
    Query("cc_clustering_coeff", cc_clustering_coeff, CLUSTERING_SQL, "per-node local clustering coefficient, orientation-invariant triangle counts"),
    Query("cc_degree_profile", cc_degree_profile, DEGREE_PROFILE_SQL, "log2-binned degree distribution (hub-skew profiling pass)"),
]


def cc_assortativity_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman 2002): the Pearson correlation of
    endpoint degrees over every directed edge — one number telling
    whether hubs attach to hubs (r > 0) or to leaves (r < 0), the
    standard first diagnostic before choosing a partitioning strategy
    for an unknown graph.

    All five moment sums (M, Σx, Σy, Σxy, Σx², Σy²) are exact int64
    aggregates over the both-orientations edge list; r is one IEEE
    expression of those integers, so the statistic is engine-exact.
    Plan: one degree agg + two broadcastable degree joins + one global
    agg — no window, no driver loop.
    """
    e = _part_supplier_edges(spark, sf_dir)
    und = e.unionAll(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    deg = und.groupBy("src").agg(F.count("*").alias("deg"))
    du = deg.selectExpr("src", "deg as dx")
    dv = deg.selectExpr("src as dst", "deg as dy")
    pairs = und.join(du, "src").join(dv, "dst")
    s = pairs.agg(
        F.count("*").alias("m"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
    )
    num = (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = F.sqrt(
        (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    ) * F.sqrt(
        (F.col("m") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    return s.select(
        F.col("m").cast("long").alias("m"),
        (num / den).alias("assortativity"),
    )


ASSORT_SQL = """
WITH e AS (
  SELECT DISTINCT 'p:' || l_partkey AS src, 's:' || l_suppkey AS dst
  FROM lineitem
),
und AS (
  SELECT src, dst FROM e
  UNION ALL
  SELECT dst AS src, src AS dst FROM e
),
deg AS (SELECT src, COUNT(*) AS deg FROM und GROUP BY src),
pairs AS (
  SELECT dx.deg AS dx, dy.deg AS dy
  FROM und
  JOIN deg dx ON dx.src = und.src
  JOIN deg dy ON dy.src = und.dst
),
s AS (
  SELECT COUNT(*) AS m,
         CAST(SUM(dx) AS BIGINT) AS sx, CAST(SUM(dy) AS BIGINT) AS sy,
         CAST(SUM(dx * dy) AS BIGINT) AS sxy,
         CAST(SUM(dx * dx) AS BIGINT) AS sxx,
         CAST(SUM(dy * dy) AS BIGINT) AS syy
  FROM pairs
)
SELECT CAST(m AS BIGINT) AS m,
  CAST(m * sxy - sx * sy AS DOUBLE)
  / (SQRT(CAST(m * sxx - sx * sx AS DOUBLE)) * SQRT(CAST(m * syy - sy * sy AS DOUBLE)))
    AS assortativity
FROM s
"""

QUERIES.append(
    Query(
        "cc_assortativity",
        cc_assortativity_q,
        ASSORT_SQL,
        "degree assortativity from exact int64 moment sums, engine-exact Pearson r",
    )
)


def cc_link_prediction_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction on the bipartite projection:
    for every part pair sharing >= 2 suppliers, the shared-supplier
    count and the Jaccard score cn / (deg_a + deg_b - cn) — the
    classic co-occurrence recommender / link-prediction feature.

    The projection of a dense bipartite graph is near-complete, so the
    output is cut to each part's TOP-5 neighbours (cn desc, id
    tiebreak) — the shape a production recommender actually stores.

    Plan: self-join the edge list on the shared supplier (shuffle key
    = supplier), count per pair, two broadcastable degree joins, one
    per-p1 top-k window. Cost is Σ deg(s)² — bounded per supplier,
    embarrassingly parallel across suppliers; a hub supplier is
    exactly the AQE skew-split case, and a degree cap (drop
    promiscuous hubs, standard in production recommenders) bounds the
    worst case.
    """
    from pyspark.sql.window import Window

    # the supplier self-join emits Σ deg(s)² pair rows (~350M at
    # sf0.1) — every byte and hash of the key matters, so the ENTIRE
    # hot path runs on raw int64 part/supplier keys; the 'p:' display
    # prefix is applied to the five final rows per part only. Pair
    # orientation and the top-5 tiebreak are NUMERIC part order
    # (matching oracle), not lexicographic over the prefixed strings.
    li = read_table(spark, sf_dir, "lineitem")
    e = li.select(
        F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
    ).dropDuplicates()
    # promiscuous-hub cap: suppliers above the degree cap are dropped
    # BEFORE the self-join (their pairs are the deg² blowup and carry
    # no signal — every part co-occurs with everything through them).
    # 10k never triggers at gate scale, so the gated result is the
    # uncapped one; the oracle applies the same filter.
    hub_cap = 10_000
    degs = e.groupBy("s").agg(F.count("*").alias("_d"))
    ok = degs.where(F.col("_d") <= hub_cap).select("s")
    e = e.join(ok, "s", "left_semi")
    # volume-adaptive shuffle sizing: the self-join emits exactly
    # Σ C(deg_s, 2) ordered pair rows — measure it with one tiny agg
    # and size BOTH the join and the pair-count exchanges to ~2M rows
    # per partition. At sf0.1 that is ~350M pairs -> ~176 partitions;
    # at the default 8-partition vanilla session each partition would
    # hold 44M pair rows and the pair-count hash agg OOMs a 1 GB
    # local heap. Explicit repartition(n, keys) is AQE-stable (AQE
    # never coalesces a user-numbered exchange), so the same plan is
    # what a 1000-executor run wants: partitions bounded by ROWS, not
    # by executor count.
    pair_vol = (
        degs.where(F.col("_d") <= hub_cap)
        .agg(
            F.sum(
                (F.col("_d") * (F.col("_d") - 1) / 2).cast("long")
            ).alias("v")
        )
        .collect()[0]["v"]
        or 0
    )
    n_shuf = max(
        spark.sparkContext.defaultParallelism,
        min(4096, int(pair_vol // 2_000_000) + 1),
    )
    e = e.repartition(n_shuf, "s")
    a = e.selectExpr("s", "p as p1")
    b = e.selectExpr("s", "p as p2")
    cn = (
        a.join(b, "s")
        .where(F.col("p1") < F.col("p2"))
        .repartition(n_shuf, "p1", "p2")
        .groupBy("p1", "p2")
        .agg(F.count("*").alias("cn"))
        .where(F.col("cn") >= 2)
    )
    deg = e.groupBy("p").agg(F.count("*").alias("deg"))
    d1 = deg.selectExpr("p as p1", "deg as deg1")
    d2 = deg.selectExpr("p as p2", "deg as deg2")
    w = Window.partitionBy("p1").orderBy(F.col("cn").desc(), "p2")
    return (
        cn.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 5)
        .join(d1, "p1")
        .join(d2, "p2")
        .select(
            F.concat(F.lit("p:"), F.col("p1")).alias("p1"),
            F.concat(F.lit("p:"), F.col("p2")).alias("p2"),
            "rank",
            F.col("cn").cast("long").alias("cn"),
            F.col("deg1").cast("long").alias("deg1"),
            F.col("deg2").cast("long").alias("deg2"),
            (
                F.col("cn").cast("double")
                / (F.col("deg1") + F.col("deg2") - F.col("cn")).cast("double")
            ).alias("jaccard"),
        )
    )


LINKPRED_SQL = """
WITH e0 AS (
  SELECT DISTINCT l_partkey AS p, l_suppkey AS s
  FROM lineitem
),
ok AS (SELECT s FROM e0 GROUP BY s HAVING COUNT(*) <= 10000),
e AS (SELECT p, s FROM e0 JOIN ok USING (s)),
cn AS (
  SELECT a.p AS p1, b.p AS p2, COUNT(*) AS cn
  FROM e a JOIN e b ON a.s = b.s
  WHERE a.p < b.p
  GROUP BY a.p, b.p
  HAVING COUNT(*) >= 2
),
topk AS (
  SELECT p1, p2, cn,
         CAST(ROW_NUMBER() OVER (PARTITION BY p1 ORDER BY cn DESC, p2) AS BIGINT) AS rank
  FROM cn
),
deg AS (SELECT p, COUNT(*) AS deg FROM e GROUP BY p)
SELECT 'p:' || p1 AS p1, 'p:' || p2 AS p2, rank, CAST(cn AS BIGINT) AS cn,
       CAST(d1.deg AS BIGINT) AS deg1, CAST(d2.deg AS BIGINT) AS deg2,
       CAST(cn AS DOUBLE) / CAST(d1.deg + d2.deg - cn AS DOUBLE) AS jaccard
FROM topk
JOIN deg d1 ON d1.p = topk.p1
JOIN deg d2 ON d2.p = topk.p2
WHERE rank <= 5
"""

QUERIES.append(
    Query(
        "cc_link_prediction",
        cc_link_prediction_q,
        LINKPRED_SQL,
        "common-neighbor + Jaccard link prediction on the bipartite projection",
    )
)


def ppr_part_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (5 rounds, d=0.85) seeded at nation-0
    suppliers — proximity-to-seed ranking over the part-supplier
    graph, exact int64 (graph/analytics.py:personalized_pagerank_int)
    vs a recursive-CTE oracle running the same integer rounds. The
    third iterative algorithm family under the exact hash gate
    (after min-label CC and uniform PageRank)."""
    from map_reduce_project_spark.graph.analytics import (
        personalized_pagerank_int,
    )

    supplier = read_table(spark, sf_dir, "supplier")
    # seed nation = the smallest nation present (nation 0 has no
    # suppliers at the smallest SF) — a metadata-sized scalar
    min_nation = supplier.agg(F.min("s_nationkey")).collect()[0][0]
    seeds = supplier.where(F.col("s_nationkey") == min_nation).select(
        F.concat(F.lit("s:"), F.col("s_suppkey")).alias("node")
    )
    return personalized_pagerank_int(
        _part_supplier_edges(spark, sf_dir), seeds, iterations=5
    )


PPR_SQL = """
WITH RECURSIVE e AS (
  SELECT DISTINCT 'p:' || l_partkey AS src, 's:' || l_suppkey AS dst
  FROM lineitem
), und AS (
  SELECT src, dst FROM e UNION SELECT dst, src FROM e
), deg AS (
  SELECT src AS node, COUNT(*) AS deg FROM und GROUP BY src
), seeds AS (
  SELECT DISTINCT 's:' || s_suppkey AS node
  FROM supplier
  WHERE s_nationkey = (SELECT MIN(s_nationkey) FROM supplier)
), consts AS (
  SELECT CAST(1000000000000 // COUNT(*) AS BIGINT) AS init,
         CAST((15 * (1000000000000 // COUNT(*))) // 100 AS BIGINT) AS tp
  FROM seeds
), pr AS (
  SELECT 0 AS it, d.node,
         CASE WHEN s.node IS NOT NULL THEN (SELECT init FROM consts)
              ELSE CAST(0 AS BIGINT) END AS rank
  FROM deg d LEFT JOIN seeds s ON s.node = d.node
  UNION ALL
  SELECT pr.it + 1 AS it, und.dst AS node,
         CASE WHEN und.dst IN (SELECT node FROM seeds)
              THEN (SELECT tp FROM consts) ELSE CAST(0 AS BIGINT) END
         + (85 * SUM(pr.rank // deg.deg)) // 100 AS rank
  FROM pr
  JOIN deg ON deg.node = pr.node
  JOIN und ON und.src = pr.node
  WHERE pr.it < 5
  GROUP BY pr.it, und.dst
)
SELECT node, rank FROM pr WHERE it = 5
"""

QUERIES.append(
    Query(
        "ppr_part_supplier",
        ppr_part_supplier,
        PPR_SQL,
        "personalized PageRank from seed suppliers, exact int64 vs recursive-CTE oracle",
    )
)


def closeness_part_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closeness centrality of every 25th supplier over the
    part-supplier graph via SIMULTANEOUS per-seed BFS (one frontier
    loop for all seeds, keyed on (seed, node) —
    graph/analytics.py:per_seed_bfs), hash-exact against a DuckDB
    recursive CTE carrying the seed through the walk. Integer hop
    sums are summation-order-free; closeness is one IEEE division."""
    from map_reduce_project_spark.graph.analytics import (
        closeness_centrality,
    )

    li = read_table(spark, sf_dir, "lineitem")
    seeds = (
        li.where(F.col("l_suppkey") % 25 == 0)
        .select(F.concat(F.lit("s:"), F.col("l_suppkey")).alias("node"))
        .distinct()
    )
    return closeness_centrality(
        _part_supplier_edges(spark, sf_dir), seeds, max_hops=6
    )


CLOSENESS_SQL = """
WITH RECURSIVE e AS (
  SELECT DISTINCT 'p:' || l_partkey AS src, 's:' || l_suppkey AS dst
  FROM lineitem
), und AS (
  SELECT src, dst FROM e UNION SELECT dst, src FROM e
), walk AS (
  SELECT DISTINCT 's:' || l_suppkey AS seed, 's:' || l_suppkey AS node,
         0 AS hop
  FROM lineitem WHERE l_suppkey % 25 = 0
  UNION
  SELECT walk.seed, und.dst AS node, walk.hop + 1 AS hop
  FROM walk JOIN und ON und.src = walk.node
  WHERE walk.hop < 6
), d AS (
  SELECT seed, node, MIN(hop) AS hop FROM walk GROUP BY seed, node
)
SELECT seed,
  CAST(COUNT(*) AS BIGINT) AS n_reached,
  CAST(SUM(hop) AS BIGINT) AS total_hops,
  CAST(COUNT(*) - 1 AS DOUBLE) / CAST(SUM(hop) AS DOUBLE) AS closeness
FROM d
GROUP BY seed
HAVING SUM(hop) > 0
"""

QUERIES.append(
    Query(
        "closeness_part_supplier",
        closeness_part_supplier,
        CLOSENESS_SQL,
        "simultaneous per-seed BFS closeness centrality vs recursive-CTE oracle",
    )
)


def cc_incremental_part_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental CC maintenance under the exact gate: compute the
    mapping on the OLD part-supplier edges (l_partkey % 5 != 0), then
    fold the DELTA (% 5 == 0) in via
    ``connected_components_incremental`` — the old mapping's star
    edges replace the old graph, so the delta run's convergence is
    independent of the old graph's diameter. The oracle is the full
    recompute over ALL edges (the same recursive-CTE min-label
    oracle), which is exactly the claim: incremental == full."""
    from map_reduce_project_spark.graph.ccf import (
        connected_components_incremental,
    )

    li = read_table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.concat(F.lit("p:"), F.col("l_partkey")).alias("src"),
        F.concat(F.lit("s:"), F.col("l_suppkey")).alias("dst"),
        F.col("l_partkey").alias("pk"),
    ).dropDuplicates(["src", "dst"])
    old = edges.where(F.col("pk") % 5 != 0).select("src", "dst")
    delta = edges.where(F.col("pk") % 5 == 0).select("src", "dst")
    base = connected_components(old)
    return connected_components_incremental(base.mapping, delta).mapping


CC_INCREMENTAL_SQL = CC_PART_SUPPLIER_SQL

QUERIES.append(
    Query(
        "cc_incremental_part_supplier",
        cc_incremental_part_supplier,
        CC_INCREMENTAL_SQL,
        "incremental CC (old mapping + delta edges) == full recompute oracle",
    )
)


def cc_diameter_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph diameter lower bound by the classic DOUBLE SWEEP: BFS
    from a deterministic pivot (lexicographic min node), take the
    farthest node (tie -> min), BFS again from it — the second
    sweep's eccentricity is a tight diameter lower bound (exact on
    trees). Each sweep is a SINGLE-seed BFS, so it runs the
    single-frontier ``bfs_hops`` loop (node-keyed state — for k=1 the
    per-seed machinery buys nothing and costs a wider key per level);
    no collect — the second sweep's seed is a 1-row DataFrame
    computed from the first. Oracle: the same two walks as recursive
    CTEs."""
    from map_reduce_project_spark.graph.analytics import (
        _bfs_hops_on,
        canonical_undirected,
    )

    # round 12: build + pin the adjacency ONCE for the pivot scan and
    # both sweeps (each bfs_hops(edges, ...) call re-canonicalized it)
    edges = _part_supplier_edges(spark, sf_dir)
    und = canonical_undirected(edges).localCheckpoint(eager=True)
    pivot = und.agg(F.min("src").alias("node"))
    d1 = _bfs_hops_on(
        und, pivot.select("node").distinct().withColumn("hop", F.lit(0)), 12
    )
    far = (
        d1.orderBy(F.col("hop").desc(), "node")
        .limit(1)
        .select("node")
    )
    d2 = _bfs_hops_on(
        und, far.select("node").distinct().withColumn("hop", F.lit(0)), 12
    )
    ecc = d2.agg(F.max("hop").cast("long").alias("diameter_lb"))
    return (
        pivot.select(F.col("node").alias("pivot_node"))
        .crossJoin(far.select(F.col("node").alias("far_node")))
        .crossJoin(ecc)
    )


CC_DIAMETER_SQL = """
WITH RECURSIVE e AS (
  SELECT DISTINCT 'p:' || l_partkey AS src, 's:' || l_suppkey AS dst
  FROM lineitem
), und AS (
  SELECT src, dst FROM e UNION SELECT dst, src FROM e
), pv AS (
  SELECT MIN(src) AS n FROM und
), w1 AS (
  SELECT n AS node, 0 AS hop FROM pv
  UNION
  SELECT und.dst AS node, w1.hop + 1 AS hop
  FROM w1 JOIN und ON und.src = w1.node
  WHERE w1.hop < 12
), d1 AS (
  SELECT node, MIN(hop) AS hop FROM w1 GROUP BY node
), far AS (
  SELECT node FROM d1 ORDER BY hop DESC, node LIMIT 1
), w2 AS (
  SELECT node, 0 AS hop FROM far
  UNION
  SELECT und.dst AS node, w2.hop + 1 AS hop
  FROM w2 JOIN und ON und.src = w2.node
  WHERE w2.hop < 12
), d2 AS (
  SELECT node, MIN(hop) AS hop FROM w2 GROUP BY node
)
SELECT (SELECT n FROM pv) AS pivot_node,
       (SELECT node FROM far) AS far_node,
       CAST((SELECT MAX(hop) FROM d2) AS BIGINT) AS diameter_lb
"""

QUERIES.append(
    Query(
        "cc_diameter_estimate",
        cc_diameter_estimate,
        CC_DIAMETER_SQL,
        "double-sweep diameter lower bound, both sweeps vs recursive-CTE walks",
    )
)


def hits_part_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS over the directed part->supplier graph: 3 exact-int64
    rounds (graph/analytics.py:hits_int), hubs on the part side and
    authorities on the supplier side, vs a DuckDB oracle unrolling
    the same two aggregations per round."""
    from map_reduce_project_spark.graph.analytics import hits_int

    return hits_int(_part_supplier_edges(spark, sf_dir), rounds=3)


HITS_SQL = """
WITH e AS (
  SELECT DISTINCT 'p:' || l_partkey AS src, 's:' || l_suppkey AS dst
  FROM lineitem
),
h1 AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS h FROM e GROUP BY src),
a1 AS (SELECT e.dst, CAST(SUM(h1.h) AS BIGINT) AS a
       FROM e JOIN h1 USING (src) GROUP BY e.dst),
h2 AS (SELECT e.src, CAST(SUM(a1.a) AS BIGINT) AS h
       FROM e JOIN a1 USING (dst) GROUP BY e.src),
a2 AS (SELECT e.dst, CAST(SUM(h2.h) AS BIGINT) AS a
       FROM e JOIN h2 USING (src) GROUP BY e.dst),
h3 AS (SELECT e.src, CAST(SUM(a2.a) AS BIGINT) AS h
       FROM e JOIN a2 USING (dst) GROUP BY e.src),
a3 AS (SELECT e.dst, CAST(SUM(h3.h) AS BIGINT) AS a
       FROM e JOIN h3 USING (src) GROUP BY e.dst)
SELECT src AS node, h AS score, 'hub' AS kind FROM h3
UNION ALL
SELECT dst AS node, a AS score, 'authority' AS kind FROM a3
"""

QUERIES.append(
    Query(
        "hits_part_supplier",
        hits_part_supplier,
        HITS_SQL,
        "HITS hubs/authorities, 3 exact-int rounds vs unrolled-CTE oracle",
    )
)


def graph_walks_part_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic random walks (DeepWalk corpus stage) from every
    40th part over the part-supplier graph: 3 steps, neighbor chosen
    by md5(start|step|node) % degree against the row_number-ranked
    adjacency (graph/analytics.py:deterministic_walks). The oracle
    unrolls the same three joins, so the draw arithmetic, neighbor
    ranking, AND walk reproducibility are hash-pinned."""
    from map_reduce_project_spark.graph.analytics import (
        deterministic_walks,
    )

    li = read_table(spark, sf_dir, "lineitem")
    seeds = (
        li.where(F.col("l_partkey") % 40 == 0)
        .select(F.concat(F.lit("p:"), F.col("l_partkey")).alias("node"))
        .distinct()
    )
    return deterministic_walks(
        _part_supplier_edges(spark, sf_dir), seeds, steps=3
    )


def _walk_step_sql(t: int) -> str:
    return f"""
s{t} AS (
  SELECT s{t - 1}.start, a.nbr AS node, CAST({t} AS BIGINT) AS step
  FROM s{t - 1}
  JOIN deg d ON d.node = s{t - 1}.node
  JOIN adj a ON a.node = s{t - 1}.node
   AND a.rn = 1 + ('0x' || substr(md5('walk|' || s{t - 1}.start
                                      || '|{t}|' || s{t - 1}.node),
                                  1, 8))::BIGINT % d.deg
)"""


GRAPH_WALKS_SQL = (
    """
WITH e AS (
  SELECT DISTINCT 'p:' || l_partkey AS src, 's:' || l_suppkey AS dst
  FROM lineitem
), und AS (
  SELECT src, dst FROM e UNION SELECT dst, src FROM e
), adj AS (
  SELECT src AS node, dst AS nbr,
         ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) AS rn
  FROM und
), deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM adj GROUP BY node
), s0 AS (
  SELECT DISTINCT 'p:' || l_partkey AS start, 'p:' || l_partkey AS node,
         CAST(0 AS BIGINT) AS step
  FROM lineitem WHERE l_partkey % 40 = 0
),"""
    + ",".join(_walk_step_sql(t) for t in (1, 2, 3))
    + """
SELECT start, node, step FROM s0
UNION ALL SELECT start, node, step FROM s1
UNION ALL SELECT start, node, step FROM s2
UNION ALL SELECT start, node, step FROM s3
"""
)

QUERIES.append(
    Query(
        "graph_walks_part_supplier",
        graph_walks_part_supplier,
        GRAPH_WALKS_SQL,
        "deterministic DeepWalk-style walks (md5-draw per step) vs unrolled oracle",
    )
)


def harmonic_part_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic centrality of the probe seeds — sum of 1/d over
    reached nodes, the centrality that handles disconnected graphs
    gracefully — kept EXACT by scaling: with max_hops=6 every
    distance divides 60, so score_x60 = sum(60/d) is pure int64 (the
    same exact-rational trick as the attribution credits). Reuses the
    simultaneous per-seed BFS; one aggregate per seed."""
    from map_reduce_project_spark.graph.analytics import per_seed_bfs

    li = read_table(spark, sf_dir, "lineitem")
    seeds = (
        li.where(F.col("l_suppkey") % 25 == 0)
        .select(F.concat(F.lit("s:"), F.col("l_suppkey")).alias("node"))
        .distinct()
    )
    d = per_seed_bfs(
        _part_supplier_edges(spark, sf_dir), seeds, max_hops=6
    ).where(F.col("hop") > 0)
    return d.groupBy("seed").agg(
        F.count("*").cast("long").alias("n_reached"),
        F.sum(F.expr("60 div hop")).cast("long").alias("harmonic_x60"),
    )


HARMONIC_SQL = """
WITH RECURSIVE e AS (
  SELECT DISTINCT 'p:' || l_partkey AS src, 's:' || l_suppkey AS dst
  FROM lineitem
), und AS (
  SELECT src, dst FROM e UNION SELECT dst, src FROM e
), walk AS (
  SELECT DISTINCT 's:' || l_suppkey AS seed, 's:' || l_suppkey AS node,
         0 AS hop
  FROM lineitem WHERE l_suppkey % 25 = 0
  UNION
  SELECT walk.seed, und.dst AS node, walk.hop + 1 AS hop
  FROM walk JOIN und ON und.src = walk.node
  WHERE walk.hop < 6
), d AS (
  SELECT seed, node, MIN(hop) AS hop FROM walk GROUP BY seed, node
)
SELECT seed,
  CAST(COUNT(*) AS BIGINT) AS n_reached,
  CAST(SUM(60 // hop) AS BIGINT) AS harmonic_x60
FROM d
WHERE hop > 0
GROUP BY seed
"""

QUERIES.append(
    Query(
        "harmonic_part_supplier",
        harmonic_part_supplier,
        HARMONIC_SQL,
        "harmonic centrality, exact via the x60 scaling (every 1/d integer)",
    )
)


def cc_streaming_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING graph maintenance end-to-end: the flagship edge list
    is split into 4 parquet files, replayed as a file stream one file
    per microbatch, and ``foreachBatch`` folds each batch into the
    living (node, component) mapping with
    ``connected_components_incremental`` — batch 0 bootstraps with a
    full CC, every later batch unions the mapping's star edges with
    the new arrivals, so per-batch cost tracks the DELTA, not the
    accumulated graph. The final mapping is gated against the same
    oracle as the batch flagship: CC is confluent (edge arrival order
    cannot change the fixed point), which is exactly what makes
    incremental streaming maintenance sound. This is the production
    pattern for a graph that grows by event feed. The mapping here is
    driver-held (single gate run); the crash-restartable variant that
    persists each generation and survives a driver loss is
    ``streaming.sinks.durable_incremental_cc_fold``, pinned by the
    crash-mid-batch restart test."""
    import shutil
    import tempfile
    import uuid

    from map_reduce_project_spark.graph.ccf import (
        connected_components_incremental,
    )
    from map_reduce_project_spark.graph.checkpointing import CheckpointCycler

    edges = _order_edges(spark, sf_dir)
    src_dir = tempfile.mkdtemp(prefix="cc_stream_edges_")
    edges.repartition(4).write.mode("overwrite").parquet(src_dir)
    schema = spark.read.parquet(src_dir).schema

    state: dict = {"mapping": None}
    # Dataset.unpersist() is a no-op for localCheckpoint blocks (they
    # are RDD-level persists, not cache-manager entries); the cycler
    # releases exactly the superseded generation's RDD blocks, so a
    # long-running stream holds ONE mapping generation, not one per
    # microbatch.
    cycler = CheckpointCycler(spark)

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if state["mapping"] is None:
            res = connected_components(batch_df)
        else:
            res = connected_components_incremental(
                state["mapping"], batch_df
            )
        # pin across microbatches (batch_df is only valid inside this
        # call; the mapping must outlive it)
        state["mapping"] = res.mapping.localCheckpoint(eager=True)
        cycler.cycle(state["mapping"])

    checkpoint = tempfile.mkdtemp(prefix="cc_stream_ckpt_")
    try:
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
            .writeStream.foreachBatch(fold)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .queryName(f"ccinc_{uuid.uuid4().hex[:8]}")
            .start()
        )
        q.awaitTermination()
    finally:
        # the final mapping is a localCheckpoint — independent of the
        # staged source files and the stream's checkpoint state
        shutil.rmtree(src_dir, ignore_errors=True)
        shutil.rmtree(checkpoint, ignore_errors=True)
    assert state["mapping"] is not None
    return state["mapping"]


QUERIES.append(
    Query(
        "cc_streaming_incremental",
        cc_streaming_incremental,
        CC_ORDERS_SQL,
        "foreachBatch incremental CC over a 4-batch edge stream == batch oracle",
    )
)


def _ktruss_unrolled_sql(rounds: int, k: int) -> str:
    """Unrolled k-truss peeling oracle: recursive CTEs allow only ONE
    reference to the recursive term, and triangle support needs a
    3-way self-join, so the peel is unrolled round by round (the same
    trick as the HITS oracle). ``rounds`` must be >= the engine's
    convergence round at gate scale; extra rounds are no-ops at the
    fixed point, so over-provisioning is safe. Every CTE is
    MATERIALIZED: DuckDB inlines plain CTEs, and each round
    references its predecessor four times, so inlining would expand
    the plan 4^rounds-fold."""
    out = [
        """WITH ip AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e0 AS MATERIALIZED (
  SELECT DISTINCT CAST(x.l_partkey AS BIGINT) AS src,
                  CAST(y.l_partkey AS BIGINT) AS dst
  FROM ip x JOIN ip y USING (l_orderkey)
  WHERE x.l_partkey < y.l_partkey
)"""
    ]
    for r in range(rounds):
        out.append(
            f""",
tri{r} AS MATERIALIZED (
  SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
  FROM e{r} e1
  JOIN e{r} e2 ON e2.src = e1.dst
  JOIN e{r} e3 ON e3.src = e1.src AND e3.dst = e2.dst
),
sup{r} AS MATERIALIZED (
  SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS support FROM (
    SELECT u AS src, v AS dst FROM tri{r} UNION ALL
    SELECT v AS src, w AS dst FROM tri{r} UNION ALL
    SELECT u AS src, w AS dst FROM tri{r}
  ) GROUP BY 1, 2
),
e{r + 1} AS MATERIALIZED (
  SELECT e.src, e.dst FROM e{r} e
  JOIN sup{r} s ON s.src = e.src AND s.dst = e.dst
  WHERE s.support >= {k - 2}
)"""
        )
    out.append(
        f"""
SELECT e.src, e.dst, s.support
FROM e{rounds - 1} e
JOIN sup{rounds - 1} s ON s.src = e.src AND s.dst = e.dst
WHERE s.support >= {k - 2}"""
    )
    return "".join(out)


def ktruss_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """11-truss of the co-purchase graph (parts appearing in the same
    order): every surviving edge sits in >= 9 triangles WITHIN the
    surviving subgraph — the cohesion mining rung above k-core
    (degree bounds admit hub-spoke stars; shared-neighborhood bounds
    do not). Synchronous peeling (graph/analytics.py:k_truss) with
    per-round degree-oriented triangle enumeration; the oracle
    unrolls 8 peel rounds (convergence at gate scale is round <= 6;
    later rounds are fixed-point no-ops). Exact: supports are integer
    counts, the truss is unique."""
    from map_reduce_project_spark.graph.analytics import k_truss

    li = read_table(spark, sf_dir, "lineitem")
    ip = li.select("l_orderkey", "l_partkey").dropDuplicates()
    edges = (
        ip.alias("x")
        .join(ip.alias("y"), "l_orderkey")
        .where(F.col("x.l_partkey") < F.col("y.l_partkey"))
        .select(
            F.col("x.l_partkey").cast("long").alias("src"),
            F.col("y.l_partkey").cast("long").alias("dst"),
        )
    )
    return k_truss(edges, k=11, max_rounds=10)


KTRUSS_SQL = _ktruss_unrolled_sql(rounds=8, k=11)

QUERIES.append(
    Query(
        "ktruss_copurchase",
        ktruss_copurchase,
        KTRUSS_SQL,
        "11-truss by synchronous peeling vs 8-round unrolled triangle-support oracle",
    )
)


def _sigma_unrolled_sql(max_hops: int) -> str:
    """Shortest-path-count oracle: distances via a recursive CTE, then
    the sigma DP unrolled level by level (the recursive form cannot
    aggregate over the recursive term). MATERIALIZED, same reason as
    the k-truss oracle."""
    head = """WITH RECURSIVE e AS (
  SELECT DISTINCT 'p:' || l_partkey AS src, 's:' || l_suppkey AS dst
  FROM lineitem
), und AS (
  SELECT src, dst FROM e UNION SELECT dst, src FROM e
), walk AS (
  SELECT DISTINCT 's:' || l_suppkey AS seed, 's:' || l_suppkey AS node,
         0 AS hop
  FROM lineitem WHERE l_suppkey % 25 = 0
  UNION
  SELECT walk.seed, und.dst AS node, walk.hop + 1 AS hop
  FROM walk JOIN und ON und.src = walk.node
  WHERE walk.hop < {H}
), d AS MATERIALIZED (
  SELECT seed, node, MIN(hop) AS hop FROM walk GROUP BY 1, 2
),
p0 AS MATERIALIZED (
  SELECT seed, node, CAST(1 AS BIGINT) AS n_paths FROM d WHERE hop = 0
)""".format(H=max_hops)
    levels = []
    for t in range(1, max_hops + 1):
        levels.append(
            f""",
p{t} AS MATERIALIZED (
  SELECT p.seed, und.dst AS node,
         CAST(SUM(p.n_paths) AS BIGINT) AS n_paths
  FROM p{t - 1} p JOIN und ON und.src = p.node
  JOIN d ON d.seed = p.seed AND d.node = und.dst AND d.hop = {t}
  GROUP BY 1, 2
)"""
        )
    union = "\nUNION ALL ".join(
        f"SELECT seed, node, CAST({t} AS BIGINT) AS hop, n_paths FROM p{t}"
        for t in range(max_hops + 1)
    )
    return head + "".join(levels) + "\n" + union


def sigma_part_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shortest-path COUNTS (Brandes' sigma stage) from the supplier
    probe seeds over the part-supplier bipartite graph, 4 hops: the
    betweenness building block, run the way betweenness is estimated
    at scale — sampled sources, never all-pairs. Exact int64 path
    counts (max ~6k at gate scale, far inside the bound), so the
    level-synchronous DP (graph/analytics.py:shortest_path_counts)
    hash-matches the unrolled oracle bit for bit."""
    from map_reduce_project_spark.graph.analytics import (
        shortest_path_counts,
    )

    li = read_table(spark, sf_dir, "lineitem")
    seeds = (
        li.where(F.col("l_suppkey") % 25 == 0)
        .select(F.concat(F.lit("s:"), F.col("l_suppkey")).alias("node"))
        .distinct()
    )
    return shortest_path_counts(
        _part_supplier_edges(spark, sf_dir), seeds, max_hops=4
    )


SIGMA_SQL = _sigma_unrolled_sql(max_hops=4)

QUERIES.append(
    Query(
        "sigma_part_supplier",
        sigma_part_supplier,
        SIGMA_SQL,
        "shortest-path counts (Brandes sigma) per probe seed, exact int64 DP",
    )
)


def betweenness_evidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Betweenness EVIDENCE table for the probe seed pairs: for every
    node v on a shortest s-t path (s, t both probe seeds),
    sigma_st(v) = sigma_sv * sigma_vt — the exact integer numerators
    of Brandes' pair dependencies (delta_st(v) = sigma_st(v) /
    sigma_st, where sigma_st is the v = s row). Emitting the
    numerators keeps the gate exact (the normalized deltas are
    ratios whose float summation would be order-sensitive); the
    consumer's betweenness is one division + sum away. Pure
    composition: the gated sigma table self-joined on the node, path
    membership tested by d(s,v) + d(v,t) = d(s,t). Undirected graph,
    so sigma_vt equals sigma_tv from t's own BFS."""
    from map_reduce_project_spark.graph.analytics import (
        shortest_path_counts,
    )

    li = read_table(spark, sf_dir, "lineitem")
    seeds = (
        li.where(F.col("l_suppkey") % 25 == 0)
        .select(F.concat(F.lit("s:"), F.col("l_suppkey")).alias("node"))
        .distinct()
    )
    sig = shortest_path_counts(
        _part_supplier_edges(spark, sf_dir), seeds, max_hops=4
    )
    a = sig.select(
        F.col("seed").alias("src"),
        "node",
        F.col("hop").alias("d_sv"),
        F.col("n_paths").alias("p_sv"),
    )
    b = sig.select(
        F.col("seed").alias("dst"),
        "node",
        F.col("hop").alias("d_vt"),
        F.col("n_paths").alias("p_vt"),
    )
    dd = sig.select(
        F.col("seed").alias("src"),
        F.col("node").alias("dst"),
        F.col("hop").alias("d_st"),
    )
    return (
        a.join(b, "node")
        .where(F.col("src") < F.col("dst"))
        .join(dd, ["src", "dst"])
        .where(F.col("d_sv") + F.col("d_vt") == F.col("d_st"))
        .select(
            "src",
            "dst",
            "node",
            "d_sv",
            "d_vt",
            (F.col("p_sv") * F.col("p_vt")).cast("long").alias("sigma_st_v"),
        )
    )


BETWEENNESS_SQL = f"""
WITH sig AS MATERIALIZED ({_sigma_unrolled_sql(max_hops=4)})
SELECT a.seed AS src, b.seed AS dst, a.node,
       a.hop AS d_sv, b.hop AS d_vt,
       CAST(a.n_paths * b.n_paths AS BIGINT) AS sigma_st_v
FROM sig a
JOIN sig b ON a.node = b.node AND a.seed < b.seed
JOIN sig dd ON dd.seed = a.seed AND dd.node = b.seed
WHERE a.hop + b.hop = dd.hop
"""

QUERIES.append(
    Query(
        "betweenness_evidence",
        betweenness_evidence,
        BETWEENNESS_SQL,
        "Brandes pair-dependency numerators sigma_st(v), exact int64 composition",
    )
)


def graph_walk_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeepWalk skip-gram data prep: (center, context) training pairs
    from the deterministic random-walk corpus, window 2 — the stage
    between walk generation and embedding training. Pairs are built
    by a step-offset self-join of the walk table (walks are short,
    so the join is per-(start, step) equi-keys, never cross), and the
    count aggregate is the final co-occurrence multiset. Everything
    rides the gated md5-draw walks, so the pair multiset is exact
    cross-engine."""
    from map_reduce_project_spark.graph.analytics import (
        deterministic_walks,
    )

    li = read_table(spark, sf_dir, "lineitem")
    seeds = (
        li.where(F.col("l_suppkey") % 25 == 0)
        .select(F.concat(F.lit("s:"), F.col("l_suppkey")).alias("node"))
        .distinct()
    )
    walks = deterministic_walks(
        _part_supplier_edges(spark, sf_dir), seeds, steps=3
    )
    pairs = None
    for off in (1, 2):
        ctx = walks.select(
            "start",
            (F.col("step") - off).alias("step"),
            F.col("node").alias("context"),
        )
        p = walks.join(ctx, ["start", "step"]).select(
            F.col("node").alias("center"), "context"
        )
        pairs = p if pairs is None else pairs.unionByName(p)
    return (
        pairs.groupBy("center", "context")
        .agg(F.count("*").cast("long").alias("n_pairs"))
    )


# the oracle re-derives the same walks (md5 draw per step over the
# ranked adjacency — the graph_walks oracle's construction) and then
# window-joins them at offsets 1 and 2
GRAPH_WALK_PAIRS_SQL = """
WITH RECURSIVE e AS (
  SELECT DISTINCT 'p:' || l_partkey AS src, 's:' || l_suppkey AS dst
  FROM lineitem
), und AS (
  SELECT src, dst FROM e UNION SELECT dst, src FROM e
), adj AS (
  SELECT src AS node, dst AS nbr,
         ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) AS rn
  FROM und
), deg AS (
  SELECT node, MAX(rn) AS deg FROM adj GROUP BY 1
), walk AS (
  SELECT DISTINCT 's:' || l_suppkey AS start, 's:' || l_suppkey AS node,
         0 AS step
  FROM lineitem WHERE l_suppkey % 25 = 0
  UNION ALL
  SELECT w.start, a.nbr AS node, w.step + 1 AS step
  FROM walk w
  JOIN deg d ON d.node = w.node
  JOIN adj a ON a.node = w.node
   AND a.rn = ('0x' || substr(md5('walk|' || w.start || '|' || (w.step + 1)
               || '|' || w.node), 1, 8))::BIGINT % d.deg + 1
  WHERE w.step < 3
),
pairs AS (
  SELECT a.node AS center, b.node AS context
  FROM walk a
  JOIN (VALUES (1), (2)) o(o) ON TRUE
  JOIN walk b ON b.start = a.start AND b.step = a.step + o.o
)
SELECT center, context, CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM pairs GROUP BY 1, 2
"""

QUERIES.append(
    Query(
        "graph_walk_pairs",
        graph_walk_pairs,
        GRAPH_WALK_PAIRS_SQL,
        "DeepWalk skip-gram (center, context) pair multiset from gated walks",
    )
)


def pagerank_weighted_part_supplier(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Weighted PageRank over the part-supplier graph with edge
    weight = shipment count per (part, supplier) pair — rank flows
    proportionally to relationship strength instead of uniformly.
    Exact int64 fixed point (graph/analytics.py:pagerank_weighted_int)
    vs a recursive-CTE oracle; positive operands make Spark's `div`
    and DuckDB's `//` identical."""
    from map_reduce_project_spark.graph.analytics import (
        pagerank_weighted_int,
    )

    li = read_table(spark, sf_dir, "lineitem")
    weighted = li.groupBy(
        F.concat(F.lit("p:"), F.col("l_partkey")).alias("src"),
        F.concat(F.lit("s:"), F.col("l_suppkey")).alias("dst"),
    ).agg(F.count("*").cast("long").alias("w"))
    return pagerank_weighted_int(weighted, iterations=4)


PAGERANK_W_SQL = """
WITH RECURSIVE e AS (
  SELECT 'p:' || l_partkey AS src, 's:' || l_suppkey AS dst,
         CAST(COUNT(*) AS BIGINT) AS w
  FROM lineitem GROUP BY 1, 2
), und AS (
  SELECT src, dst, w FROM e
  UNION ALL SELECT dst, src, w FROM e
), wdeg AS (
  SELECT src AS node, SUM(w) AS wdeg FROM und GROUP BY src
), consts AS (
  SELECT CAST(1000000000000 // COUNT(*) AS BIGINT) AS init,
         CAST((15 * (1000000000000 // COUNT(*))) // 100 AS BIGINT) AS tp
  FROM wdeg
), pr AS (
  SELECT 0 AS it, node, (SELECT init FROM consts) AS rank FROM wdeg
  UNION ALL
  SELECT pr.it + 1 AS it, und.dst AS node,
         (SELECT tp FROM consts)
           + (85 * SUM((pr.rank * und.w) // wdeg.wdeg)) // 100 AS rank
  FROM pr
  JOIN wdeg ON wdeg.node = pr.node
  JOIN und ON und.src = pr.node
  WHERE pr.it < 4
  GROUP BY pr.it, und.dst
)
SELECT node, rank FROM pr WHERE it = 4
"""

QUERIES.append(
    Query(
        "pagerank_weighted_part_supplier",
        pagerank_weighted_part_supplier,
        PAGERANK_W_SQL,
        "weighted PageRank: rank flows by edge strength, exact int64 fixed point",
    )
)


def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modularity of the LPA communities — the quality score that
    judges a partition (Newman 2004): Q = sum_c [L_c/m -
    (d_c/(2m))^2]. Kept EXACT by clearing denominators — the emitted
    per-community ``q_term_x4m2`` = 4m*L_c - d_c^2 is pure int64
    (Q = sum / 4m^2 is the consumer's one division), the same
    exact-rational discipline as the attribution credits. L_c =
    intra-community undirected edges, d_c = community degree sum;
    both are one aggregate over the edge list joined to the gated
    2-round LPA labels."""
    from map_reduce_project_spark.graph.analytics import (
        canonical_pairs,
        label_propagation,
    )

    edges = _part_supplier_edges(spark, sf_dir)
    labels = label_propagation(edges, rounds=2).localCheckpoint(eager=True)
    canon = canonical_pairs(edges)
    m = canon.count()
    la = labels.withColumnRenamed("node", "src").withColumnRenamed(
        "community", "ca"
    )
    lb = labels.withColumnRenamed("node", "dst").withColumnRenamed(
        "community", "cb"
    )
    edged = canon.join(la, "src").join(lb, "dst")
    intra = (
        edged.where(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("community"))
        .agg(F.count("*").cast("long").alias("l_c"))
    )
    deg = (
        edged.select(F.col("ca").alias("community"))
        .unionAll(edged.select(F.col("cb").alias("community")))
        .groupBy("community")
        .agg(F.count("*").cast("long").alias("d_c"))
    )
    return (
        deg.join(intra, "community", "left")
        .fillna(0, subset=["l_c"])
        .select(
            "community",
            "l_c",
            "d_c",
            (
                F.lit(4 * m) * F.col("l_c") - F.col("d_c") * F.col("d_c")
            ).cast("long").alias("q_term_x4m2"),
        )
    )


GRAPH_MODULARITY_SQL = """
WITH e AS (
  SELECT DISTINCT 'p:' || l_partkey AS src, 's:' || l_suppkey AS dst
  FROM lineitem
), und AS (
  SELECT src, dst FROM e UNION SELECT dst, src FROM e
), l1 AS (
  SELECT node, community FROM (
    SELECT und.dst AS node, und.src AS community,
           ROW_NUMBER() OVER (PARTITION BY und.dst
                              ORDER BY COUNT(*) DESC, und.src) AS rn
    FROM und GROUP BY und.dst, und.src
  ) WHERE rn = 1
), l2 AS (
  SELECT node, community FROM (
    SELECT und.dst AS node, l1.community AS community,
           ROW_NUMBER() OVER (PARTITION BY und.dst
                              ORDER BY COUNT(*) DESC, l1.community) AS rn
    FROM und JOIN l1 ON l1.node = und.src
    GROUP BY und.dst, l1.community
  ) WHERE rn = 1
), canon AS (
  SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b FROM e
  GROUP BY 1, 2
), m AS (SELECT COUNT(*) AS m FROM canon),
edged AS (
  SELECT la.community AS ca, lb.community AS cb
  FROM canon
  JOIN l2 la ON la.node = canon.a
  JOIN l2 lb ON lb.node = canon.b
),
deg AS (
  SELECT community, CAST(COUNT(*) AS BIGINT) AS d_c FROM (
    SELECT ca AS community FROM edged
    UNION ALL SELECT cb FROM edged
  ) GROUP BY 1
),
intra AS (
  SELECT ca AS community, CAST(COUNT(*) AS BIGINT) AS l_c
  FROM edged WHERE ca = cb GROUP BY 1
)
SELECT deg.community,
  CAST(COALESCE(intra.l_c, 0) AS BIGINT) AS l_c,
  deg.d_c,
  CAST(4 * (SELECT m FROM m) * COALESCE(intra.l_c, 0)
       - deg.d_c * deg.d_c AS BIGINT) AS q_term_x4m2
FROM deg LEFT JOIN intra ON intra.community = deg.community
"""

QUERIES.append(
    Query(
        "graph_modularity",
        graph_modularity,
        GRAPH_MODULARITY_SQL,
        "Newman modularity terms of the LPA partition, exact via x4m^2 scaling",
    )
)


def _part_sequence_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed part->next-part edges from consecutive line numbers
    within URGENT orders, thinned to the %3 part family so the SCC
    fixtures keep real structure (one giant SCC + a 2-cycle +
    singleton periphery at the gate SFs) without a dense transitive
    closure on the oracle side. Shared by the scc_* queries.

    The synthetic lineitem does NOT have unique (l_orderkey,
    l_linenumber) pairs (118k dups at sf0.1), so the window MUST
    order by (l_linenumber, l_partkey): rows tied on the full key
    carry the same l_partkey, making the partkey sequence — and thus
    the LEAD edge multiset — identical under any tiebreak. Ordering
    by l_linenumber alone let Spark and DuckDB pick different next
    rows (caught by the sf0.1 full-registry sweep)."""
    from pyspark.sql.window import Window

    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    seq = li.join(
        orders, li["l_orderkey"] == orders["o_orderkey"]
    ).select("l_orderkey", "l_linenumber", "l_partkey")
    w = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_partkey"
    )
    pairs = seq.select(
        "l_partkey", F.lead("l_partkey").over(w).alias("next_part")
    )
    return pairs.where(
        F.col("next_part").isNotNull()
        & (F.col("next_part") != F.col("l_partkey"))
        & (F.col("l_partkey") % 3 == 0)
        & (F.col("next_part") % 3 == 0)
    ).select(
        F.concat(F.lit("p:"), F.col("l_partkey")).alias("src"),
        F.concat(F.lit("p:"), F.col("next_part")).alias("dst"),
    )


def scc_part_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRONGLY connected components — the directed decomposition the
    undirected CC family cannot express (reference scope is undirected
    only, RESULTS.md:125; this is the natural directed extension).

    The engine runs trim + forward/backward min-coloring peeling
    (``strongly_connected_components_directed``); the oracle computes
    the transitive closure with a recursive CTE and takes min over
    each node's mutually-reachable set — feasible only at oracle
    scale, which is exactly why the engine side peels instead."""
    from map_reduce_project_spark.graph.analytics import (
        strongly_connected_components_directed,
    )

    # ~10k simple edges at sf0.1: the gate/bench scale rides the
    # property-pinned local Tarjan (the distributed peel is pure
    # stage-scheduling overhead down here, the CCF local_threshold
    # economics); a corpus-scale edge set takes the distributed path
    return strongly_connected_components_directed(
        _part_sequence_edges(spark, sf_dir), local_threshold=100_000
    )


# shared oracle CTE prologue: edge construction + closure + SCC ids
SCC_BASE_SQL = """
WITH RECURSIVE seq AS (
  SELECT l_orderkey, l_linenumber, l_partkey,
         LEAD(l_partkey) OVER (
           PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey
         ) AS next_part
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
  WHERE o_orderpriority = '1-URGENT'
),
edges AS (
  SELECT DISTINCT 'p:' || l_partkey AS src, 'p:' || next_part AS dst
  FROM seq
  WHERE next_part IS NOT NULL AND next_part <> l_partkey
    AND l_partkey % 3 = 0 AND next_part % 3 = 0
),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
reach(a, b) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
),
scc AS (
  SELECT n.node AS node,
    LEAST(n.node,
          COALESCE(MIN(r1.b) FILTER (WHERE r2.a IS NOT NULL),
                   n.node)) AS scc
  FROM nodes n
  LEFT JOIN reach r1 ON r1.a = n.node
  LEFT JOIN reach r2 ON r2.a = r1.b AND r2.b = n.node
  GROUP BY n.node
)
"""

SCC_SQL = SCC_BASE_SQL + "SELECT node, scc FROM scc"

QUERIES.append(
    Query(
        "scc_part_sequence",
        scc_part_sequence,
        SCC_SQL,
        "strongly connected components via trim + fwd/bwd min-coloring peeling vs transitive-closure oracle",
    )
)


def scc_condensation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CONDENSATION of the directed graph: each SCC collapsed to
    one node (its min-id representative), edges aggregated to
    (scc_src, scc_dst, n_edges) over distinct underlying cross-edges.
    The result is a DAG by construction — the decomposition that turns
    any directed graph into something topologically sortable, which is
    what dependency-ordering consumers actually want from SCC. Exact
    int64 edge counts; intra-component edges drop out."""
    from map_reduce_project_spark.graph.analytics import (
        _directed_simple_edges,
        strongly_connected_components_directed,
    )

    edges = _part_sequence_edges(spark, sf_dir)
    mapping = strongly_connected_components_directed(
        edges, local_threshold=100_000
    )
    e = _directed_simple_edges(edges)
    return (
        e.join(
            mapping.select(
                F.col("node").alias("src"), F.col("scc").alias("scc_src")
            ),
            "src",
        )
        .join(
            mapping.select(
                F.col("node").alias("dst"), F.col("scc").alias("scc_dst")
            ),
            "dst",
        )
        .where(F.col("scc_src") != F.col("scc_dst"))
        .groupBy("scc_src", "scc_dst")
        .agg(F.count("*").cast("long").alias("n_edges"))
    )


SCC_CONDENSATION_SQL = SCC_BASE_SQL + """
SELECT s1.scc AS scc_src, s2.scc AS scc_dst,
       CAST(COUNT(*) AS BIGINT) AS n_edges
FROM edges e
JOIN scc s1 ON s1.node = e.src
JOIN scc s2 ON s2.node = e.dst
WHERE s1.scc <> s2.scc
GROUP BY 1, 2
"""

QUERIES.append(
    Query(
        "scc_condensation",
        scc_condensation,
        SCC_CONDENSATION_SQL,
        "SCC condensation DAG: components collapsed, cross-edges counted exactly",
    )
)


def scc_topo_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topological layering of the SCC condensation: each component's
    longest-incoming-chain length — the stage number a dependency
    scheduler would execute it at. Composes the engine's own SCC fixed
    point (one run; condensation derived from its mapping) with the
    DAG longest-path loop, whose fail-loud non-convergence doubles as
    a cycle check on the condensation. The oracle replays the layering
    as 40 unrolled Bellman-Ford-max rounds over the closure-derived
    condensation (UNION-recursion on longest path is exponential in
    path count; the unroll is linear — same MATERIALIZED-CTE
    discipline as the k-truss oracle). The engine raises beyond depth
    40, so engine and oracle can never silently diverge on depth."""
    from map_reduce_project_spark.graph.analytics import (
        _directed_simple_edges,
        dag_longest_path_levels,
        strongly_connected_components_directed,
    )

    edges = _part_sequence_edges(spark, sf_dir)
    mapping = strongly_connected_components_directed(
        edges, local_threshold=100_000
    )
    e = _directed_simple_edges(edges)
    cond_edges = (
        e.join(
            mapping.select(
                F.col("node").alias("src"), F.col("scc").alias("csrc")
            ),
            "src",
        )
        .join(
            mapping.select(
                F.col("node").alias("dst"), F.col("scc").alias("cdst")
            ),
            "dst",
        )
        .where(F.col("csrc") != F.col("cdst"))
        .select(F.col("csrc").alias("src"), F.col("cdst").alias("dst"))
        .distinct()
    )
    cond_nodes = mapping.select(F.col("scc").alias("node")).distinct()
    return dag_longest_path_levels(cond_edges, nodes=cond_nodes).select(
        "node", "level"
    )


def _topo_unrolled_sql(rounds: int = 40) -> str:
    steps = []
    for t in range(1, rounds + 1):
        steps.append(
            f"""lvl{t} AS MATERIALIZED (
  SELECT l.node,
         GREATEST(l.lvl, COALESCE(MAX(p.lvl) + 1, l.lvl)) AS lvl
  FROM lvl{t - 1} l
  LEFT JOIN cond_edges e ON e.cdst = l.node
  LEFT JOIN lvl{t - 1} p ON p.node = e.csrc
  GROUP BY l.node, l.lvl
)"""
        )
    return (
        SCC_BASE_SQL
        + """,
cond_edges AS MATERIALIZED (
  SELECT DISTINCT s1.scc AS csrc, s2.scc AS cdst
  FROM edges e
  JOIN scc s1 ON s1.node = e.src
  JOIN scc s2 ON s2.node = e.dst
  WHERE s1.scc <> s2.scc
),
lvl0 AS MATERIALIZED (
  SELECT DISTINCT scc AS node, 0 AS lvl FROM scc
),
"""
        + ",\n".join(steps)
        + f"\nSELECT node, CAST(lvl AS BIGINT) AS level FROM lvl{rounds}"
    )


QUERIES.append(
    Query(
        "scc_topo_levels",
        scc_topo_levels,
        _topo_unrolled_sql(),
        "topological stage layering of the SCC condensation vs 40-round unrolled max-propagation oracle",
    )
)


def graph_msf_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Borůvka minimum spanning forest under the hash gate, on a
    fixture whose MST is analytically known (the codec-oracle
    discipline applied to a graph algorithm): chain edges
    (p, p+3) with scrambled weights 1000 + (7p mod 997) plus shortcut
    edges (p, p+9) at weight 1e6 + p. Every chain weight is below
    every shortcut weight and the chain alone spans, so THE minimum
    spanning tree is exactly the chain — while the engine still has
    to run real multi-round Borůvka (scrambled weights make each
    component's minimum incident edge nontrivial, contraction runs
    the CC fixed point) and a single wrongly kept shortcut or dropped
    chain edge is a hash mismatch. The general algorithm is
    property-tested edge-for-edge against a total-order Kruskal
    oracle on random graphs (tests/test_ccf.py)."""
    from map_reduce_project_spark.graph.analytics import (
        minimum_spanning_forest,
    )

    part = read_table(spark, sf_dir, "part").where(
        F.col("p_partkey") % 3 == 0
    )
    a = part.select(F.col("p_partkey").alias("pa"))
    b = part.select(F.col("p_partkey").alias("pb"))

    def link(step: int, weight):
        return (
            a.join(b, F.col("pb") == F.col("pa") + step)
            .select(
                F.concat(F.lit("p:"), F.col("pa")).alias("src"),
                F.concat(F.lit("p:"), F.col("pb")).alias("dst"),
                weight.alias("weight"),
            )
        )

    chain = link(3, (F.lit(1000) + (F.col("pa") * 7) % 997).cast("double"))
    short = link(9, (F.lit(1_000_000) + F.col("pa")).cast("double"))
    return minimum_spanning_forest(chain.unionAll(short))


GRAPH_MSF_SQL = """
WITH base AS (
  SELECT p_partkey AS p FROM part WHERE p_partkey % 3 = 0
)
SELECT LEAST('p:' || a.p, 'p:' || b.p) AS src,
       GREATEST('p:' || a.p, 'p:' || b.p) AS dst,
       CAST(1000 + (7 * a.p) % 997 AS DOUBLE) AS weight
FROM base a JOIN base b ON b.p = a.p + 3
"""

QUERIES.append(
    Query(
        "graph_msf_chain",
        graph_msf_chain,
        GRAPH_MSF_SQL,
        "Boruvka MSF on an analytically-known fixture: the spanning chain wins, shortcuts rejected",
    )
)


# Round budget shared by the sssp_int engine call AND the unrolled
# DuckDB oracle below — one constant so the two sides can never
# drift: raising it extends BOTH the engine cap and the oracle's
# relaxation depth (extra unrolled rounds past the fixed point are
# no-ops, so oracle over-provisioning is safe; UNDER-provisioning
# the engine raises loudly at gate time rather than emitting a
# stale table). Measured convergence round of this part-supplier
# graph: 6 at sf0.01, 8 at sf0.1 (tools bisect, round 7), so 14 is
# ~2x headroom. Ceiling note (round-6 ADVICE): at sf>=1 the seed
# filter (s_suppkey % 25 = 0) exceeds 62 seeds and sssp_int
# switches to the row-keyed path with the same cap; density also
# grows with sf, so the convergence round moves slowly — if a
# future sf bump ever trips the ValueError, raise THIS constant.
_SSSP_ROUNDS = 14


def graph_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest paths (exact int64 Bellman-
    Ford, graph/analytics.py:sssp_int) from the supplier probe seeds
    over the part-supplier bipartite graph, with a deterministic
    per-edge weight derived from the raw keys (w = 1 +
    (7*partkey + 13*suppkey) % 97) so both engines price every edge
    identically. Runs the SEED-BATCHED array path (40 seeds -> one
    int64 distance array per reached node per round); the oracle
    unrolls the same relaxation to the fixed point. Positive weights
    guarantee convergence; the engine raises rather than emit a
    stale table if the round budget is too low — see _SSSP_ROUNDS
    for the measured convergence bound and drift contract."""
    from map_reduce_project_spark.graph.analytics import sssp_int

    li = read_table(spark, sf_dir, "lineitem")
    edges = (
        li.select("l_partkey", "l_suppkey")
        .dropDuplicates()
        .select(
            F.concat(F.lit("p:"), F.col("l_partkey")).alias("src"),
            F.concat(F.lit("s:"), F.col("l_suppkey")).alias("dst"),
            (
                1
                + (7 * F.col("l_partkey") + 13 * F.col("l_suppkey")) % 97
            ).cast("long").alias("w"),
        )
    )
    seeds = (
        read_table(spark, sf_dir, "supplier")
        .where(F.col("s_suppkey") % 25 == 0)
        .select(F.concat(F.lit("s:"), F.col("s_suppkey")).alias("node"))
    )
    return sssp_int(edges, seeds, max_rounds=_SSSP_ROUNDS)


def _sssp_unrolled_sql(rounds: int) -> str:
    """Bellman-Ford unrolled to ``rounds`` relaxations — matches the
    engine's fixed point as long as ``rounds`` >= the engine's
    convergence round (the engine ASSERTS convergence within its own
    max_rounds, and relaxation is monotone, so extra rounds are
    no-ops)."""
    head = """
WITH e0 AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
w AS (
  SELECT 'p:' || p AS src, 's:' || s AS dst,
         CAST(1 + (7 * p + 13 * s) % 97 AS BIGINT) AS w
  FROM e0
),
und AS MATERIALIZED (
  SELECT src, dst, MIN(w) AS w FROM (
    SELECT src, dst, w FROM w
    UNION ALL
    SELECT dst AS src, src AS dst, w FROM w
  ) GROUP BY src, dst
),
d0 AS (
  SELECT DISTINCT 's:' || s_suppkey AS seed, 's:' || s_suppkey AS node,
         CAST(0 AS BIGINT) AS dist
  FROM supplier WHERE s_suppkey % 25 = 0
)"""
    levels = []
    for t in range(1, rounds + 1):
        levels.append(
            f""",
d{t} AS MATERIALIZED (
  SELECT seed, node, MIN(dist) AS dist FROM (
    SELECT seed, node, dist FROM d{t - 1}
    UNION ALL
    SELECT d.seed, u.dst AS node, d.dist + u.w AS dist
    FROM d{t - 1} d JOIN und u ON u.src = d.node
  ) GROUP BY seed, node
)"""
        )
    return (
        head
        + "".join(levels)
        + f"\nSELECT seed, node, dist FROM d{rounds}"
    )


SSSP_SQL = _sssp_unrolled_sql(rounds=_SSSP_ROUNDS)

QUERIES.append(
    Query(
        "graph_sssp_weighted",
        graph_sssp_weighted,
        SSSP_SQL,
        "weighted shortest paths: exact int64 Bellman-Ford, seed-batched distance arrays",
    )
)


def closeness_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted closeness centrality of each probe seed: exact int64
    Bellman-Ford distances (sssp_int), then n_reached, total int64
    distance, and closeness = (n_reached - 1) / total_dist — one IEEE
    division of exact integer operands per row (hash-stable), the
    weighted twin of closeness_part_supplier's hop-count version."""
    d = graph_sssp_weighted(spark, sf_dir)
    return (
        d.groupBy("seed")
        .agg(
            F.count("*").cast("long").alias("n_reached"),
            F.sum("dist").cast("long").alias("total_dist"),
        )
        .where(F.col("total_dist") > 0)
        .select(
            "seed",
            "n_reached",
            "total_dist",
            (
                (F.col("n_reached") - 1).cast("double")
                / F.col("total_dist").cast("double")
            ).alias("closeness"),
        )
    )


CLOSENESS_WEIGHTED_SQL = f"""
WITH sssp AS MATERIALIZED ({_sssp_unrolled_sql(rounds=_SSSP_ROUNDS)})
SELECT seed,
  CAST(COUNT(*) AS BIGINT) AS n_reached,
  CAST(SUM(dist) AS BIGINT) AS total_dist,
  CAST(COUNT(*) - 1 AS DOUBLE) / CAST(SUM(dist) AS DOUBLE) AS closeness
FROM sssp
GROUP BY seed
HAVING SUM(dist) > 0
"""

QUERIES.append(
    Query(
        "closeness_weighted",
        closeness_weighted,
        CLOSENESS_WEIGHTED_SQL,
        "weighted closeness: exact int64 SSSP distance sums, one IEEE division per row",
    )
)


def cc_html_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-to-graph integration (round 8): HTML outlink extraction
    (operators/text.html_extract_links — the round-8 crawl stage-zero
    operator) feeds the CCF loop directly. Each doc's page on host
    example{id%50}.com carries one absolute cross-host anchor to
    example{(id*7)%50}.com; the host-level edge list (src host,
    resolved target host) runs through connected_components. The
    multiplicative-7 functional graph on Z/50 yields nontrivial
    cycle components (and two self-loop isolates, 0 and 25, that
    both engines must exclude). Oracle: the same bounded
    recursive-CTE min-label propagation as cc_part_supplier — 30
    rounds is safely past the fixed point for cycles <= 50."""
    from map_reduce_project_spark.operators.text import (
        html_extract_links,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    html = F.concat(
        F.lit('<p>content</p><a href="https://example'),
        ((d * 7) % 50).cast("string"),
        F.lit('.com/ref">related</a>'),
    )
    base = F.concat(
        F.lit("https://example"), (d % 50).cast("string"), F.lit(".com")
    )
    links = html_extract_links(
        docs.withColumn("html", html).withColumn("base", base),
        base_col="base",
    )
    edges = (
        links.join(
            docs.withColumn("base", base).select("doc_id", "base"),
            "doc_id",
        )
        .select(
            F.regexp_extract("base", "^[a-z]+://(.+)$", 1).alias("src"),
            F.regexp_extract(
                "resolved", "^[a-z]+://([^/]+)", 1
            ).alias("dst"),
        )
        .dropDuplicates()
    )
    return connected_components(edges).mapping


CC_HTML_LINK_SQL = """
WITH RECURSIVE e AS (
  SELECT DISTINCT
    'example' || CAST(doc_id % 50 AS VARCHAR) || '.com' AS src,
    'example' || CAST((doc_id * 7) % 50 AS VARCHAR) || '.com' AS dst
  FROM documents
), noself AS (
  SELECT src, dst FROM e WHERE src <> dst
), und AS (
  SELECT src, dst FROM noself UNION SELECT dst, src FROM noself
), nodes AS (
  SELECT DISTINCT src AS n FROM und
), und2 AS (
  SELECT src, dst FROM und UNION SELECT n, n FROM nodes
), lab AS (
  SELECT 0 AS it, n AS node, n AS lab FROM nodes
  UNION ALL
  SELECT lab.it + 1 AS it, und2.dst AS node, MIN(lab.lab) AS lab
  FROM lab JOIN und2 ON und2.src = lab.node
  WHERE lab.it < 30
  GROUP BY lab.it, und2.dst
)
SELECT node, lab AS component FROM lab
WHERE it = 30 AND node <> lab
"""

QUERIES.append(
    Query(
        "cc_html_link_graph",
        cc_html_link_graph,
        CC_HTML_LINK_SQL,
        "crawl-to-graph integration: extracted outlink host edges through CCF connected components",
    )
)
