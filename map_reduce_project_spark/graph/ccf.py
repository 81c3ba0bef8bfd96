"""CCF connected components, DataFrame-native.

The reference (wwfong/map-reduce-project) implements CCF — the iterative
min-label-propagation MapReduce algorithm of Kardes, Agrawal, Wang & Sun
(CIKM 2014) — with RDD groupByKey + a row-at-a-time Python reducer
(reference ccf_connected_components.py:23-88, loop 190-230). This module
re-expresses the same semantics as a Catalyst-planned DataFrame fixed
point. Structural wins over the reference (see SURVEY.md §3.4/§4):

- ``groupByKey`` + collect-all-neighbors is replaced by a fused
  single-window pass (first value = group min + row number -> both
  emission branches in ONE full shuffle); the reference needs a full
  groupByKey shuffle with O(N) reducer memory (its own RESULTS.md:119
  flags the hub-skew consequence) plus a second dedup shuffle. A
  groupBy-min + join formulation (``ccf_iterate_join``) remains for
  extreme hub skew, where AQE can split a join but not a window.
- The convergence counter is a deterministic aggregate — the sum of
  the dedup's per-pair new-emission counts — not an accumulator (Spark
  accumulators over-count under task retry; reference
  CCFConnectedComponents.scala:197).
- Dedup before the barrier: each iteration is
  ``ccf_dedup(iterate(state))``, so the checkpoint holds the deduped
  pair set and the next pass reads it with no further shuffle — the
  window path shuffles twice per iteration (window + dedup), the
  paper's own CCF-Iterate -> CCF-Dedup pair of jobs.
- One materialization per iteration via a lazy ``localCheckpoint``
  whose convergence count is the single action — pins the iteration
  result AND truncates lineage in ONE job. The reference's
  ``cache()+count()`` protocol (ccf_connected_components.py:219-221)
  runs two actions per iteration and leaves an ever-growing RDD DAG;
  its Python variant additionally re-executes the reduce phase twice
  (unpersist-before-downstream-action at ccf_connected_components.py:87).

Semantic fine print preserved (SURVEY.md §2.4):
- S1: node IDs are strings; min is LEXICOGRAPHIC ("10" < "2").
- S2: Basic-variant emission rules are canonical — values equal to the
  group min are neither emitted nor counted.
- S3: a component's representative never maps to itself; the final
  mapping has (nodes - components) rows. ``component_summary`` re-adds
  the representative.
- S4: convergence when the new-pair count is 0 after an iteration,
  capped at max_iterations=100; the converging iteration is counted.
- S5: dedup is by exact ordered pair — (a,b) and (b,a) are distinct.
"""

from __future__ import annotations

from dataclasses import dataclass
from operator import eq
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MAX_ITERATIONS = 100

_NEW = "_ccf_new"

# loop shuffle sizing (see connected_components)
_GROWTH = 8  # peak pair rows ~= GROWTH x input edges
# Shuffle-partition sizing model: per-iteration cost ~= a*V/p + b*p
# (data plane + per-task fixed overhead), minimized at
# p = sqrt(V / (b/a)). _TASK_OVERHEAD_ROWS is the fitted b/a —
# measured optima on local[32]: 17 partitions @ 4M pair rows,
# 33 @ 16M (both within a few percent of sqrt(V/14400)); the tiny
# reference graphs land on the floor of 4, also the measured optimum.
# At cluster scale the sqrt optimum would exceed what fits in executor
# memory, so _MAX_ROWS_PER_PARTITION caps per-partition volume
# (~160 MB of string pairs) and takes over as the sizing term.
_TASK_OVERHEAD_ROWS = 14_400
_MAX_ROWS_PER_PARTITION = 4_000_000


def _loop_shuffle_partitions(n_edges: int) -> int:
    volume = n_edges * _GROWTH
    sqrt_opt = (volume / _TASK_OVERHEAD_ROWS) ** 0.5
    mem_floor = volume / _MAX_ROWS_PER_PARTITION
    return max(4, min(int(max(sqrt_opt, mem_floor)) + 1, 20000))


@dataclass
class CCFResult:
    """Outcome of the fixed point: (node, component) mapping + metadata."""

    mapping: DataFrame  # columns: node string, component string
    iterations: int
    converged: bool
    new_pair_counts: list[int]
    iterate_path: str = "window"  # window | join | secondary_sort | local | star

# Hub-skew autodetect: a window partition cannot be AQE-skew-split, so
# when any node's (undirected) degree reaches this many rows the loop
# switches to the groupBy+join formulation, which AQE can split. The
# probe itself (one groupBy-count + max) only runs when the graph is
# big enough that a degree could plausibly cross the threshold, and
# switches to an edge SAMPLE above _PROBE_EXACT_ROWS undirected rows.
# Sample sizing: the decision is "max_seen / fraction >= threshold/2",
# i.e. a threshold-degree hub must land >= fraction*threshold/2 sample
# hits. With a FIXED sample size the expected hits at the cut shrink
# as the graph grows (hits = threshold * PROBE / (2*edges)) and the
# Binomial left tail opens a false-negative path to the un-splittable
# window plan. So the fraction is floored at
# _PROBE_MIN_EXPECTED_HITS / threshold: a threshold hub always
# expects >= 100 hits (tail below the 2x cut at 50 hits ~ 1e-8,
# Chernoff), at a sample cost of 2*edges*100/threshold rows —
# 0.02% of the edge list at the 1M default, trivially cheaper than
# one loop iteration.
SKEW_DEGREE_THRESHOLD = 1_000_000
_PROBE_EXACT_ROWS = 4_000_000
_PROBE_MIN_EXPECTED_HITS = 100


def _probe_fraction(n_edges: int, skew_degree_threshold: int) -> float:
    """Sampling fraction for the hub-degree probe (1.0 = exact)."""
    return min(
        1.0,
        max(
            _PROBE_EXACT_ROWS / (2 * n_edges),
            _PROBE_MIN_EXPECTED_HITS / skew_degree_threshold,
        ),
    )


def ccf_fixed_point_local(
    edge_list: list[tuple[str, str]],
    max_iterations: int = MAX_ITERATIONS,
) -> tuple[list[tuple[str, str]], int, bool, list[int]]:
    """Pure-Python CCF fixed point — the small-graph fast path.

    Semantics-identical to the distributed loop (S1-S5: string
    lexicographic min, Basic emission rules, per-occurrence new-pair
    counting, ordered-pair dedup, converging iteration counted), so
    iteration counts and mappings are bit-for-bit the same — pinned by
    tests/test_ccf_local.py property tests.

    Why it exists: below ~10^5 edges the distributed loop's cost is
    pure scheduling (~0.4-0.5 s/iteration of stage setup at any
    parallelism — the data plane is microseconds), which is the one
    reference capability (sub-second JVM-loop latency on tiny graphs)
    a Python-driven Spark loop cannot match. At that scale the
    Spark-first answer is the same one Catalyst applies to local
    relations: don't distribute. The distributed loop remains the only
    path above the threshold and is benchmarked separately
    (bench.py ccf_random_df_500k).

    Returns (deduped final pairs, iterations, converged, per-iteration
    new-pair counts).
    """
    cur: list[tuple[str, str]] = [
        (s, d) for s, d in edge_list if s is not None and d is not None
    ]
    iterations = 0
    converged = False
    counts: list[int] = []
    while iterations < max_iterations:
        iterations += 1
        adj: dict[str, list[str]] = {}
        for s, d in cur:
            adj.setdefault(s, []).append(d)
            adj.setdefault(d, []).append(s)
        new_count = 0
        emitted: set[tuple[str, str]] = set()
        for src, values in adj.items():
            mn = min(values)
            if mn < src:
                emitted.add((src, mn))
                for v in values:
                    if v != mn:
                        emitted.add((v, mn))
                        new_count += 1
        counts.append(new_count)
        cur = list(emitted)
        if new_count == 0:
            converged = True
            break
    return cur, iterations, converged, counts


def _undirected(pairs: DataFrame) -> DataFrame:
    """Bidirectional edge expansion (reference map phase, O2).

    The reference's 1->2 flatMap (ccf_connected_components.py:53-56) is a
    self-union with swapped projection — no shuffle, fully codegen'd.
    """
    swapped = pairs.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    return pairs.select("src", "dst").unionAll(swapped)


def ccf_iterate(pairs: DataFrame) -> DataFrame:
    """One CCF-Iterate pass (Basic semantics, reference O4).

    Input: DataFrame(src string, dst string) — current pair set.
    Output: DataFrame(src, dst, _ccf_new boolean) where _ccf_new marks
    the (value, min) emissions whose count is the convergence metric
    (each duplicate neighbor occurrence counts, matching the reference's
    per-emission counter at ccf_connected_components.py:77-79).

    Physical shape: ONE full shuffle of the expanded edge list — a
    window over ``partitionBy(src) orderBy(dst)`` yields both the group
    min (first value) and a row number in a single pass, and BOTH
    emission branches come out of one conditional projection: a row
    with row_number 1 has dst == min (it IS the min), so it emits the
    key pair, and a row with dst != min emits the counted value pair —
    the two cases are mutually exclusive, no union, no second
    evaluation of the window subtree. (The earlier union-of-branches
    formulation planned TWO sorts+windows over a ReusedExchange;
    fusing them into one projection measured ~10% faster end-to-end
    and makes the per-iteration plan exactly one exchange + one sort
    + one window, which tests/test_plans.py pins.) Measured 2.3x
    faster per fixed point than the groupBy-min + join formulation
    (``ccf_iterate_join``), which remains available for graphs with
    extreme hub skew (a window partition cannot be AQE-skew-split; a
    join can). Contrast with the reference: a full groupByKey shuffle
    with no map-side combine, O(N) reducer memory, plus a second
    shuffle for dedup.
    """
    from pyspark.sql.window import Window

    und = _undirected(pairs)
    w = Window.partitionBy("src").orderBy("dst")
    # the reference seeds min with the key itself, so
    # "emit iff min_val < key" == "exists neighbor < key"
    ann = und.select(
        "src",
        "dst",
        F.first("dst").over(w).alias("_min"),
        F.row_number().over(w).alias("_rn"),
    )
    # rn==1 -> (key, min) once per group; dst != min -> counted
    # (value, min) emission. Duplicate occurrences of the min value
    # (possible in a raw first-iteration input) match neither arm,
    # exactly like the reference's `value != min` filter (S2 Basic).
    return ann.where(
        (F.col("_min") < F.col("src"))
        & ((F.col("_rn") == 1) | (F.col("dst") != F.col("_min")))
    ).select(
        F.when(F.col("_rn") == 1, F.col("src"))
        .otherwise(F.col("dst"))
        .alias("src"),
        F.col("_min").alias("dst"),
        (F.col("_rn") != 1).alias(_NEW),
    )


def ccf_iterate_join(pairs: DataFrame) -> DataFrame:
    """Hub-skew-robust CCF-Iterate: groupBy-min + shuffle join back.

    Same semantics as ``ccf_iterate``; two shuffles of the expanded
    edge list instead of one, but the join can be AQE-skew-split when
    a single node's adjacency overwhelms one window partition (the
    reference's own RESULTS.md:119 concern). Use for power-law graphs
    with extreme hubs. NB: broadcasting ``mins`` here is a measured net
    LOSS inside the loop (a driver collect + broadcast per iteration).
    """
    und = _undirected(pairs)
    mins = und.groupBy("src").agg(F.min("dst").alias("_min"))
    key_pairs = (
        mins.where(F.col("_min") < F.col("src"))
        .select("src", F.col("_min").alias("dst"))
        .withColumn(_NEW, F.lit(False))
    )
    val_pairs = (
        und.join(mins, "src")
        .where((F.col("_min") < F.col("src")) & (F.col("dst") != F.col("_min")))
        .select(F.col("dst").alias("src"), F.col("_min").alias("dst"))
        .withColumn(_NEW, F.lit(True))
    )
    return key_pairs.unionAll(val_pairs)


def ccf_iterate_secondary_sort(pairs: DataFrame) -> DataFrame:
    """SecondarySort variant (reference O5).

    The reference's secondary sort exists only to find the group min
    with O(1) streaming state (ccf_connected_components.py:95-154); its
    emission rule differs from Basic only when the min value occurs more
    than once in a group (it emits the whole sorted tail, Basic filters
    value != min — SURVEY.md §2.4-S2). The DataFrame formulation needs
    no sort at all (``F.min`` is the streaming min), so the scalable
    plan is identical to Basic; we keep the name as the API-parity
    alias. All 34 reference experiments produce identical iteration
    counts for both variants (experiment_results.csv), so goldens hold.
    For inputs where the variants CAN diverge (both orientations of an
    edge present, S2), ``ccf_iterate_secondary_sort_conformance``
    reproduces the reference's exact emission set.
    """
    return ccf_iterate(pairs)


def ccf_iterate_secondary_sort_conformance(pairs: DataFrame) -> DataFrame:
    """Bit-exact SecondarySort emission semantics (S2 conformance mode).

    The reference emits the ENTIRE sorted tail after the head
    (ccf_connected_components.py:143-145): occurrences of the min value
    beyond the first become counted ``(min, min)`` self-pairs, which the
    Basic variant filters out. Reproduced here without any per-group
    sort or collect: tail occurrences of the min are ranked with a
    window and every occurrence after the first is emitted. Used by
    conformance tests; the scalable path stays ``ccf_iterate``.
    """
    from pyspark.sql.window import Window

    und = _undirected(pairs)
    mins = und.groupBy("src").agg(F.min("dst").alias("_min"))
    matched = und.join(mins, "src").where(F.col("_min") < F.col("src"))

    key_pairs = (
        mins.where(F.col("_min") < F.col("src"))
        .select("src", F.col("_min").alias("dst"))
        .withColumn(_NEW, F.lit(False))
    )
    tail_ne = matched.where(F.col("dst") != F.col("_min")).select(
        F.col("dst").alias("src"), F.col("_min").alias("dst")
    )
    dup_min = (
        matched.where(F.col("dst") == F.col("_min"))
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("src").orderBy("dst")
            ),
        )
        .where(F.col("_rn") >= 2)
        .select(F.col("dst").alias("src"), F.col("_min").alias("dst"))
    )
    val_pairs = tail_ne.unionAll(dup_min).withColumn(_NEW, F.lit(True))
    return key_pairs.unionAll(val_pairs)


def ccf_dedup(pairs: DataFrame) -> DataFrame:
    """CCF-Dedup (reference O7): one row per exact ordered pair of an
    iterate's output.

    Input: (src, dst, ``_ccf_new``), as every ``ccf_iterate*`` emits.
    Output: (src, dst, ``_n`` int), where ``_n`` counts the pair's
    ``_ccf_new`` emissions, so the iteration's new-pair count —
    ``sum(_n)`` — still counts every emission occurrence (S4) after
    the duplicates are gone. ``groupBy(src, dst)`` plans as
    partial+final HashAggregate — the same physical shape as the
    reference Scala's map((p,null)).reduceByKey
    (CCFConnectedComponents.scala:158-165), strictly better than the
    Python RDD ``distinct()``.
    """
    return pairs.groupBy("src", "dst").agg(
        F.count_if(_NEW).cast("int").alias("_n")
    )


def _has_hub(
    pairs: DataFrame, n_edges: int, skew_degree_threshold: int
) -> bool:
    """Hub-skew autodetect for ``connected_components``.

    Only probes degrees when a degree could plausibly cross the
    threshold: each input pair row contributes exactly one undirected
    row to each of its two endpoints, so no key can exceed n_edges
    rows — below the threshold the probe job is provably wasted. Above
    _PROBE_EXACT_ROWS the probe samples the edge list so its cost stays
    bounded no matter the graph size.
    """
    if n_edges < skew_degree_threshold:
        return False
    undirected = _undirected(pairs)
    fraction = _probe_fraction(n_edges, skew_degree_threshold)
    if fraction < 1.0:
        undirected = undirected.sample(
            withReplacement=False, fraction=fraction, seed=42
        )
    max_seen = (
        undirected.groupBy("src").count().agg(F.max("count")).collect()[0][0]
        or 0
    )
    # scale the sampled max back up; 2x safety factor (sampling noise
    # only matters for hubs near the threshold, where either path is
    # acceptable)
    if fraction < 1.0:
        return max_seen / fraction >= skew_degree_threshold / 2
    return max_seen >= skew_degree_threshold


def connected_components(
    edges: DataFrame,
    use_secondary_sort: bool = False,
    max_iterations: int = MAX_ITERATIONS,
    conformance: bool = False,
    skew_robust: bool | None = None,
    local_threshold: int | None = None,
    skew_degree_threshold: int = SKEW_DEGREE_THRESHOLD,
    reliable_checkpoint_dir: str | None = None,
    n_edges_hint: int | None = None,
    on_iteration: Callable[[dict], None] | None = None,
    algorithm: str = "ccf",
) -> CCFResult:
    """Fixed-point driver (reference O8, ccf_connected_components.py:190-230).

    ``algorithm``: ``"ccf"`` (default) runs the reference's CCF
    min-label propagation — O(diameter) iterations, iteration counts
    conformant with the reference goldens. ``"star"`` runs the
    alternating large-star/small-star fixed point (Kiveris et al.,
    SoCC 2014; graph/star.py) — O(log n) rounds with per-round
    intermediate state bounded by the DEDUPED canonical edge set
    (never more than n + m rows), where CCF's mid-convergence
    emission volume is unbounded in the component structure (the
    20M-edge probe peaks at 14.6× the input). Same mapping, same
    S1/S3 semantics, hash-equal partitions; choose ``"star"`` when
    the graph may hold large or high-diameter components and
    reference iteration-count conformance does not matter. The
    CCF-only knobs (``use_secondary_sort``, ``conformance``,
    ``skew_robust``, ``local_threshold``) are rejected under
    ``"star"``; ``reliable_checkpoint_dir`` / ``n_edges_hint`` /
    ``on_iteration`` carry over with the same contracts.

    Per iteration (graph/checkpointing.py ``fixed_point``): Iterate ->
    dedup before the barrier -> lazy localCheckpoint of the deduped
    pairs, whose new-pair count is the single materializing job (pins
    the result and truncates lineage); the next pass and the returned
    mapping read the checkpoint with no further shuffle. Stops when
    the new-pair count is 0 (the converging iteration is counted,
    S4). Star rounds run through the same ``fixed_point`` loop,
    converging when the round's edge-set fingerprint repeats.

    ``skew_robust``: None (default) = autodetect — when the graph is
    large enough that a single node's adjacency could overwhelm one
    window partition, probe the max undirected degree and switch to the
    AQE-skew-splittable ``ccf_iterate_join`` if it crosses
    ``skew_degree_threshold``. True/False force the choice.

    ``local_threshold``: if set and the edge count is at or below it,
    run ``ccf_fixed_point_local`` on the driver instead of the
    distributed loop (identical semantics; see its docstring for why).
    Callers with reference-harness-scale graphs (bench, experiment
    sweep) opt in; the default stays distributed. The local path
    raises ``ValueError`` when either id column is not a string (S1;
    read from the schema, no job). CALLER CONTRACT:
    the sizing count and the local path's collect are two executions
    of the input plan — if ``edges`` is the tail of an expensive
    chain (e.g. a MinHash->LSH->Jaccard candidate pipeline),
    ``localCheckpoint(eager=False)`` it first or the whole chain runs
    twice (round 11 measured ~2x stage wall in both curation
    pipelines); a plain scan/join input recomputes cheaply and needs
    no barrier.

    ``n_edges_hint``: known edge cardinality; skips the one eager
    sizing count (local-path decision, shuffle model, skew-probe
    gate) when the caller already has it from table statistics or a
    prior stage. A WRONG hint mis-sizes those heuristics but never
    affects correctness — every path computes the same fixed point.

    ``on_iteration``: optional observability hook, called once per
    iteration right after that iteration's materializing count with a
    dict ``{"iteration", "wall_sec", "new_pairs"}`` (star: ``"pairs"``,
    the canonical edge-set size, and its ``"fingerprint"``) plus, in
    reliable mode, ``"checkpoint_dir"`` and (when the directory is a
    visible local path) ``"ckpt_mb"`` — the measured on-disk size of
    the generation just written. Diagnostics only (bench per-iteration
    instrumentation, regression forensics); exceptions propagate, so
    hooks should not throw.

    ``reliable_checkpoint_dir``: when set, each iteration materializes
    as a RELIABLE barrier — a parquet write + readback under
    ``<dir>/iter-NNNN`` (HDFS/object storage on a cluster) instead of
    ``localCheckpoint``, so a multi-hour run survives executor loss;
    graph/checkpointing.py explains why parquet and not
    ``df.checkpoint()``. Iteration i's files are DELETED (Hadoop FS
    recursive delete — works for HDFS/S3A paths too) the moment
    iteration i+1 materializes, so on-disk size is one generation of
    pairs, not one per iteration; the FINAL generation's files back
    the returned mapping and are the caller's to remove (the caller
    owns the directory — deleting it while the session lives
    invalidates the returned mapping's backing files, so collect the
    mapping first). The single-driver-loop-at-a-time assumption
    documented for the shuffle-partition override still applies.

    Returns the (node, component) mapping where component is the
    lexicographically smallest node ID in the node's component; the
    representative itself is not a row (S3).
    """
    if algorithm not in ("ccf", "star"):
        raise ValueError(
            f"algorithm must be 'ccf' or 'star', got {algorithm!r}"
        )
    star = algorithm == "star"
    if star and (
        use_secondary_sort
        or conformance
        or skew_robust is not None
        or local_threshold is not None
    ):
        raise ValueError(
            "use_secondary_sort/conformance/skew_robust/local_threshold "
            "are CCF-specific; algorithm='star' does not support them"
        )

    pairs = edges.select(
        F.col(edges.columns[0]).alias("src"), F.col(edges.columns[1]).alias("dst")
    )

    spark = edges.sparkSession
    # Sizing inputs (local-path decision, shuffle-partition model,
    # skew-probe gating) need the edge cardinality. The eager count is
    # one cheap narrow scan job, worth it at 100 TB — but a caller who
    # already knows the cardinality (table stats, a prior stage's
    # count) can pass ``n_edges_hint`` and skip the extra job entirely
    # (the round-7 per-invocation watch item).
    n_edges = n_edges_hint if n_edges_hint is not None else pairs.count()

    if local_threshold is not None and n_edges <= local_threshold:
        bad = [
            f"{f.name} {f.dataType.simpleString()}"
            for f in pairs.schema.fields
            if not isinstance(f.dataType, T.StringType)
        ]
        if bad:
            raise ValueError(
                "the driver-local CC path needs string node ids (S1: "
                "ids are strings, min is lexicographic); got "
                + ", ".join(bad)
            )
        import pyarrow as pa

        # Arrow at both driver boundaries (optimization round 13,
        # guide §6 "Arrow for driver transfers"): toArrow() replaces
        # the row-pickle collect and a pyarrow Table replaces the
        # pandas object-dtype round-trip — identical values (None
        # included), measured ~1 s less per call at the capstone's
        # 235k-edge size (collect 1.1 s -> 0.4 s, createDataFrame
        # 0.9 s -> 0.8 s).
        tbl = pairs.toArrow()
        final, iterations, converged, counts = ccf_fixed_point_local(
            list(zip(tbl.column(0).to_pylist(), tbl.column(1).to_pylist())),
            max_iterations,
        )
        out = pa.table(
            {
                "node": pa.array([p[0] for p in final], type=pa.string()),
                "component": pa.array(
                    [p[1] for p in final], type=pa.string()
                ),
            }
        )
        mapping = spark.createDataFrame(out, schema="node string, component string")
        return CCFResult(
            mapping=mapping,
            iterations=iterations,
            converged=converged,
            new_pair_counts=counts,
            iterate_path="local",
        )

    if star:
        from map_reduce_project_spark.graph.star import (
            star_fingerprint,
            star_round,
        )

        # converged when a round's fingerprint repeats the previous one
        step, measure, until = star_round, star_fingerprint, eq
        path = "star"
    else:
        until = None

        def measure(deduped: DataFrame) -> dict:
            n = deduped.agg(F.sum("_n")).collect()[0][0]
            return {"new_pairs": n or 0}

        if use_secondary_sort:
            iterate = (
                ccf_iterate_secondary_sort_conformance
                if conformance
                else ccf_iterate_secondary_sort
            )
            path = "secondary_sort"
        else:
            if skew_robust is None:
                skew_robust = _has_hub(
                    pairs, n_edges, skew_degree_threshold
                )
            if skew_robust:
                # groupBy+join formulation: AQE can skew-split the
                # join when a hub node's adjacency would overwhelm one
                # window partition
                iterate, path = ccf_iterate_join, "join"
            else:
                iterate, path = ccf_iterate, "window"

        # NB: deduping physically every iteration is a MEASURED win
        # over fusing the dedup into the next window pass
        # (adjacent-duplicate lag filter, one shuffle/round):
        # converging CC emits the same (node, min) pair from many
        # groups, so the carried duplicate volume costs more than the
        # saved exchange (500k probe: 10.9s -> 15.4s fused). It runs
        # BEFORE the barrier so it is planned once: after it, each
        # branch of the next pass's self-union would plan its own
        # (their inferred filters differ, so no exchange reuse).
        def step(state: DataFrame) -> DataFrame:
            return ccf_dedup(iterate(state))

    # Size the loop's shuffles from the data, not from session
    # defaults (see _loop_shuffle_partitions: sqrt-of-volume optimum
    # under a per-partition memory cap). AQE's per-stage adaptive
    # barriers cost ~0.5s/iteration, which dominates sub-second
    # stages, so it is disabled while the loop runs SMALL graphs and
    # left on (skew-join splitting, coalescing) at scale.
    target = _loop_shuffle_partitions(n_edges)
    small = target <= 64
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.shuffle.partitions", str(target))
    if small:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
    if pairs.rdd.getNumPartitions() > target:
        pairs = pairs.coalesce(target)

    from map_reduce_project_spark.graph.checkpointing import fixed_point

    # one lazy-checkpoint barrier per iteration whose measure is the
    # materializing action: ONE job per iteration (the reference runs
    # two, and its Python variant re-executes the reduce phase in the
    # second — SURVEY.md §3.1); reliable mode trades that for
    # executor-loss tolerance (see the docstring and
    # graph/checkpointing.py)
    try:
        fp = fixed_point(
            pairs,
            step,
            max_steps=max_iterations,
            measure=measure,
            until=until,
            reliable_dir=reliable_checkpoint_dir,
            on_iteration=on_iteration,
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)

    # star: one flag per round, 1 = the canonical edge set changed
    counts = (
        [int(m != p) for p, m in zip([None, *fp.measures], fp.measures)]
        if star
        else [m["new_pairs"] for m in fp.measures]
    )
    return CCFResult(
        mapping=fp.state.select(
            F.col("src").alias("node"), F.col("dst").alias("component")
        ),
        iterations=fp.iterations,
        converged=fp.converged,
        new_pair_counts=counts,
        iterate_path=path,
    )


def component_count(mapping: DataFrame) -> int:
    """Distinct component IDs (reference O10, ccf_experiments.py:137)."""
    return mapping.select("component").distinct().count()


def component_summary(mapping: DataFrame) -> DataFrame:
    """(component, members, size) — reference O11.

    The algorithm never emits the representative as a member (S3;
    reference re-adds it at ccf_connected_components.py:282), so the
    member list is array_union'd with the component ID itself before
    sorting. Output: component string, members array<string>, size long.
    """
    return (
        mapping.groupBy("component")
        .agg(F.collect_list("node").alias("_members"))
        .select(
            "component",
            F.array_sort(
                F.array_union("_members", F.array(F.col("component")))
            ).alias("members"),
        )
        .withColumn("size", F.size("members").cast("long"))
    )


def connected_components_incremental(
    mapping: DataFrame,
    new_edges: DataFrame,
    **kwargs,
) -> CCFResult:
    """Incremental CC maintenance: fold NEW edges into an EXISTING
    (node, component) mapping without re-traversing the old graph.

    The mapping itself is a set of (node -> representative) edges that
    already encodes the old graph's connectivity (every old component
    is a star around its representative), so the union
    ``mapping-as-edges + new_edges`` has the same components as
    ``old_edges + new_edges`` — but with the old components'
    diameters collapsed to 1. The fixed point therefore converges in
    O(log of the NEW merge chain), independent of the old graph's
    size or diameter; at 100 TB this is the difference between a
    nightly full recompute and a minutes-long delta run. Equality
    with the full recompute is property-tested
    (``test_incremental_cc_matches_full``).
    """
    star_edges = mapping.select(
        F.col(mapping.columns[0]).alias("src"),
        F.col(mapping.columns[1]).alias("dst"),
    )
    fresh = new_edges.select(
        F.col(new_edges.columns[0]).alias("src"),
        F.col(new_edges.columns[1]).alias("dst"),
    )
    return connected_components(star_edges.unionAll(fresh), **kwargs)
