"""CheckpointCycler ownership: the cycler frees exactly the
generations it claimed through ``cycle(df)`` and can never touch a
concurrent persist on the same session (the round-3 verdict's
shared-session hazard, closed by the ownership model), and the
``fixed_point`` loop: same Spark jobs as the hand-rolled loops it
replaced, no checkpoint residue past a result, the CC conf scope, and
the allow-list of loops still driving a cycler by hand."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from map_reduce_project_spark.graph.checkpointing import (
    CheckpointCycler,
    _persistent_rdd_ids,
    _rdd_leaf_ids,
    _unpersist_rdds,
    checkpoint_rdd_ids,
)


def test_checkpoint_rdd_ids_match_registration(spark):
    before = _persistent_rdd_ids(spark)
    df = spark.range(100).selectExpr("id", "id * 2 AS y")
    cdf = df.localCheckpoint(eager=False)
    ids = checkpoint_rdd_ids(cdf)
    assert len(ids) == 1
    # the claimed id is the one the registration map just gained
    assert ids <= _persistent_rdd_ids(spark) - before
    cdf.unpersist()


def test_checkpoint_rdd_ids_rejects_plain_df(spark):
    # a non-checkpointed DataFrame must be refused loudly — silently
    # claiming nothing would defeat the block release
    with pytest.raises(ValueError, match="checkpointed"):
        checkpoint_rdd_ids(spark.range(10).selectExpr("id"))


def test_cycle_requires_dataframe(spark):
    cycler = CheckpointCycler(spark)
    with pytest.raises(TypeError, match="checkpointed DataFrame"):
        cycler.cycle()


def test_cycle_frees_previous_generation_only(spark):
    cycler = CheckpointCycler(spark)
    g1 = spark.range(50).localCheckpoint(eager=True)
    cycler.cycle(g1)
    g1_ids = checkpoint_rdd_ids(g1)
    assert g1_ids <= _persistent_rdd_ids(spark)

    g2 = g1.withColumn("y", F.col("id") + 1).localCheckpoint(eager=True)
    cycler.cycle(g2)
    # generation 1 released, generation 2 live
    assert not (g1_ids & _persistent_rdd_ids(spark))
    assert checkpoint_rdd_ids(g2) <= _persistent_rdd_ids(spark)
    assert g2.count() == 50
    g2.unpersist()


def test_concurrent_persist_survives_cycling(spark):
    # a checkpoint created BETWEEN two cycle() calls by a concurrent
    # query on the same session must survive the loop's cycling — the
    # old diff-based cycler would have claimed and freed it
    cycler = CheckpointCycler(spark)
    loop_df = spark.range(40).localCheckpoint(eager=True)
    cycler.cycle(loop_df)

    bystander = (
        spark.range(1000)
        .selectExpr("id", "id % 7 AS k")
        .localCheckpoint(eager=True)
    )
    bystander_ids = checkpoint_rdd_ids(bystander)

    for _ in range(3):
        loop_df = loop_df.withColumn(
            "id", F.col("id") + 1
        ).localCheckpoint(eager=True)
        cycler.cycle(loop_df)

    # the bystander is still registered AND still fully readable
    assert bystander_ids <= _persistent_rdd_ids(spark)
    assert bystander.count() == 1000
    assert loop_df.count() == 40
    bystander.unpersist()
    loop_df.unpersist()


def test_multi_state_generation(spark):
    # BFS-style loops claim several DataFrames per round; the whole
    # set is freed together on the next cycle
    cycler = CheckpointCycler(spark)
    a1 = spark.range(10).localCheckpoint(eager=True)
    b1 = spark.range(20).localCheckpoint(eager=True)
    cycler.cycle(a1, b1)
    gen1 = checkpoint_rdd_ids(a1) | checkpoint_rdd_ids(b1)

    a2 = a1.selectExpr("id + 1 AS id").localCheckpoint(eager=True)
    b2 = b1.selectExpr("id + 1 AS id").localCheckpoint(eager=True)
    cycler.cycle(a2, b2)
    assert not (gen1 & _persistent_rdd_ids(spark))
    assert a2.count() == 10 and b2.count() == 20
    a2.unpersist()
    b2.unpersist()


# --- fixed_point ----------------------------------------------------

_E = [("0", "1"), ("1", "2"), ("2", "0"), ("2", "3"), ("4", "5")]
_DAG = [("a", "b"), ("b", "c"), ("a", "c")]


def _loops(spark):
    """(name, call) per loop ``fixed_point`` runs, and per hand-run
    loop that ends with ``release_unread``, on small inputs."""
    from map_reduce_project_spark.graph import analytics as A
    from map_reduce_project_spark.graph import connected_components
    from map_reduce_project_spark.operators.text import bpe_apply, bpe_train

    def e():
        return spark.createDataFrame(_E, "src string, dst string")

    def we():
        return spark.createDataFrame(
            [(s, d, i % 3 + 1) for i, (s, d) in enumerate(_E)],
            "src string, dst string, w long",
        )

    def seeds(k):
        return spark.createDataFrame([(str(i),) for i in range(k)], "node string")

    def dag():
        return spark.createDataFrame(_DAG, "src string, dst string")

    def docs():
        return spark.createDataFrame(
            [(1, "a b a b c"), (2, "a b c c")], "doc_id int, text string"
        )

    def min_reach():
        d = A._directed_simple_edges(dag())
        nodes = d.select(F.col("src").alias("node")).union(
            d.select(F.col("dst").alias("node"))
        ).distinct()
        return A._min_reach_labels(d, nodes)

    return {
        "ccf_window": lambda: connected_components(e()).mapping,
        "star": lambda: connected_components(e(), algorithm="star").mapping,
        "k_core": lambda: A.k_core(e(), 2),
        "pagerank_int": lambda: A.pagerank_int(e(), iterations=3),
        "label_propagation": lambda: A.label_propagation(e(), rounds=2),
        "personalized_pagerank_int": lambda: A.personalized_pagerank_int(
            e(), seeds(2), iterations=2
        ),
        "pagerank_weighted_int": lambda: A.pagerank_weighted_int(
            we(), iterations=2
        ),
        "bounded_sssp": lambda: A.bounded_sssp(we(), seeds(2), rounds=2),
        "sssp_int": lambda: A.sssp_int(we(), seeds(3)),
        "sssp_rows": lambda: A.sssp_int(we(), seeds(1)),
        "min_reach_labels": min_reach,
        "dag_longest_path_levels": lambda: A.dag_longest_path_levels(dag()),
        "bpe_apply": lambda: bpe_apply(docs(), [("a", "b"), ("ab", "c")]),
        "bfs_hops": lambda: A.bfs_hops(e(), seeds(1)),
        "per_seed_bfs": lambda: A.per_seed_bfs(e(), seeds(4)),
        "per_seed_bfs_rows": lambda: A.per_seed_bfs(e(), seeds(2)),
        "shortest_path_counts": lambda: A.shortest_path_counts(e(), seeds(4)),
        "shortest_path_counts_rows": lambda: A.shortest_path_counts(
            e(), seeds(2)
        ),
        "k_truss": lambda: A.k_truss(e(), 3),
        "bpe_train": lambda: bpe_train(docs(), n_merges=2),
    }


# Spark jobs each loop runs on these inputs (AQE off, 4 shuffle
# partitions). Moving a loop onto ``fixed_point`` or adding its
# end-of-loop release is a refactor and must leave its count as is;
# the sssp loops' barrier is a lazy checkpoint forced by the change
# count, one job per barrier.
_JOBS = {
    "ccf_window": 4,
    "star": 3,
    "k_core": 3,
    "pagerank_int": 5,
    "label_propagation": 2,
    "personalized_pagerank_int": 6,
    "pagerank_weighted_int": 4,
    "bounded_sssp": 2,
    "sssp_int": 6,
    "sssp_rows": 5,
    "min_reach_labels": 2,
    "dag_longest_path_levels": 4,
    "bpe_apply": 2,
    "bfs_hops": 8,
    "per_seed_bfs": 13,
    "per_seed_bfs_rows": 12,
    "shortest_path_counts": 18,
    "shortest_path_counts_rows": 24,
    "k_truss": 6,
    "bpe_train": 4,
}

# Loops whose result is built on the driver and reads no checkpoint, so
# a clean call leaves nothing pinned at all.
_PINS_NOTHING = {"bpe_train"}


def test_ported_loops_same_jobs_and_no_residue(spark):
    # One session, every loop: the job count equals the count before
    # the refactor, and the only checkpoints a call leaves pinned are
    # the ones its result reads (its own final generation).
    sc = spark.sparkContext
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    jobs, residue = {}, {}
    try:
        for name, call in _loops(spark).items():
            before = _persistent_rdd_ids(spark)
            sc.setJobGroup(f"fixed-point-{name}", name)
            try:
                result = call()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            jobs[name] = len(
                sc.statusTracker().getJobIdsForGroup(f"fixed-point-{name}")
            )
            new = _persistent_rdd_ids(spark) - before
            if (not new and name not in _PINS_NOTHING) or (
                new - _rdd_leaf_ids(result)
            ):
                residue[name] = new - _rdd_leaf_ids(result)
            _unpersist_rdds(spark, new)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
    assert jobs == _JOBS
    assert residue == {}


def test_cc_conf_restored_when_a_step_raises(spark, monkeypatch):
    from map_reduce_project_spark.graph import ccf
    from map_reduce_project_spark.graph.generators import edges_df

    calls = []

    def boom(pairs):
        calls.append(1)
        if len(calls) == 2:
            raise RuntimeError("step failed")
        return pairs.select("src", "dst").withColumn(ccf._NEW, F.lit(True))

    monkeypatch.setattr(ccf, "ccf_iterate", boom)
    old = {
        k: spark.conf.get(k)
        for k in ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    }
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try:
        with pytest.raises(RuntimeError, match="step failed"):
            ccf.connected_components(edges_df(spark, _E))
        assert len(calls) == 2
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


# Loops still driving a CheckpointCycler by hand, each of a shape
# ``fixed_point`` does not cover yet. This list may only shrink: a
# loop ported onto ``fixed_point`` leaves it.
_HAND_ROLLED = {
    ("graph/analytics.py", "_bfs_hops_on"),
    ("graph/analytics.py", "_bfs_mask_levels"),
    ("graph/analytics.py", "_per_seed_bfs_rows"),
    ("graph/analytics.py", "_shortest_path_counts_rows"),
    ("graph/analytics.py", "strongly_connected_components_directed"),
    ("graph/analytics.py", "minimum_spanning_forest"),
    ("graph/analytics.py", "k_truss"),
    ("operators/text.py", "bpe_train"),
    ("operators/text.py", "unigram_train"),
    ("queries/graph_queries.py", "cc_streaming_incremental"),
}


def test_cycler_constructed_only_in_checkpointing_or_allow_list():
    import ast
    from pathlib import Path

    import map_reduce_project_spark

    root = Path(map_reduce_project_spark.__file__).parent
    found = set()
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel == "graph/checkpointing.py":
            continue
        tree = ast.parse(path.read_text())
        for top in tree.body:
            for node in ast.walk(top):
                if (
                    isinstance(node, ast.Call)
                    and getattr(node.func, "id", None) == "CheckpointCycler"
                ):
                    found.add((rel, getattr(top, "name", "<module>")))
    assert found == _HAND_ROLLED
