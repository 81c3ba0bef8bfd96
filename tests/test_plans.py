"""Physical-plan shape tests (plan_inspect helpers):
the scale contract is asserted, not hoped for. A change that silently
de-optimizes a headline query (kills pushdown, drops a broadcast,
adds a shuffle to the CCF loop) fails here instead of at 100 TB."""

from __future__ import annotations

import re

import pytest

from map_reduce_project_spark.graph.ccf import ccf_iterate, ccf_iterate_join
from plan_inspect import (
    codegen_fraction,
    formatted_plan,
    num_exchanges,
    pushed_filters,
    scan_columns,
    uses_broadcast_join,
)
from map_reduce_project_spark.queries import all_queries

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def registry():
    return all_queries()


def test_filter_reaches_parquet_scan(spark, registry):
    df = registry["q2_filter_project"].fn(spark, SF)
    pushed = " ".join(pushed_filters(df))
    assert "o_orderstatus" in pushed  # EqualTo pushed into the scan
    assert "o_totalprice" in pushed  # GreaterThan pushed into the scan


def test_scan_prunes_columns(spark, registry):
    df = registry["q2_filter_project"].fn(spark, SF)
    cols = scan_columns(df)
    # orders has 9 columns; the query needs exactly these 5
    assert cols == {
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
    }


def test_small_dims_broadcast(spark, registry):
    # region/nation/supplier are small dims — the 5-way star join must
    # plan broadcast hash joins, not sort-merge shuffles of lineitem
    df = registry["q5_region_revenue"].fn(spark, SF)
    assert uses_broadcast_join(df)


def test_ccf_iterate_is_single_shuffle(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "src string, dst string"
    )
    assert num_exchanges(ccf_iterate(edges)) == 1
    # the skew-robust join formulation trades that for AQE-splittable
    # joins — more exchanges by design
    assert num_exchanges(ccf_iterate_join(edges)) > 1


def test_cc_iteration_shuffles_state_once(spark, monkeypatch):
    # Dedup runs before the barrier, so the checkpointed state is read
    # with no shuffle: a window iteration plans the window's exchange
    # and the dedup's, nothing else, and a join iteration plans its
    # dedup exchange once (deduping the state lazily after the barrier
    # planned it again under each branch of the self-union). Each
    # iteration is the loop's own step over the state it ended on. One
    # star round plans one window per half-round.
    from plan_inspect import operator_counts, simple_plan

    from map_reduce_project_spark.graph import checkpointing
    from map_reduce_project_spark.graph.ccf import connected_components
    from map_reduce_project_spark.graph.star import star_round

    real, nxt = checkpointing.fixed_point, []

    def spy(state, step, **kw):
        fp = real(state, step, **kw)
        nxt.append(step(fp.state))
        return fp

    monkeypatch.setattr(checkpointing, "fixed_point", spy)
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("e", "f")],
        "src string, dst string",
    )
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        connected_components(edges)
        connected_components(edges, skew_robust=True)
        window, join = map(simple_plan, nxt)
        assert num_exchanges(nxt[0]) == 2, window
        dedups = re.findall(
            r"\bExchange hashpartitioning\(src#\d+, dst#\d+, \d+\)", join
        )
        assert len(dedups) == 1, join
        ckpt = spark.createDataFrame(
            [("b", "a"), ("c", "b")], "src string, dst string"
        ).localCheckpoint()
        round_ = star_round(ckpt)
        assert operator_counts(round_).get("Window", 0) == 2
        assert num_exchanges(round_) == 3
        ckpt.unpersist()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)


def test_agg_query_stays_in_codegen(spark, registry):
    # whole-stage codegen annotations are only emitted on non-adaptive
    # plans; toggle AQE off just for the plan build
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = registry["q1_pricing_summary"].fn(spark, SF)
        assert codegen_fraction(df) >= 0.5
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)


def test_groupby_is_one_shuffle(spark, registry):
    # partial+final hash aggregation: exactly one exchange for a
    # single groupBy — more would mean Catalyst lost the partial agg
    df = registry["q1_pricing_summary"].fn(spark, SF)
    assert num_exchanges(df) == 1


def test_pivot_is_one_shuffle_no_distinct_job(spark, registry):
    # explicit pivot values: one partial+final agg exchange, and no
    # second aggregate from a hidden distinct-values scan
    df = registry["q28_pivot"].fn(spark, SF)
    assert num_exchanges(df) == 1


def test_vector_unnest_explodes_before_single_shuffle(spark, registry):
    # posexplode is a narrow Generate; only the 64-group agg shuffles
    from plan_inspect import operator_counts

    df = registry["q30_vector_unnest"].fn(spark, SF)
    ops = operator_counts(df)
    assert num_exchanges(df) == 1
    assert any("Generate" in k for k in ops)
    # vec_id filter still reaches the parquet scan under the explode
    assert "vec_id" in " ".join(pushed_filters(df))


def test_funnel_stage_scans_prune_event_type(spark, registry):
    # each funnel stage must push its event_type equality into the scan
    df = registry["ev_funnel"].fn(spark, SF)
    pushed = " ".join(pushed_filters(df))
    assert "event_type" in pushed


def test_chunking_is_shuffle_free(spark, registry):
    # context-window chunking is scan -> generate -> project: the
    # fan-out must stay inside the row's task, no exchange anywhere
    df = registry["text_chunks"].fn(spark, SF)
    assert num_exchanges(df) == 0


def test_path_ngrams_is_two_shuffles(spark, registry):
    # one exchange groups events per user (ordered inside the agg via
    # sort_array, no window sort pass), one aggregates global trigram
    # counts; nothing else
    df = registry["ev_path_ngrams"].fn(spark, SF)
    assert num_exchanges(df) == 2


def test_jaccard_prunes_to_candidates_with_broadcast(spark, registry):
    # the two-pass verify operator must semi-join docs against the
    # (small) candidate id set via broadcast before any shingle
    # explode (the gate query itself now runs the fused single-pass
    # plan, tested below)
    from map_reduce_project_spark.operators.dedup import jaccard_verify
    from map_reduce_project_spark.sources.io import read_table

    docs = read_table(spark, SF, "documents").select("doc_id", "text")
    cands = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    plan = jaccard_verify(docs, cands)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_fused_dedup_is_single_shingle_pass(spark, registry):
    # the fused pipeline must shingle ONCE: the per-doc signature+set
    # table is checkpointed, so banding and both verification sides
    # scan the materialized RDD — the only remaining Generate is the
    # band-struct explode; the shingle explode appears zero times
    df = registry["dedup_jaccard_verified"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # band-struct explode only (once per candidate-join side, off the
    # materialized table); the expensive shingle explode appears zero
    # times
    assert plan.count("Generate explode") == 2
    assert "transform(sequence" not in plan  # no shingle recompute
    assert "ExistingRDD" in plan  # checkpointed per-doc table


def test_contamination_broadcasts_eval_grams(spark, registry):
    # the eval n-gram set must broadcast; the train-side n-gram
    # stream joins map-side, never shuffling on the gram key
    df = registry["decontaminate_train"].fn(spark, SF)
    assert uses_broadcast_join(df)


def test_pii_scrub_is_shuffle_free_scan(spark, registry):
    # redaction must run at scan speed: a narrow regex projection with
    # zero exchanges, reading only the two columns it needs
    df = registry["text_pii_scrub"].fn(spark, SF)
    assert num_exchanges(df) == 0
    assert scan_columns(df) == {"doc_id", "text"}


def test_winnow_pairs_reuses_fingerprint_exchange(spark, registry):
    # winnowed fingerprints fold inside the scan stage (no explode
    # until pairing); the fp self-join + pair count must plan ONE
    # exchange with the second side a ReusedExchange
    df = registry["dedup_winnow_pairs"].fn(spark, SF)
    assert num_exchanges(df) == 1


def test_unigram_join_broadcasts_freq_table(spark, registry):
    # token->freq is Zipf-small: the join back must not shuffle the
    # exploded token stream a second time (freq agg + doc agg only)
    df = registry["text_unigram_scores"].fn(spark, SF)
    assert num_exchanges(df) == 2


def test_retention_cohort_shuffle_budget(spark, registry):
    # two aggs + distinct + join, all user-keyed: 4 exchanges max
    df = registry["ev_retention_cohorts"].fn(spark, SF)
    assert num_exchanges(df) <= 4


def test_arrow_topk_single_exchange(spark, registry):
    # mapInArrow corpus streaming: the ONLY exchange in the plan is
    # the final window over the batch-pruned candidates — no shuffle
    # of the corpus, no explode, no join
    df = registry["ann_arrow_topk"].fn(spark, SF)
    assert num_exchanges(df) == 1
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan or "ArrowEvalPython" in plan


def test_bow_cosine_posting_list_built_once(spark, registry):
    # the DF-pruned posting list feeds three consumers; the lazy
    # checkpoint must collapse the re-derivations (19 exchanges
    # before, 3 after: tok agg, df agg, final dot agg — the posting
    # self-join rides the checkpoint's partitioning)
    df = registry["text_bow_cosine"].fn(spark, SF)
    assert num_exchanges(df) <= 4


def test_temperature_sample_broadcasts_targets(spark, registry):
    # target table (one row per group) must broadcast back, never
    # shuffle the corpus for it; one rank window + count aggs remain
    df = registry["sample_lang_temperature"].fn(spark, SF)
    assert uses_broadcast_join(df)
    assert num_exchanges(df) <= 4


def test_gap_fill_shuffles_only_on_key(spark, registry):
    # bucket agg + span agg, then the grid-counts join co-partitions:
    # two exchanges total, dim side broadcast
    df = registry["ev_gap_fill"].fn(spark, SF)
    assert num_exchanges(df) <= 2


def test_curation_funnel_two_exchanges(spark, registry):
    # dedup rank window + single-row aggregate; nothing else moves
    df = registry["curation_funnel"].fn(spark, SF)
    assert num_exchanges(df) <= 2


def test_triangles_orient_subtree_built_once(spark, registry):
    # oriented edges feed five consumers; the checkpoint collapses
    # the canon/degree/orient re-derivations (122 exchanges -> 8)
    df = registry["cc_triangles"].fn(spark, SF)
    assert num_exchanges(df) <= 10


def test_ivf_element_tables_built_once(spark, registry):
    # element/norm tables feed the quantizer and both search sides
    df = registry["ann_ivf_topk"].fn(spark, SF)
    assert num_exchanges(df) <= 10


def test_classifier_inference_is_one_shuffle_no_python(spark, registry):
    # hashed-weight lookup is map-side arithmetic: the whole scoring
    # pass is explode -> project -> partial+final agg. One exchange,
    # no Python evaluation anywhere in the plan.
    from plan_inspect import operator_counts

    df = registry["text_quality_classifier"].fn(spark, SF)
    assert num_exchanges(df) == 1
    ops = " ".join(operator_counts(df))
    assert "ArrowEvalPython" not in ops and "BatchEvalPython" not in ops


def test_merge_upsert_is_single_join(spark, registry):
    # MERGE lowers to exactly one join (the full-outer on the merge
    # key) — a second join would mean the update/insert branches
    # re-scanned a side
    from plan_inspect import operator_counts

    df = registry["q48_merge_upsert"].fn(spark, SF)
    joins = sum(
        v for k, v in operator_counts(df).items() if "Join" in k
    )
    assert joins == 1


def test_srp_has_no_join_wider_than_broadcast(spark, registry):
    # the projection matrix is never materialized: the only join is
    # the broadcast cross of the 16-row output-dim table (plans as
    # BroadcastNestedLoopJoin), and the sign-weighted sum is partial
    # (map-side) so the single exchange carries (id, j) partials only
    from plan_inspect import operator_counts

    df = registry["emb_srp_project"].fn(spark, SF)
    ops = operator_counts(df)
    joins = {k: v for k, v in ops.items() if "Join" in k}
    assert joins and all("Broadcast" in k for k in joins)
    assert num_exchanges(df) == 1


def test_semdedup_assignment_broadcasts_centroids(spark, registry):
    # centroid tables ride broadcasts; the only non-broadcast
    # shuffles are the keyed aggregations
    df = registry["dedup_semantic"].fn(spark, SF)
    assert uses_broadcast_join(df)


def test_scd2_is_single_window_pass(spark, registry):
    # one shuffle on the dimension key feeds every version column
    df = registry["q49_scd2_history"].fn(spark, SF)
    assert num_exchanges(df) == 1


def test_interval_overlap_join_has_no_distinct(spark, registry):
    # the overlap-start-bucket trick makes output duplicate-free by
    # construction — a Deduplicate/Distinct in the plan would mean the
    # trick regressed into a post-join dedup pass
    from plan_inspect import operator_counts

    df = registry["range_session_blast"].fn(spark, SF)
    ops = " ".join(operator_counts(df))
    assert "Deduplicate" not in ops and "Distinct" not in ops


def test_pq_adc_broadcasts_lookup_tables(spark, registry):
    # ADC's per-query lookup tables must broadcast; the target side
    # touches only the 8-byte code table
    df = registry["ann_pq_adc"].fn(spark, SF)
    assert uses_broadcast_join(df)


def test_join_hints_select_physical_strategy(spark):
    # the engine exposes Spark's join-strategy hints; pin that each
    # hint actually selects its physical operator (a silently ignored
    # hint is the failure mode — Spark drops unknown/inapplicable
    # hints without erroring)
    from plan_inspect import simple_plan

    left = spark.range(10_000).selectExpr("id AS k", "id % 7 AS v")
    right = spark.range(1_000).selectExpr("id AS k", "id % 5 AS w")
    merged = left.join(right.hint("merge"), "k")
    assert "SortMergeJoin" in simple_plan(merged)
    hashed = left.join(right.hint("shuffle_hash"), "k")
    assert "ShuffledHashJoin" in simple_plan(hashed)
    bcast = left.join(right.hint("broadcast"), "k")
    assert "BroadcastHashJoin" in simple_plan(bcast)


def test_sketch_plans_broadcast_the_sketch(spark, registry):
    # the whole point of a sketch is that the big side never shuffles:
    # the CM table and the Bloom bit set must reach the probe side as
    # broadcasts, never as shuffle-join inputs
    cm = registry["sketch_count_min"].fn(spark, SF)
    assert uses_broadcast_join(cm)
    bloom = registry["dedup_bloom_probe"].fn(spark, SF)
    assert uses_broadcast_join(bloom)


def test_blocked_fuzzy_has_no_cross_join(spark, registry):
    # the scale-true ER formulation: quadratic only within a block —
    # the plan must contain a block-key equi-join and no cartesian
    from plan_inspect import simple_plan

    df = registry["q64_blocked_fuzzy"].fn(spark, SF)
    plan = simple_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bootstrap_is_zero_shuffle(spark, registry):
    from plan_inspect import num_exchanges

    df = registry["sample_bootstrap"].fn(spark, SF)
    assert num_exchanges(df) == 0


def test_tpch_q74_broadcasts_dims_single_fk_shuffle(spark, registry):
    # the five-join Q7 chain must broadcast every dim side; the only
    # exchanges are the lineitem->orders FK join and the final agg
    df = registry["q74_nation_volume"].fn(spark, SF)
    assert uses_broadcast_join(df)
    assert num_exchanges(df) <= 3


def test_tpch_q79_has_no_cartesian_and_prunes_part(spark, registry):
    from plan_inspect import simple_plan

    df = registry["q79_small_qty_revenue"].fn(spark, SF)
    plan = simple_plan(df)
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan
    # the brand filter must reach the part scan
    assert "p_brand" in " ".join(pushed_filters(df))


def test_new_graph_queries_have_no_cartesian(spark, registry):
    from plan_inspect import simple_plan

    for name in ("betweenness_evidence", "graph_walk_pairs"):
        df = registry[name].fn(spark, SF)
        plan = simple_plan(df)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoop" not in plan, name


def test_bottom_k_sample_is_distributed_topk(spark, registry):
    # the k-draw must plan as TakeOrderedAndProject (per-partition
    # heaps), never a single-partition global sort of the corpus;
    # the rank window afterwards touches exactly k rows
    df = registry["sample_bottom_k"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_sql_udf_inlined_no_python_boundary(spark, registry):
    # CREATE FUNCTION scalar SQL UDFs must be expanded by Catalyst
    # into plain expressions: no Python eval operator, and the whole
    # agg stays a one-shuffle hash aggregate
    from plan_inspect import operator_counts

    df = registry["q94_sql_udf"].fn(spark, SF)
    ops = " ".join(operator_counts(df))
    assert "BatchEvalPython" not in ops and "ArrowEvalPython" not in ops
    assert num_exchanges(df) <= 1


def test_sql_tvf_filter_pushed_to_scan(spark, registry):
    # the TVF's WHERE must reach the parquet scan as a pushed filter
    df = registry["q97_sql_tvf"].fn(spark, SF)
    pushed = " ".join(pushed_filters(df))
    assert "o_totalprice" in pushed


def test_asof_nearest_single_sorted_window_pass(spark, registry):
    # backward + forward candidates must fuse into ONE Window over
    # ONE sort (same partitioning/ordering); budget: the clicks-dedup
    # agg exchange + the window exchange
    from plan_inspect import operator_counts

    df = registry["asof_nearest"].fn(spark, SF)
    assert num_exchanges(df) <= 2
    oc = operator_counts(df)
    assert oc.get("Window", 0) == 1
    assert oc.get("Sort", 0) == 1


def test_dynamic_partition_pruning_fires(spark, tmp_path):
    # the 100 TB pattern: a fact table partitioned on the join key +
    # a selective dim filter => Spark must prune fact partitions at
    # RUNTIME from the dim side (dynamicpruning expression in the
    # fact scan), not scan all partitions
    import pyspark.sql.functions as F

    fact_dir = str(tmp_path / "fact_part")
    orders = spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
    orders.write.partitionBy("o_orderpriority").mode("overwrite").parquet(
        fact_dir
    )
    fact = spark.read.parquet(fact_dir)
    dim = (
        orders.select("o_orderpriority")
        .distinct()
        .withColumn("tier", F.substring("o_orderpriority", 1, 1))
    )
    joined = fact.join(dim.where(F.col("tier") == "1"), "o_orderpriority")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    # and the result is the pruned subset
    assert (
        joined.count()
        == orders.where("o_orderpriority = '1-URGENT'").count()
    )


def test_expensive_explodes_carry_no_inferred_scan_filter(spark, registry):
    # InferFiltersFromGenerate + pushdown can re-inline an expensive
    # array expression (shingles, winnow fingerprints, chunks) as a
    # size(...) > 0 filter at the NARROW pre-fan_out scan stage —
    # the whole per-doc compute then runs serialized on one or two
    # scan partitions AND twice overall (round 5: winnowing at sf0.1
    # wedged 30+ minutes; 7 s once the explodes went outer). Pin
    # that no Filter in these plans evaluates a higher-order
    # function: the compute must appear exactly once, in a Project
    # above the fan-out Exchange.
    from plan_inspect import formatted_plan

    for name in ("dedup_winnow_pairs", "dedup_minhash_candidates",
                 "text_chunks", "decontaminate_train"):
        plan = formatted_plan(registry[name].fn(spark, SF))
        for block in plan.split("\n\n"):
            if block.lstrip().startswith(("(", "==")) and "Filter" in block.split("\n")[0]:
                assert "lambdafunction" not in block, (
                    f"{name}: inferred filter re-inlines HOF compute:\n"
                    + block[:400]
                )


def test_link_prediction_exchanges_are_volume_sized(spark, registry):
    # cc_link_prediction's self-join emits sum(C(deg_s, 2)) pair rows;
    # the plan must carry USER-NUMBERED repartitions (AQE never
    # coalesces REPARTITION_BY_NUM) on both the join key s and the
    # pair-count key (p1, p2), so partition sizes track measured pair
    # volume instead of the session default — the fix that took the
    # sf0.1 vanilla-session run from OOM to 88s (round 6)
    df = registry["cc_link_prediction"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = [ln for ln in plan.splitlines() if "REPARTITION_BY_NUM" in ln]
    assert any(
        "hashpartitioning(p1" in ln and ", p2" in ln for ln in lines
    ), lines
    assert any("hashpartitioning(s#" in ln for ln in lines), lines


def test_gram_matrix_single_partials_exchange(spark, registry):
    # emb_gram_matrix expands pairs by DOUBLE posexplode of the same
    # row (never a self-join), so the corpus must not shuffle: the
    # plan's ONLY exchange carries the dims^2-bounded (i, j) partials
    df = registry["emb_gram_matrix"].fn(spark, SF)
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"\bExchange\b", plan)) == 1, plan[:500]
    assert "Join" not in plan


def test_triangles_hot_path_int64_and_volume_sized(spark, registry):
    # cc_triangles' wedge join emits sum(in(v)*out(v)) rows (~49M at
    # sf0.1). Two pins that together took the vanilla 1 GB session at
    # sf0.1 from OOM to ~24 s (round 7): (a) the wedge-join and
    # closure exchanges are USER-NUMBERED repartitions on v and
    # (u, w), sized by the measured wedge volume (AQE never coalesces
    # REPARTITION_BY_NUM), and (b) the hot path carries RAW INT64
    # part keys end-to-end — a display cast to string would triple
    # the bytes of every wedge row.
    df = registry["cc_triangles"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = [ln for ln in plan.splitlines() if "REPARTITION_BY_NUM" in ln]
    assert any("hashpartitioning(v#" in ln for ln in lines), lines
    assert any(
        "hashpartitioning(u#" in ln and ", w#" in ln for ln in lines
    ), lines
    assert "as string" not in plan.lower(), (
        "string cast leaked into the triangle hot path"
    )


def test_ivf_index_search_prunes_to_probed_cells(spark, tmp_path):
    # the IVF bytes contract: the search scan carries a PARTITION
    # filter on the probed cells, so unprobed cell directories are
    # never read — "search cost ~ probed cells" in bytes, not just
    # compute (round-7: the 1M probe showed compute is negligible at
    # 16 dims; pruning is what remains of the contract at scan-bound
    # corpus sizes)
    from pyspark.sql import functions as F

    from map_reduce_project_spark.operators.similarity import (
        ivf_index_topk,
        write_ivf_index,
    )
    from map_reduce_project_spark.sources.io import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    path = str(tmp_path / "ivf")
    write_ivf_index(emb, path, n_centroids=8)
    qs = emb.where(F.col("vec_id") % 512 == 7)
    df = ivf_index_topk(spark, path, qs, k=3, n_probe=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # identify the cell_vectors scan by its schema (qv:array<bigint>)
    # — the Location path can be truncated out of the plan string
    scan_lines = [
        ln
        for ln in plan.splitlines()
        if "FileScan" in ln and "qv:array<bigint>" in ln
    ]
    assert scan_lines, plan[:800]
    assert any(
        "PartitionFilters" in ln and "cell#" in ln and " IN " in ln
        for ln in scan_lines
    ), scan_lines


def test_oriented_triangles_exchanges_are_volume_sized(spark):
    # the SHARED triangle enumeration (triangle_count + every k_truss
    # peel round — the round-7 vanilla census found the first
    # co-purchase truss round's ~49M wedges OOMing the 1 GB heap
    # through session-default exchanges once cc_triangles stopped
    # aborting the sweep first): user-numbered repartitions on v and
    # on (u, w), BOTH sides of each join. k_truss's returned frame is
    # a checkpoint scan, so the helper is pinned directly.
    from pyspark.sql import functions as F

    from map_reduce_project_spark.graph.analytics import (
        degree_oriented_edges,
        oriented_triangles,
    )

    edges = spark.range(200).select(
        (F.col("id") % 40).alias("src"), (F.col("id") % 17).alias("dst")
    )
    df = oriented_triangles(degree_oriented_edges(edges), 13)
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = [ln for ln in plan.splitlines() if "REPARTITION_BY_NUM" in ln]
    assert any(
        "hashpartitioning(v#" in ln and " 13)" in ln for ln in lines
    ), lines
    assert any(
        "hashpartitioning(u#" in ln and ", w#" in ln for ln in lines
    ), lines


def test_plan_census_no_regressions(spark, registry):
    # registry-wide plan-shape regression guard: every query's
    # exchange/broadcast/scan/python-stage signature is snapshotted
    # in tools/plans_baseline.json (tools/plan_census.py); this test
    # re-derives a representative fast subset — the bench headliners
    # plus the volume-sized/zero-shuffle showcase plans — and fails
    # if any signature drifts from the committed baseline. A
    # DELIBERATE plan change regenerates the baseline in the same
    # commit; an accidental one fails here instead of at 100 TB.
    import json
    from pathlib import Path

    from tools.plan_census import plan_signature

    baseline = json.loads(
        (
            Path(__file__).resolve().parents[1]
            / "tools"
            / "plans_baseline.json"
        ).read_text()
    )
    assert set(baseline) == set(registry), (
        "baseline out of date: regenerate with tools/plan_census.py "
        f"(missing={set(registry) - set(baseline)}, "
        f"stale={set(baseline) - set(registry)})"
    )
    subset = [
        "q1_pricing_summary",
        "q3_top_revenue_orders",
        "q5_region_revenue",
        "q8_topk_per_customer",
        "q74_nation_volume",
        "dedup_minhash_candidates",
        "dedup_jaccard_verified",
        "ann_brute_force_topk",
        "text_quality",
        "ev_sessions_30min",
        "q92_hll_union",
        "cc_link_prediction",
        "cc_triangles",
        "emb_gram_matrix",
        "text_bm25_topk",
        "q104_hilbert_code",
        "dedup_cdc_chunks",
        "ev_ewma_value",
        "sample_poisson_bootstrap",
        "mm_png_palette_stats",
    ]
    drift = {}
    for name in subset:
        got = plan_signature(
            registry[name].fn(spark, "/root/testdata/sf0.001")
        )
        if got != baseline[name]:
            drift[name] = {"baseline": baseline[name], "now": got}
    assert not drift, drift


def test_runtime_bloom_filter_join_pruning(spark):
    """Spark's runtime bloom-filter join pruning (round 9): a
    selective dim-side filter must inject a bloom_filter_agg on the
    creation side and a might_contain predicate into the fact side
    of a shuffle join once the application-side scan
    exceeds runtime.bloomFilter.applicationSideScanSizeThreshold.
    The default threshold is 10GB — the correct trigger point at
    cluster scale (bench probes measured 48.3 -> 3.1 MB shuffle
    write at sf1 when injected) — so the test lowers it to 0 to pin
    the injection machinery, and asserts results are identical with
    the filter on and off."""
    from pyspark.sql import functions as F

    def joined():
        # rebuilt per conf change: runtime-filter injection binds at
        # query-execution creation, and AQE caches the finalized plan
        # on the DataFrame after the first action
        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        pt = spark.read.parquet(f"{SF}/part.parquet").where(
            F.col("p_brand") == "Brand#7"
        )
        return li.join(pt, li.l_partkey == pt.p_partkey).agg(
            F.count("*").alias("n"), F.sum("l_quantity").alias("q")
        )

    thresh_key = (
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold"
    )
    # Plan-render markers are Spark-VERSION-SPECIFIC detail (the
    # expression names as Spark 4.x prints them, read through a
    # private accessor); one helper owns both so a Spark upgrade that
    # renames either touches exactly this site. The result-equality
    # assertion below is version-proof and is the correctness gate —
    # if an upgrade breaks only the marker check, soften the marker,
    # not the equality (round-9 advisory).
    def bloom_markers(df) -> bool:
        plan = df._jdf.queryExecution().executedPlan().toString().lower()
        # creation (dim) side aggregate + application (fact) side
        # probe evaluated below the join's shuffle — the pruning point
        return "bloom_filter_agg" in plan and "might_contain(" in plan

    bcast_prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    assert (
        spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled")
        == "true"
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        off = joined()
        baseline_rows = off.collect()
        assert not bloom_markers(off)
        spark.conf.set(thresh_key, "0")
        on = joined()
        assert bloom_markers(on)
        assert on.collect() == baseline_rows
    finally:
        spark.conf.unset(thresh_key)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast_prev)


def test_q62_blocked_fuzzy_never_broadcasts_probes(spark, registry):
    # the blocked ER kernel's scale contract (round-12): the probe
    # side grows linearly with the corpus, so the plan must be an
    # equi-join on the blocking key — sort-merge, pinned by the merge
    # hint — with NO broadcast of either side and no cross join
    # anywhere (q62's broadcast-probe kernel is the bounded-probe
    # sibling, not this one)
    df = registry["q62_fuzzy_match_blocked"].fn(spark, SF)
    plan = formatted_plan(df)
    assert "SortMergeJoin" in plan, plan
    assert "BroadcastHashJoin" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_registry_plan_sizes_bounded(spark, registry):
    # the plan-bomb gate in CI form (round-12, verdict item 7): a
    # filter predicate-pushed below layered projections inflates the
    # OPTIMIZED plan's expression text multiplicatively (round 11's
    # 64 KB capstone bomb, 48s of re-extraction per stage) — pin the
    # whole class by bounding every registry query's optimized-plan
    # size. Env-gated: the full sweep builds 330+ plans (~2-4 min,
    # iterative queries execute their fixed points), so it runs when
    # SPARK_GRAFT_PLAN_AUDIT=1 (the round gate and tools/logs cadence
    # set it) and skips in the quick developer loop.
    import os

    import pytest as _pytest

    if os.environ.get("SPARK_GRAFT_PLAN_AUDIT") != "1":
        _pytest.skip("set SPARK_GRAFT_PLAN_AUDIT=1 for the full sweep")
    import sys

    sys.path.insert(0, str(__import__("pathlib").Path(__file__).resolve().parents[1] / "tools"))
    from plan_size_audit import THRESHOLD, audit

    sizes, errors = audit(spark, "/root/testdata/sf0.001")
    assert not errors, errors
    over = {k: v for k, v in sizes.items() if v > THRESHOLD}
    assert not over, f"optimized plans over {THRESHOLD:,} chars: {over}"
