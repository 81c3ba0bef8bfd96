"""Deterministic sampling/split operators (operators/sampling.py) and
BM25 scoring: stability properties rand() cannot give."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from map_reduce_project_spark.operators.sampling import (
    deterministic_sample,
    hash_split,
    importance_upsample,
    stratified_sample,
    weighted_sample,
)
from map_reduce_project_spark.operators.text import bm25_scores


@pytest.fixture(scope="module")
def ids(spark):
    return spark.range(0, 2000).select(F.col("id"))


def test_split_is_partitioning_invariant(spark, ids):
    w = {"train": 0.8, "valid": 0.1, "test": 0.1}
    a = {r.id: r.split for r in hash_split(ids, "id", w).collect()}
    b = {
        r.id: r.split
        for r in hash_split(ids.repartition(7), "id", w).collect()
    }
    assert a == b  # assignment is a pure function of the id
    assert set(a.values()) == {"train", "valid", "test"}


def test_split_proportions_and_totality(spark, ids):
    w = {"train": 0.8, "valid": 0.1, "test": 0.1}
    counts = {
        r.split: r.n
        for r in hash_split(ids, "id", w).groupBy("split").agg(
            F.count("*").alias("n")
        ).collect()
    }
    assert sum(counts.values()) == 2000  # every row assigned
    assert 1400 < counts["train"] < 1800  # md5-uniform within reason
    assert counts["valid"] < 400 and counts["test"] < 400


def test_split_rejects_bad_weights(spark, ids):
    with pytest.raises(ValueError):
        hash_split(ids, "id", {"a": 0.5, "b": 0.4})


def test_sample_fraction_nesting(spark, ids):
    # bucket < threshold makes smaller fractions subsets of larger
    # ones under the same salt — growing a sample never resamples
    s5 = {r.id for r in deterministic_sample(ids, "id", 0.05).collect()}
    s20 = {r.id for r in deterministic_sample(ids, "id", 0.20).collect()}
    assert s5 <= s20
    assert len(s5) > 0
    # different salts draw independently
    other = {
        r.id for r in deterministic_sample(ids, "id", 0.05, salt="x").collect()
    }
    assert other != s5


def test_stratified_sample_strata(spark):
    rows = [(i, "A" if i % 2 == 0 else "B") for i in range(1000)]
    df = spark.createDataFrame(rows, "id long, grp string")
    out = stratified_sample(df, "grp", {"A": 0.5}, id_col="id")
    got = out.collect()
    assert all(r.grp == "A" for r in got)  # stratum B dropped
    assert 150 < len(got) < 350  # ~50% of 500 A-rows


def test_weighted_sample_bounds(spark, ids):
    # weight 0 keeps nothing; weight 10000 keeps everything;
    # intermediate weights keep a monotone subset per row weight
    none = weighted_sample(ids, "id", F.lit(0)).count()
    everything = weighted_sample(ids, "id", F.lit(10_000)).count()
    assert none == 0 and everything == 2000
    # out-of-range weights clamp rather than misbehave
    assert weighted_sample(ids, "id", F.lit(99_999)).count() == 2000
    half = weighted_sample(ids, "id", F.lit(5_000)).count()
    assert 800 < half < 1200
    # keep decision is per-row deterministic across repartitioning
    a = {r.id for r in weighted_sample(ids, "id", F.lit(5_000)).collect()}
    b = {
        r.id
        for r in weighted_sample(
            ids.repartition(7), "id", F.lit(5_000)
        ).collect()
    }
    assert a == b


def test_importance_upsample_copies(spark, ids):
    # whole part always replicated: weight 2.0 -> exactly 2 copies/row
    out = importance_upsample(ids, "id", F.lit(20_000))
    assert out.count() == 4000
    per = out.groupBy("id").count().collect()
    assert all(r["count"] == 2 for r in per)
    # copy_idx enumerates replicas from 0
    idx = {
        (r.id, r.copy_idx) for r in out.collect()
    }
    assert (0, 0) in idx and (0, 1) in idx
    # fractional part: weight 1.5 -> between 1 and 2 copies, mean ~1.5
    frac = importance_upsample(ids, "id", F.lit(15_000))
    n = frac.count()
    assert 2000 <= n <= 4000 and 2800 < n < 3200
    # weight 0 drops the row entirely
    assert importance_upsample(ids, "id", F.lit(0)).count() == 0


def test_bm25_ranking_semantics(spark):
    docs = spark.createDataFrame(
        [
            (1, "spark spark spark filler filler filler"),
            (2, "spark filler filler filler filler filler"),
            (3, "rare filler filler filler filler filler"),
            (4, "filler filler filler filler filler filler"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.score for r in bm25_scores(docs, ["spark", "rare"]).collect()}
    assert 4 not in out  # no query terms -> no row
    assert out[1] > out[2]  # higher tf wins within a term
    # 'rare' appears in 1 doc, 'spark' in 2 -> rare has higher idf,
    # so the single-occurrence rare doc outscores the single-occurrence
    # spark doc
    assert out[3] > out[2]


def test_global_rank_ids_contiguous_and_invariant(spark):
    """Two-pass id assignment: ids are the exact total-order ranks,
    contiguous from 0, and invariant to input partitioning."""
    from pyspark.sql import functions as F

    from map_reduce_project_spark.operators.text import global_rank_ids

    df = spark.range(0, 5000).select(
        (F.col("id") * 37 % 4999).alias("k"), F.col("id").alias("v")
    )
    out = global_rank_ids(df, [F.col("k").asc(), F.col("v").asc()], "rid")
    rows = out.orderBy("rid").collect()
    assert [r.rid for r in rows] == list(range(5000))
    expected = sorted(((r.k, r.v) for r in df.collect()))
    assert [(r.k, r.v) for r in rows] == expected
    # invariant under a different input partitioning
    out2 = global_rank_ids(
        df.repartition(13), [F.col("k").asc(), F.col("v").asc()], "rid"
    )
    assert {(r.k, r.v, r.rid) for r in out2.collect()} == {
        (r.k, r.v, r.rid) for r in rows
    }


def test_temperature_sample_flattens_head_groups(spark):
    from map_reduce_project_spark.operators.sampling import (
        temperature_sample,
    )

    # 400 'en' vs 100 'fr': raw share 80/20; alpha=0.5 weights
    # isqrt(400)=20 vs isqrt(100)=10 -> targets 2:1 (66/33 of 100)
    rows = [(i, "en" if i < 400 else "fr") for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = temperature_sample(
        df, group_col="lang", id_col="doc_id", total_target=99
    )
    got = {
        r.lang: (r.grp_count, r.grp_target)
        for r in out.select("lang", "grp_count", "grp_target")
        .distinct()
        .collect()
    }
    assert got == {"en": (400, 66), "fr": (100, 33)}
    sizes = {r.lang: r.n for r in out.groupBy("lang").agg(
        F.count("*").alias("n")).collect()}
    assert sizes == {"en": 66, "fr": 33}  # exact fill, not probabilistic
    # frozen draw: same rows on a re-run
    again = {r.doc_id for r in temperature_sample(
        df, "lang", "doc_id", 99).collect()}
    assert again == {r.doc_id for r in out.collect()}


def test_balance_classes_equalizes_to_minority(spark):
    from map_reduce_project_spark.operators.sampling import balance_classes

    rows = (
        [(i, "big") for i in range(40)]
        + [(100 + i, "mid") for i in range(15)]
        + [(200 + i, "small") for i in range(7)]
    )
    df = spark.createDataFrame(rows, "id long, label string")
    out = balance_classes(df, "label", "id")
    counts = {
        r["label"]: r["n"]
        for r in out.groupBy("label").count().withColumnRenamed("count", "n").collect()
    }
    assert counts == {"big": 7, "mid": 7, "small": 7}
    # deterministic: same selection on a rerun
    again = {r["id"] for r in balance_classes(df, "label", "id").collect()}
    assert again == {r["id"] for r in out.collect()}


def test_balance_classes_empty_input(spark):
    from map_reduce_project_spark.operators.sampling import balance_classes

    df = spark.createDataFrame([], "id long, label string")
    out = balance_classes(df, "label", "id")
    assert out.count() == 0
    assert out.columns == ["id", "label"]


def test_cap_per_group_skew_matches_full_window(spark):
    from map_reduce_project_spark.operators.sampling import (
        cap_per_group,
        cap_per_group_skew,
    )

    # group a: 50 rows (hot), b: 3 rows (cold), c: 5 rows (boundary),
    # NULL: 9 rows (hot — groupBy and the window both treat NULL as a
    # group, so the skew tier must cap it too, via eqNullSafe)
    rows = (
        [(i, "a", i % 17) for i in range(50)]
        + [(100 + i, "b", i) for i in range(3)]
        + [(200 + i, "c", i) for i in range(5)]
        + [(300 + i, None, i % 4) for i in range(9)]
    )
    df = spark.createDataFrame(rows, "doc_id long, grp string, score long")
    full = {
        (r.grp, r.doc_id)
        for r in cap_per_group(df, "grp", "score", "doc_id", cap=5).collect()
    }
    two_tier = {
        (r.grp, r.doc_id)
        for r in cap_per_group_skew(
            df, "grp", "score", "doc_id", cap=5
        ).collect()
    }
    assert two_tier == full
    # and the plan only windows the hot tier: cold rows pass through
    from plan_inspect import simple_plan

    import re

    plan = simple_plan(cap_per_group_skew(df, "grp", "score", "doc_id", 5))
    # exactly ONE Window operator (WindowGroupLimit lines are Spark's
    # top-k pushdown of that same window, not extra windows)
    assert len(re.findall(r"\bWindow \[", plan)) == 1
