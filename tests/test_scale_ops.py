"""Scale utilities: salted agg/join correctness + bucketed-join plans."""

from __future__ import annotations

from pyspark.sql import functions as F

from map_reduce_project_spark.operators.scale import (
    salted_agg,
    salted_join,
    write_bucketed,
)
from map_reduce_project_spark.sources import read_table


def test_salted_agg_matches_plain(spark, sf0001):
    orders = read_table(spark, sf0001, "orders")
    plain = {
        (r.o_orderstatus,): (r.n, r.total)
        for r in orders.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total"),
        )
        .collect()
    }
    salted = {
        (r.o_orderstatus,): (r.n, float(r.total))
        for r in salted_agg(
            orders.withColumn(
                "p", F.col("o_totalprice").cast("decimal(18,2)")
            ),
            ["o_orderstatus"],
            {"n": "count(*)", "total": "sum(p)"},
        )
        .withColumn("total", F.col("total").cast("double"))
        .collect()
    }
    assert salted == plain


def test_salted_join_matches_plain(spark, sf0001):
    orders = read_table(spark, sf0001, "orders")
    cust = read_table(spark, sf0001, "customer").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    plain = (
        orders.join(cust, "o_custkey")
        .groupBy("c_mktsegment")
        .count()
        .collect()
    )
    salted = (
        salted_join(orders, cust, "o_custkey", n_salts=4)
        .groupBy("c_mktsegment")
        .count()
        .collect()
    )
    assert {(r.c_mktsegment, r["count"]) for r in salted} == {
        (r.c_mktsegment, r["count"]) for r in plain
    }


def test_bucketed_join_has_no_shuffle(spark, sf0001):
    # tables land in ./spark-warehouse (gitignored); clean any stale
    # state first (a dangling directory without a metastore entry makes
    # saveAsTable fail with LOCATION_ALREADY_EXISTS)
    import shutil

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix(
        "file:"
    )
    for t in ("b_orders", "b_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
    orders = read_table(spark, sf0001, "orders")
    li = read_table(spark, sf0001, "lineitem")
    write_bucketed(orders, "b_orders", ["o_orderkey"], n_buckets=4)
    write_bucketed(
        li.withColumnRenamed("l_orderkey", "o_orderkey"),
        "b_lineitem",
        ["o_orderkey"],
        n_buckets=4,
    )
    # sf0.001 is small enough that the planner would broadcast (which
    # disables bucketing); force the sort-merge path the bucketing is
    # for — at real scale neither side is broadcastable
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_orders").join(
            spark.table("b_lineitem"), "o_orderkey"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # co-located bucketed join: no Exchange feeding the SortMergeJoin
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan
        assert joined.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_bloom_prune_join_exact_and_broadcast(spark, sf001):
    from map_reduce_project_spark.operators.scale import bloom_prune_join
    from map_reduce_project_spark.sources.io import read_table
    from pyspark.sql import functions as F

    li = read_table(spark, sf001, "lineitem").select(
        F.col("l_partkey").alias("p_partkey"), "l_quantity"
    )
    part = (
        read_table(spark, sf001, "part")
        .where(F.col("p_size") <= 5)
        .select("p_partkey", "p_brand")
    )
    pruned = bloom_prune_join(li, part, "p_partkey")
    plain = li.join(part, "p_partkey")
    assert pruned.count() == plain.count()
    got = {tuple(r) for r in pruned.collect()}
    want = {tuple(r) for r in plain.collect()}
    assert got == want
    # the bucket pre-filter must be a broadcast semi join (no shuffle
    # of the big side before the exact join)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
