"""Reference-parity surface: experiment sweep harness, SecondarySort
conformance semantics (S2), CSV/JSON source-sink parity, pandas-UDF
twins, custom stateful sessionizer."""

from __future__ import annotations

import csv

import pandas as pd
import pytest
from pyspark.sql import functions as F

from map_reduce_project_spark.graph import connected_components
from map_reduce_project_spark.graph.experiments import (
    CSV_FIELDS,
    _run,
    write_csv,
)
from map_reduce_project_spark.graph.generators import (
    edges_df,
    generate_random_graph,
)
from map_reduce_project_spark.operators.text import bpe_token_count, quality_score
from map_reduce_project_spark.sources import (
    read_csv,
    read_json,
    read_table,
    write_json,
)
from map_reduce_project_spark.sources.io import write_csv as sink_csv


def test_s2_secondary_sort_divergence(spark):
    # Both orientations of one edge: the duplicate min makes the
    # reference's SecondarySort emit a counted (min,min) self-pair,
    # costing one extra iteration; final mappings agree (S2).
    edges = edges_df(spark, [("a", "b"), ("b", "a")])
    basic = connected_components(edges)
    conf = connected_components(
        edges, use_secondary_sort=True, conformance=True
    )
    assert basic.iterations == 1
    assert conf.iterations == 2
    assert conf.new_pair_counts[0] == 1  # the (a,a) self-pair emission
    assert {(r.node, r.component) for r in basic.mapping.collect()} == {
        ("b", "a")
    }
    assert {(r.node, r.component) for r in conf.mapping.collect()} == {
        ("b", "a")
    }


def test_s2_conformance_agrees_on_canonical_inputs(spark):
    # On canonically-oriented graphs (the reference's generators) the
    # conformance variant matches Basic exactly, iterations included.
    edges = generate_random_graph(60, 120, seed=11)
    basic = connected_components(edges_df(spark, edges))
    conf = connected_components(
        edges_df(spark, edges), use_secondary_sort=True, conformance=True
    )
    assert basic.iterations == conf.iterations
    assert {tuple(r) for r in basic.mapping.collect()} == {
        tuple(r) for r in conf.mapping.collect()
    }


def test_experiment_run_and_csv(spark, tmp_path):
    edges = generate_random_graph(50, 100, seed=42)
    rows = [
        _run(spark, "random_graph", edges, 50, use_secondary_sort=False),
        _run(spark, "random_graph", edges, 50, use_secondary_sort=True),
    ]
    assert rows[0]["iterations"] == 5  # reference golden
    assert rows[0]["components"] == 1
    assert rows[0]["algorithm"] == "Basic"
    assert rows[1]["algorithm"] == "SecondarySort"
    out = tmp_path / "results.csv"
    write_csv(rows, str(out))
    with open(out) as f:
        got = list(csv.DictReader(f))
    assert len(got) == 2
    assert list(got[0].keys()) == CSV_FIELDS
    assert got[0]["iterations"] == "5"


def test_csv_json_roundtrip(spark, tmp_path, sf0001):
    nation = read_table(spark, sf0001, "nation")
    csv_path = str(tmp_path / "nation_csv")
    json_path = str(tmp_path / "nation_json")
    sink_csv(nation, csv_path)
    write_json(nation, json_path)

    schema = "n_nationkey int, n_name string, n_regionkey int"
    from_csv = read_csv(spark, csv_path, schema)
    from_json = read_json(spark, json_path, schema)
    want = {tuple(r) for r in nation.collect()}
    assert {tuple(r) for r in from_csv.collect()} == want
    assert {tuple(r) for r in from_json.collect()} == want


def test_partitioned_parquet_prunes(spark, tmp_path, sf0001):
    orders = read_table(spark, sf0001, "orders")
    path = str(tmp_path / "orders_by_status")
    orders.write.partitionBy("o_orderstatus").parquet(path)
    back = spark.read.parquet(path)
    filtered = back.where(F.col("o_orderstatus") == "F")
    want = orders.where(F.col("o_orderstatus") == "F").count()
    assert filtered.count() == want
    # partition pruning: the predicate appears as a partition filter
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(o_orderstatus" in plan


def test_pandas_udf_twins_match_expressions(spark, sf0001):
    # Pandas twins of built-in-expression operators: logic prototyped
    # in pandas is promoted to JVM expressions once it is hot, and the
    # twin stays as the equivalence oracle. Defined in the test body so
    # they pickle by value into the Python workers.
    import re

    from pyspark.sql.functions import pandas_udf

    from map_reduce_project_spark.operators.text import (
        BPE_PATTERN,
        EN_STOPWORDS,
    )

    bpe_re = re.compile(BPE_PATTERN)

    @pandas_udf("long")
    def token_count_udf(text: pd.Series) -> pd.Series:
        return text.map(lambda t: len(bpe_re.findall(t)))

    @pandas_udf("double")
    def quality_score_pandas(text: pd.Series) -> pd.Series:
        stop = set(EN_STOPWORDS)

        def score(t: str) -> float:
            toks = t.split(" ")
            n_tokens = len(toks)
            if n_tokens < 5:
                return 0.0
            n_chars = len(t)
            n_punct = n_chars - len(re.sub(r"[^a-zA-Z0-9 ]", "", t))
            distinct_ratio = len(set(toks)) / n_tokens
            if distinct_ratio < 0.1:
                return 0.0
            stop_ratio = sum(tok in stop for tok in toks) / n_tokens
            punct_ratio = n_punct / n_chars
            return (
                distinct_ratio * 0.5
                + stop_ratio * 0.25
                + (1.0 - punct_ratio) * 0.25
            )

        return text.map(score)

    docs = read_table(spark, sf0001, "documents").limit(100)
    expr = {
        r.doc_id: (r.bpe_tokens, )
        for r in bpe_token_count(docs).collect()
    }
    udf = {
        r.doc_id: (r.bpe,)
        for r in docs.select(
            "doc_id", token_count_udf("text").alias("bpe")
        ).collect()
    }
    assert expr == udf

    q_expr = {r.doc_id: r.quality for r in quality_score(docs).collect()}
    q_udf = {
        r.doc_id: r.q
        for r in docs.select(
            "doc_id", quality_score_pandas("text").alias("q")
        ).collect()
    }
    for k in q_expr:
        assert q_udf[k] == pytest.approx(q_expr[k], abs=1e-12)


def test_stateful_sessionizer(spark, sf0001):
    from map_reduce_project_spark.queries.events import ev_sessions_q
    from map_reduce_project_spark.streaming import stream_events
    from map_reduce_project_spark.streaming.stateful import (
        sessionize_with_state,
    )
    from map_reduce_project_spark.streaming.windows import run_stream_to_memory

    stream = stream_events(spark, sf0001).select("ts", "user_id", "value")
    out = run_stream_to_memory(
        sessionize_with_state(stream),
        query_name="sessions_state",
        output_mode="append",
    )
    got = {
        (r.user_id, r.session_start_us): r.n_events for r in out.collect()
    }
    batch = {
        (r.user_id, int(r.session_start.timestamp() * 1_000_000)): r.n_events
        for r in ev_sessions_q(spark, sf0001).collect()
    }
    # closed sessions must agree with the batch twin; open sessions
    # (the last per user) may be withheld until the event-time timeout
    assert got
    for key, n in got.items():
        assert batch[key] == n


def test_approx_distinct_tolerance(spark, sf0001):
    # q23's twin formulation folds the HLL estimate into an
    # engine-side tolerance boolean; the exact counts must match an
    # independently computed count-distinct and every verdict be True
    from map_reduce_project_spark.queries.advanced import q23_approx_distinct

    rows = {
        r.l_returnflag: r for r in q23_approx_distinct(spark, sf0001).collect()
    }
    li = read_table(spark, sf0001, "lineitem")
    exact = {
        r.l_returnflag: r.n
        for r in li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_orderkey").alias("n"))
        .collect()
    }
    assert set(rows) == set(exact)
    for k, n in exact.items():
        assert rows[k].exact_orders == n
        assert rows[k].within_tolerance is True


def test_orc_roundtrip(spark, tmp_path):
    from map_reduce_project_spark.sources.io import read_orc, write_orc

    df = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, None)], "id long, name string"
    )
    write_orc(df, str(tmp_path / "t.orc"))
    back = read_orc(spark, str(tmp_path / "t.orc"))
    assert back.schema == df.schema
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in df.collect()}


def test_chunk_udtf_matches_expression(spark):
    """ChunkDocument (Python UDTF) and chunk_documents (generator
    expressions) must agree row-for-row, including the edge cases the
    corpus doesn't exercise: empty text, consecutive spaces, and docs
    shorter than one window."""
    from map_reduce_project_spark.functions.udtfs import register_udtfs
    from map_reduce_project_spark.operators.text import chunk_documents

    register_udtfs(spark)
    rows = [
        (1, ""),
        (2, "one"),
        (3, "a  b"),  # double space -> empty token
        (4, " ".join(f"t{i}" for i in range(5))),
        (5, " ".join(f"t{i}" for i in range(7))),  # 2 chunks at size 5/stride 3
        (6, " ".join(f"t{i}" for i in range(40))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    expr = {
        (r.doc_id, r.chunk_idx): (r.chunk, r.n_tokens)
        for r in chunk_documents(df, 5, 3).collect()
    }
    df.createOrReplaceTempView("_chunk_test_docs")
    udtf = {
        (r.doc_id, r.chunk_idx): (r.chunk, r.n_tokens)
        for r in spark.sql(
            "SELECT d.doc_id, c.* FROM _chunk_test_docs d, "
            "LATERAL chunk_document(d.text, 5, 3) c"
        ).collect()
    }
    assert expr == udtf
    # every token of doc 6 appears in some chunk; strides overlap by 2
    assert (6, 0) in expr and expr[(6, 0)][1] == 5
    n6 = max(i for d, i in expr if d == 6) + 1
    assert n6 == 13  # ceil((40-5)/3)+1


def test_udaf_median_even_odd(spark):
    """median_long_udaf: middle element for odd counts, IEEE average
    of the two middles for even — on exact int64 inputs."""
    from map_reduce_project_spark.functions.udafs import median_long_udaf

    rows = [("a", v) for v in (5, 1, 3)] + [("b", v) for v in (10, 20, 31, 40)]
    df = spark.createDataFrame(rows, "g string, v long")
    got = {
        r.g: r.m
        for r in df.groupBy("g").agg(median_long_udaf("v").alias("m")).collect()
    }
    assert got == {"a": 3.0, "b": 25.5}
