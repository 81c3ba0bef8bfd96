"""The benchmark's own tests, at tiny sizes.

    python -m pytest perfbench -q

The Spark tests share one local session and shrink every workload to
a few seconds. They show that each workload's check passes on correct
output at two seeds and fails on a corrupted one, that the traced and
untraced paths report the same end-to-end metric names, and that
every metric in BENCHMARK.json is produced with its unit.
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

import counters
import run
import workloads
from workloads import (
    CCFixedPoint,
    CurationLadder,
    StarWriteQuery,
    ladder_expected,
    union_find_mapping,
)

CONFIG = json.loads((run.ROOT / "BENCHMARK.json").read_text())


# --- no Spark ---------------------------------------------------------


def test_union_find_matches_hand_partition():
    edges = [("3", "1"), ("1", "2"), ("5", "4"), ("7", "7"), ("9", "8"), ("8", "4")]
    assert union_find_mapping(edges) == {
        "2": "1", "3": "1", "5": "4", "8": "4", "9": "4",
    }


def test_ladder_expected_counts():
    exp = ladder_expected(40)
    assert exp["n_raw"] == 80 and exp["n_canonical"] == 20
    assert exp["n_docs_excised"] == 2 and exp["tokens_cut"] == 24
    assert exp["n_quality"] <= exp["n_extracted"] <= exp["n_raw"]
    with pytest.raises(ValueError):
        ladder_expected(30)


def test_busy_s_merges_overlapping_jobs():
    job = lambda a, b: counters.Job(0, None, a * 1000, b * 1000)  # noqa: E731
    jobs = [job(1, 3), job(2, 4), job(6, 7), job(9, 12)]
    assert counters.busy_s(jobs, 0.0, 10.0) == pytest.approx(3 + 1 + 1)


def test_tree_cpu_counts_this_process():
    before = counters.tree_cpu_s()
    sum(i * i for i in range(3_000_000))
    assert counters.tree_cpu_s() > before


def test_result_line_prints_every_metric_with_its_unit():
    out = {"attempted": 2, "failed": 0, "metrics": dict.fromkeys(run.END_TO_END, 1.5)}
    line = json.loads(run.result_line(out, run.END_TO_END.get))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] is True
    for m in CONFIG["end_to_end"]:
        assert line["metrics"][m["name"]] == {"value": 1.5, "unit": m["unit"]}


def test_benchmark_json_names_and_units_match_the_runner():
    e2e = {m["name"]: m["unit"] for m in CONFIG["end_to_end"]}
    assert e2e == run.END_TO_END
    layer = {m["name"]: m["unit"] for m in CONFIG["per_layer"]}
    produced = [
        n for w in workloads.WORKLOADS.values() for n in run.layer_metric_names(w)
    ]
    assert len(produced) == len(set(produced)) == len(layer) <= 128
    assert {n: run.layer_unit(n) for n in produced} == layer
    assert [w["name"] for w in CONFIG["workloads"]] == list(workloads.WORKLOADS)


# --- tiny Spark runs --------------------------------------------------


@pytest.fixture(scope="module")
def spark():
    run._prepare_env()
    session = run.Session()
    yield session.start()
    session.stop()


@pytest.fixture
def tiny(monkeypatch):
    monkeypatch.setattr(workloads, "LADDER_DOCS", 200)
    monkeypatch.setattr(workloads, "CC_NODES", 300)
    monkeypatch.setattr(workloads, "CC_EDGES", 600)
    monkeypatch.setattr(workloads, "CC_SKEW_THRESHOLD", 40)
    monkeypatch.setattr(workloads, "STAR_SCALE", 0.05)


def _checked_call(wl_cls, spark, tmp_path, seed, corrupt=None, trace=False):
    wl = wl_cls(tmp_path / f"s{seed}", seed)
    wl.scratch.mkdir(parents=True, exist_ok=True)
    wl.make_inputs(spark)
    tracer = None
    if trace:
        from spans import Tracer

        tracer = Tracer(spark, f"test-{seed}")
    result = wl.op(spark, tracer)
    if corrupt:
        corrupt(result)
    try:
        return wl.check(spark, result), tracer
    finally:
        wl.release(result)


@pytest.mark.parametrize("seed", [1, 2])
def test_ladder_check(spark, tiny, tmp_path, seed):
    errors, _ = _checked_call(CurationLadder, spark, tmp_path, seed)
    assert errors == []

    def drop_excision(result):
        result["funnel"]["tokens_cut"] -= 1

    errors, _ = _checked_call(CurationLadder, spark, tmp_path, seed, drop_excision)
    assert any("tokens_cut" in e for e in errors)


def test_ladder_funnel_matches_duckdb_replay(spark, tiny, tmp_path):
    import duckdb

    from map_reduce_project_spark.queries.capstone import build_capstone_funnel_sql

    wl = CurationLadder(tmp_path, 3)
    wl.make_inputs(spark)
    funnel = wl.op(spark)["funnel"]
    con = duckdb.connect()
    try:
        docs = wl.docs.toPandas()  # noqa: F841 (read by the view below)
        con.execute("CREATE VIEW documents AS SELECT * FROM docs")
        row = con.execute(build_capstone_funnel_sql()).df().iloc[0]
    finally:
        con.close()
    for key, value in funnel.items():
        assert int(row[key]) == value, key


def _flip_one_label(result):
    import pyarrow as pa

    res, table, iters = result["ccf_window"]
    comp = table.column("component").to_pylist()
    comp[0] = comp[0] + "x"
    table = table.set_column(
        table.schema.get_field_index("component"), "component", pa.array(comp)
    )
    result["ccf_window"] = (res, table, iters)


@pytest.mark.parametrize("seed", [1, 2])
def test_cc_check(spark, tiny, tmp_path, seed):
    errors, _ = _checked_call(CCFixedPoint, spark, tmp_path, seed)
    assert errors == []
    errors, _ = _checked_call(CCFixedPoint, spark, tmp_path, seed, _flip_one_label)
    assert errors and all(e.startswith("ccf_window") for e in errors)


def _drop_query_row(result):
    pdf = result["results"]["q5_region_revenue"]
    result["results"]["q5_region_revenue"] = pdf.iloc[1:]


@pytest.mark.parametrize("seed", [1, 2])
def test_star_check(spark, tiny, tmp_path, seed):
    errors, _ = _checked_call(StarWriteQuery, spark, tmp_path, seed)
    assert errors == []
    errors, _ = _checked_call(StarWriteQuery, spark, tmp_path, seed, _drop_query_row)
    assert len(errors) == 1 and errors[0].startswith("q5_region_revenue")


def test_traced_and_untraced_report_the_same_end_to_end_names(spark, tiny, tmp_path):
    reports = {}
    for trace in (False, True):
        wl = CCFixedPoint(tmp_path / f"t{trace}", 4)
        wl.scratch.mkdir(parents=True, exist_ok=True)
        wl.make_inputs(spark)
        calls = run.measure(wl, spark, 0.0, trace, f"test-{trace}")
        assert calls["failed"] == 0
        reports[trace] = run.end_to_end(calls["samples"], 0.0, [1.0])
        if trace:
            layers = run.per_layer(calls["samples"], wl)
            assert set(layers) == set(run.layer_metric_names(wl))
            assert layers["ccf_join.iterations"] >= 1
            parents = {s["name"]: s["parent"] for s in calls["spans"]}
            assert parents == {wl.name: None, **dict.fromkeys(wl.spans, wl.name)}
    assert set(reports[False]) == set(reports[True]) == set(run.END_TO_END)


def test_traced_spans_cover_every_stage(spark, tiny, tmp_path):
    errors, tracer = _checked_call(CurationLadder, spark, tmp_path, 5, trace=True)
    assert errors == []
    assert [s.name for s in tracer.spans] == list(CurationLadder.spans)
    assert all(s.end >= s.start for s in tracer.spans)


def test_missing_package_exits_nonzero(tmp_path, monkeypatch):
    monkeypatch.setattr(run, "ROOT", Path(tmp_path))
    assert run.main(["--workload", "cc_fixed_point", "--seed", "1",
                     "--seconds", "1"]) == 2
