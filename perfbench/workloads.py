"""The three workloads: seeded inputs, the measured operation, and an
exact check of its output.

Each workload is one closed-loop client: the harness calls ``op``
again only after the previous call returned and was checked. Inputs
are generated from the run's seed by the benchmark; the library only
receives the generated frames or the output directory it writes.

Sizes are fixed here, not on the command line, so every run of a
workload measures the same amount of work.
"""

from __future__ import annotations

import contextlib
import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# --- curation_ladder -------------------------------------------------

# Base documents; the ladder injects one full copy of each. A multiple
# of 20 keeps every planted count below an exact integer.
LADDER_DOCS = 2_000
_LADDER_VOCAB = 2_000
# queries.dedup.OFFSET: the ladder's copy of doc d has id d + OFFSET
_OFFSET = 100_000


def ladder_docs(spark: SparkSession, n: int, seed: int) -> DataFrame:
    """bench.py's planted capstone corpus (``synth_capstone_docs``), seeded.

    50-word documents over a 2,000-word vocabulary: "the", 10 unique
    words, a 12-word span shared with document i-1 when i % 10 == 9,
    then 27 more unique words. Documents in odd decades
    (i % 20 >= 10) drop their last 5 words and fall below the quality
    gate's 50-word floor. Ids are 3 * i so that no id + OFFSET meets
    another id. The seed changes every word, never the structure.

    The two words beside the span come from a "w" vocabulary in even
    documents and a "v" one in odd documents, so the two documents of
    a pair never share a neighbour of their span by chance; a shared
    neighbour would extend the excised span past 12 words.
    """
    i = F.col("id")
    ids = spark.range(n).select(i, (i * 3).alias("doc_id"))
    span_anchor = i - (i % 10 == 9).cast("long")

    def word(slot: int, anchor, prefix=F.lit("w")):
        h = F.xxhash64(F.lit(slot), F.lit(seed), anchor)
        return F.concat(prefix, (F.abs(h) % _LADDER_VOCAB).cast("string"))

    beside_span = F.when(i % 2 == 0, F.lit("w")).otherwise(F.lit("v"))
    head = (
        [F.lit("the")]
        + [word(j, i) for j in range(9)]
        + [word(9, i, beside_span)]
        + [word(1000 + j, span_anchor) for j in range(12)]
        + [word(100, i, beside_span)]
        + [word(100 + j, i) for j in range(1, 22)]
    )
    tail = [word(200 + j, i) for j in range(5)]
    return ids.select(
        "doc_id",
        F.when(i % 20 >= 10, F.concat_ws(" ", *head))
        .otherwise(F.concat_ws(" ", *(head + tail)))
        .alias("text"),
    )


def ladder_expected(n: int) -> dict[str, int]:
    """Funnel counts implied by the planted structure of ``ladder_docs``.

    Extraction drops documents whose id % 17 == 3 (no content block),
    original or copy; an original and its copy never both drop. The
    quality gate keeps even decades. Cluster dedup keeps one of each
    original/copy pair, and span excision cuts the 12-word span from
    one document of each planted pair (i % 20 == 9 with i - 1).
    """
    if n % 20:
        raise ValueError("ladder size must be a multiple of 20")
    extracted = quality = 0
    for i in range(n):
        kept = [(d % 17) != 3 for d in (3 * i, 3 * i + _OFFSET)]
        extracted += sum(kept)
        if i % 20 < 10:
            quality += sum(kept)
    return {
        "n_raw": 2 * n,
        "n_extracted": extracted,
        "n_quality": quality,
        "n_canonical": n // 2,
        "n_docs_excised": n // 20,
        "tokens_before": 25 * n,
        "tokens_cut": 3 * n // 5,
    }


class CurationLadder:
    """``capstone_funnel_staged`` over the planted corpus."""

    name = "curation_ladder"
    spans = ("quality", "cluster_dedup", "span_excise", "tokenize", "pack")

    def __init__(self, scratch: Path, seed: int):
        self.seed = seed
        self.scratch = scratch
        self.expected = ladder_expected(LADDER_DOCS)
        self._pieces: int | None = None

    def make_inputs(self, spark: SparkSession) -> None:
        self.docs = ladder_docs(spark, LADDER_DOCS, self.seed).cache()
        self.docs.count()

    def op(self, spark: SparkSession, tracer=None) -> dict:
        from map_reduce_project_spark.queries import capstone

        if tracer is None:
            return capstone.capstone_funnel_staged(spark, self.docs)
        # The ladder reports stage boundaries through the stage_hook
        # of _frames_from_docs; chain a hook that ends the finished
        # stage's span and opens the next one.
        inner = capstone._frames_from_docs
        order = list(self.spans)

        def traced(spark, docs, stage_hook=None, **kw):
            def hook(name, frame):
                stage_hook(name, frame)
                tracer.close(current[0])
                i = order.index(name) + 1
                current[0] = tracer.open(order[i]) if i < len(order) else None

            return inner(spark, docs, stage_hook=hook, **kw)

        current = [tracer.open(order[0])]
        capstone._frames_from_docs = traced
        try:
            return capstone.capstone_funnel_staged(spark, self.docs)
        finally:
            capstone._frames_from_docs = inner
            if current[0] is not None:
                tracer.close(current[0])

    def check(self, spark: SparkSession, result: dict) -> list[str]:
        funnel = result["funnel"]
        errors = [
            f"{k}={funnel.get(k)} expected {v}"
            for k, v in self.expected.items()
            if funnel.get(k) != v
        ]
        # the tokenizer's output is not derivable from the plant, but
        # it must not change between calls on the same corpus
        pieces = funnel.get("total_pieces")
        if self._pieces is None:
            self._pieces = pieces
        if not pieces or pieces != self._pieces:
            errors.append(f"total_pieces={pieces} (first call {self._pieces})")
        return errors

    def release(self, result) -> None:
        pass


# --- cc_fixed_point --------------------------------------------------

CC_NODES = 4_000
CC_EDGES = 40_000
# hub_graph_df puts half the edges on 4 hubs (~5k degree each); a
# threshold below that sends the autodetect to the join iterate
CC_SKEW_THRESHOLD = 1_000


def union_find_mapping(edges: list[tuple[str, str]]) -> dict[str, str]:
    """Reference CC: node -> smallest node id of its component, with
    each component's smallest node left out (the library's S3 rule)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        if a is None or b is None:
            continue
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    out = {}
    for x in parent:
        r = find(x)
        if r != x:
            out[x] = r
    return out


def _edge_list(df: DataFrame) -> list[tuple[str, str]]:
    t = df.toArrow()
    return list(zip(t.column(0).to_pylist(), t.column(1).to_pylist()))


class CCFixedPoint:
    """The distributed CC loop in its three shapes."""

    name = "cc_fixed_point"
    spans = ("ccf_window", "ccf_join", "star")
    _paths = {"ccf_window": "window", "ccf_join": "join", "star": "star"}

    def __init__(self, scratch: Path, seed: int):
        self.seed = seed
        self.scratch = scratch
        self._n_ops = 0
        self.expected: dict[str, dict[str, str]] | None = None

    def make_inputs(self, spark: SparkSession) -> None:
        from map_reduce_project_spark.graph.generators import (
            hub_graph_df,
            random_graph_df,
        )

        self.random = random_graph_df(
            spark, CC_NODES, CC_EDGES, seed=self.seed
        ).cache()
        self.hub = hub_graph_df(
            spark, CC_NODES, CC_EDGES, n_hubs=4, seed=self.seed
        ).cache()
        self.random.count()
        self.hub.count()

    def op(self, spark: SparkSession, tracer=None) -> dict:
        from map_reduce_project_spark.graph.ccf import connected_components

        self._n_ops += 1
        ckpt = self.scratch / f"ccf_join_ckpt_{self._n_ops}"
        calls = {
            "ccf_window": (self.random, {}),
            "ccf_join": (
                self.hub,
                {
                    "skew_degree_threshold": CC_SKEW_THRESHOLD,
                    "reliable_checkpoint_dir": str(ckpt),
                },
            ),
            "star": (self.random, {"algorithm": "star"}),
        }
        out = {"ckpt": ckpt}
        for name, (edges, kw) in calls.items():
            if tracer is None:
                res = connected_components(edges, **kw)
                out[name] = (res, res.mapping.toArrow(), None)
                continue
            iters: list[dict] = []
            with tracer.span(name) as span:
                res = connected_components(edges, on_iteration=iters.append, **kw)
                table = res.mapping.toArrow()
            span.extra.update(
                iterations=res.iterations,
                iter_wall_max_s=max((r["wall_sec"] for r in iters), default=0.0),
                # star reports its per-round canonical edge-set size
                new_pairs_total=sum(
                    r.get("new_pairs", r.get("pairs", 0)) for r in iters
                ),
            )
            out[name] = (res, table, iters)
        return out

    def check(self, spark: SparkSession, result: dict) -> list[str]:
        if self.expected is None:
            self.expected = {
                "random": union_find_mapping(_edge_list(self.random)),
                "hub": union_find_mapping(_edge_list(self.hub)),
            }
        errors = []
        for name, graph in (
            ("ccf_window", "random"),
            ("ccf_join", "hub"),
            ("star", "random"),
        ):
            res, table, _ = result[name]
            got = dict(
                zip(table.column("node").to_pylist(),
                    table.column("component").to_pylist())
            )
            if not res.converged:
                errors.append(f"{name}: not converged")
            if res.iterate_path != self._paths[name]:
                errors.append(f"{name}: ran the {res.iterate_path} path")
            if len(got) != table.num_rows:
                errors.append(f"{name}: duplicate nodes in mapping")
            if got != self.expected[graph]:
                bad = sum(
                    1 for k in got.keys() | self.expected[graph].keys()
                    if got.get(k) != self.expected[graph].get(k)
                )
                errors.append(f"{name}: {bad} nodes differ from union-find")
        return errors

    def release(self, result: dict) -> None:
        # the reliable barrier's last generation backs the join mapping
        # and is the caller's to remove once collected
        shutil.rmtree(result["ckpt"], ignore_errors=True)


# --- star_write_query ------------------------------------------------

STAR_SCALE = 0.25
STAR_QUERIES = (
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_region_revenue",
    "q8_topk_per_customer",
    "q74_nation_volume",
    "q92_hll_union",
    "ev_sessions_30min",
)


def star_scale(seed: int) -> float:
    """The synthesizer has fixed salts, so the seed picks the scale:
    up to 0.9% more rows in every table, which changes every result."""
    return STAR_SCALE * (1 + (seed % 10) / 1000)


def _load_oracle_tools():
    """``canon_pdf`` and ``value_hash`` from tools/oracle_check.py, the
    registry gate's own canonicalization."""
    import importlib.util

    path = Path(__file__).resolve().parent.parent / "tools" / "oracle_check.py"
    spec = importlib.util.spec_from_file_location("_oracle_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon_pdf, mod.value_hash


class StarWriteQuery:
    """Write a fresh star schema, then read it with seven headliners."""

    name = "star_write_query"
    spans = ("write",) + STAR_QUERIES

    def __init__(self, scratch: Path, seed: int):
        self.seed = seed
        self.scratch = scratch
        self.scale = star_scale(seed)
        self._n_ops = 0

    def make_inputs(self, spark: SparkSession) -> None:
        from map_reduce_project_spark.queries import all_queries

        registry = all_queries()
        self.queries = {n: registry[n] for n in STAR_QUERIES}

    def op(self, spark: SparkSession, tracer=None) -> dict:
        from map_reduce_project_spark.sources.synth import synthesize_sf

        self._n_ops += 1
        out_dir = self.scratch / f"star_{self._n_ops}"
        span = tracer.span if tracer else (lambda name: contextlib.nullcontext())
        with span("write") as s:
            rows = synthesize_sf(spark, str(out_dir), scale=self.scale)
        if tracer:
            files = [
                p for p in out_dir.rglob("*")
                if p.is_file() and p.name.startswith("part-")
            ]
            s.extra.update(
                files=len(files),
                bytes_per_row=sum(p.stat().st_size for p in files)
                / sum(rows.values()),
            )
        results = {}
        for name, q in self.queries.items():
            with span(name):
                results[name] = q.fn(spark, str(out_dir)).toPandas()
        return {"dir": out_dir, "rows": rows, "results": results}

    def check(self, spark: SparkSession, result: dict) -> list[str]:
        import duckdb

        from map_reduce_project_spark.sources.io import TABLES

        canon_pdf, value_hash = _load_oracle_tools()
        con = duckdb.connect()
        try:
            con.execute(f"SET temp_directory = '{self.scratch / 'duckdb_tmp'}'")
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{result['dir']}/{t}.parquet/*.parquet'"
                )
            errors = []
            for name, q in self.queries.items():
                sc, sl = canon_pdf(result["results"][name])
                dc, dl = canon_pdf(con.execute(q.oracle).df())
                if sc != dc or len(sl) != len(dl) or value_hash(sl) != value_hash(dl):
                    errors.append(
                        f"{name}: {len(sl)} rows vs oracle {len(dl)}, "
                        f"columns {'equal' if sc == dc else 'differ'}"
                    )
                elif not sl:
                    errors.append(f"{name}: empty result")
            return errors
        finally:
            con.close()

    def release(self, result: dict) -> None:
        shutil.rmtree(result["dir"], ignore_errors=True)


WORKLOADS = {
    w.name: w for w in (CurationLadder, CCFixedPoint, StarWriteQuery)
}


