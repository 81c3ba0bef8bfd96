"""Similarity search over embedding columns (array<float>).

Two paths:
- ``brute_force_topk``: exact cosine top-k of every query vector
  against the full corpus. The pairwise dot products are computed by
  position-join + exact fixed-point integer sums so results are
  deterministic and oracle-checkable. At 100 TB this is the per-bucket
  kernel, not the corpus-wide plan.
- ``lsh_bucketed_topk``: sign-bucket ANN — bucket = sign bits of the
  first ``n_planes`` dimensions (a fixed axis-aligned random
  projection; deterministic and engine-portable). Queries only search
  their own bucket: the scale path, trading recall for a
  2^n_planes-fold candidate reduction. Swap the axis-aligned planes
  for seeded random hyperplanes when recall matters; IVF via k-means
  centroids is the next rung (MLlib KMeans fits here).

Determinism note: elements are quantized to int64 fixed point
(floor(val * 2^24)) so dot products and norms are EXACT integer
arithmetic — order-independent, overflow-safe for |val| <= 16 at
dims <= 4096, and bit-identical in any engine. The final cosine is a
single IEEE double expression of those ints (sqrt is correctly
rounded), so even the double output hash-matches the DuckDB oracle.
Quantization error is ~1e-7 relative — far below any ANN decision
boundary. This is also the fast path: long multiply-add vectorizes in
whole-stage codegen, where 128-bit decimal aggregation does not.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

QSCALE = 1 << 24  # fixed-point scale for exact integer dot products


def ivf_sizing(corpus_size: int) -> tuple[int, int]:
    """(n_centroids, n_probe) for a corpus: cells ~ sqrt(N) (the IVF
    balance point between per-cell candidate volume and centroid-table
    size), probes ~ cells/16 (recall/latency knee). The gate queries
    keep the demo-sized 16/3; scale callers feed this to ``ivf_topk``
    so cells — not machines — are the parallelism unit."""
    import math

    n_centroids = max(16, math.isqrt(max(1, corpus_size)))
    n_probe = max(1, n_centroids // 16)
    return n_centroids, n_probe


def lsh_planes_sizing(corpus_size: int, target_bucket_size: int = 1024) -> int:
    """n_planes so the expected sign-LSH bucket holds about
    ``target_bucket_size`` vectors: 2^n_planes buckets over the corpus.
    The demo default of 4 planes (16 buckets) would bottleneck
    shuffle-key cardinality at scale; 1B vectors / 1k-vector buckets
    needs ~20 planes."""
    import math

    return max(1, math.ceil(math.log2(max(2.0, corpus_size / target_bucket_size))))


def _elements(vectors: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, pos, val double): exploded vector elements."""
    return vectors.select(
        F.col(id_col),
        F.posexplode(vec_col).alias("pos", "val"),
    ).withColumn("val", F.floor(F.col("val").cast("double") * QSCALE))


def norms2(vectors: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, norm2 long): exact squared L2 norm of the quantized vector."""
    return (
        _elements(vectors, id_col, vec_col)
        .groupBy(id_col)
        .agg(F.sum(F.col("val") * F.col("val")).alias("norm2"))
    )


def cosine_pairs(
    queries: DataFrame,
    targets: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, target_id, cosine) for the full query x target grid.

    Physical shape: broadcast the (small) query elements, stream the
    target corpus map-side, partial+final integer sum per pair.
    Self-pairs are excluded.
    """
    q = _elements(queries, id_col, vec_col).selectExpr(
        f"{id_col} as query_id", "pos", "val as qval"
    )
    t = _elements(targets, id_col, vec_col).selectExpr(
        f"{id_col} as target_id", "pos", "val as tval"
    )
    # the query set is small by construction — broadcast it so the
    # target corpus streams map-side (no shuffle of the big side, and
    # no skew from the 64-distinct-values pos join key)
    dots = (
        F.broadcast(q).join(t, "pos")
        .where(F.col("query_id") != F.col("target_id"))
        .groupBy("query_id", "target_id")
        .agg(F.sum(F.col("qval") * F.col("tval")).alias("dot"))
    )
    qn = norms2(queries, id_col, vec_col).selectExpr(
        f"{id_col} as query_id", "norm2 as qn2"
    )
    tn = norms2(targets, id_col, vec_col).selectExpr(
        f"{id_col} as target_id", "norm2 as tn2"
    )
    return (
        dots.join(qn, "query_id")
        .join(tn, "target_id")
        .select(
            "query_id",
            "target_id",
            (
                F.col("dot").cast("double")
                / (F.sqrt(F.col("qn2").cast("double")) * F.sqrt(F.col("tn2").cast("double")))
            ).alias("cosine"),
        )
    )


def topk(pairs: DataFrame, k: int = 5) -> DataFrame:
    """Deterministic top-k per query: cosine desc, target_id tiebreak."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("target_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "target_id", "cosine", "rank")
    )


def brute_force_topk(
    queries: DataFrame,
    targets: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    return topk(cosine_pairs(queries, targets, id_col, vec_col), k)


def ivf_topk(
    vectors: DataFrame,
    k: int = 3,
    n_centroids: int = 16,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    fit_fraction: float = 1.0,
) -> DataFrame:
    """IVF (inverted-file) ANN: k-means coarse quantizer + per-cell search.

    The scale rung above sign-bucket LSH (``lsh_bucketed_topk``):

    1. Fit MLlib KMeans (seeded; optionally on a ``fit_fraction``
       sample — at 100 TB you fit the quantizer on ~1M sampled rows,
       never the full corpus).
    2. Assign every corpus vector to its nearest centroid — a narrow
       ``model.transform`` pass, no shuffle.
    3. Each query probes its ``n_probe`` nearest cells (computed
       against the broadcast centroid table — n_centroids rows) and
       runs the exact cosine kernel only against those cells'
       members: candidate volume drops ~n_probe/n_centroids-fold.

    The candidate join shuffles on the cell id, which has only
    n_centroids distinct values — at cluster scale raise n_centroids
    (IVF sizing rule: ~sqrt(corpus) cells) so cells, not machines, are
    the parallelism unit, and AQE skew-split handles hot cells.

    Cosine is a single JVM array expression (zip_with + aggregate over
    doubles) — no explode, no Python. Deterministic for a fixed seed;
    approximate by construction, so validated by a recall-vs-brute-force
    test rather than a SQL oracle.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    featured = vectors.select(
        id_col,
        F.col(vec_col).cast("array<double>").alias("_arr"),
    ).withColumn("_features", array_to_vector("_arr"))

    fit_input = (
        featured.sample(fraction=fit_fraction, seed=seed)
        if fit_fraction < 1.0
        else featured
    )
    model = KMeans(
        k=n_centroids, seed=seed, featuresCol="_features", predictionCol="_cell"
    ).fit(fit_input)

    assigned = model.transform(featured).select(
        F.col(id_col), F.col("_arr"), F.col("_cell")
    )

    spark = vectors.sparkSession
    centroids = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "cell int, centroid array<double>",
    )

    # each query probes its n_probe nearest cells (broadcast cross join
    # against the tiny centroid table; distance = exact array expr)
    dist2 = F.aggregate(
        F.zip_with("qarr", "centroid", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    probe_w = Window.partitionBy("query_id").orderBy("dist2", "cell")
    probes = (
        assigned.selectExpr(f"{id_col} as query_id", "_arr as qarr")
        .crossJoin(F.broadcast(centroids))
        .withColumn("dist2", dist2)
        .withColumn("_pr", F.row_number().over(probe_w))
        .where(F.col("_pr") <= n_probe)
        .select("query_id", "qarr", "cell")
    )

    dot = F.aggregate(
        F.zip_with("qarr", "tarr", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nrm = lambda c: F.sqrt(
        F.aggregate(
            F.zip_with(c, c, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    targets = assigned.selectExpr(
        f"{id_col} as target_id", "_arr as tarr", "_cell as cell"
    )
    pairs = (
        probes.join(targets, "cell")
        .where(F.col("query_id") != F.col("target_id"))
        .select(
            "query_id",
            "target_id",
            (dot / (nrm(F.col("qarr")) * nrm(F.col("tarr")))).alias("cosine"),
        )
        # a query probing n_probe cells sees each target at most once
        # (targets live in exactly one cell), so no dedup needed
    )
    return topk(pairs, k)


def ivf_topk_pinned(
    vectors: DataFrame,
    k: int = 3,
    n_centroids: int = 16,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN with a PINNED coarse quantizer: the centroids are the
    corpus vectors with ``id < n_centroids``.

    Same inverted-file physical shape as ``ivf_topk`` (assign every
    vector to its nearest cell, queries probe their ``n_probe`` nearest
    cells, exact kernel only within probed cells) but the quantizer is
    a deterministic function of the corpus instead of a k-means fit, and
    every distance is exact int64 fixed-point arithmetic — so the full
    index build + search is reproducible bit-for-bit in any engine and
    sits under the driver's hash gate. Use ``ivf_topk`` (seeded k-means)
    when cell balance matters more than checkability; the search-side
    plan is identical, so the gate on this variant covers both.

    Scale notes: the centroid element table is n_centroids * dims rows
    — broadcast. The candidate join shuffles on (cell, pos); raise
    n_centroids ~ sqrt(corpus) so cells are the parallelism unit (see
    ``ivf_sizing``), and AQE skew-split covers hot cells.
    """
    # element and norm tables feed four/three consumers each
    # (centroid slices, assignment dot, both search sides); lazy
    # checkpoints materialize the explode/quantize subtree once —
    # measured: 14 exchanges in the plan vs 8 after
    el = _elements(vectors, id_col, vec_col).localCheckpoint(eager=False)
    n2 = norms2(vectors, id_col, vec_col).localCheckpoint(eager=False)

    cel = el.where(F.col(id_col) < n_centroids).selectExpr(
        f"{id_col} as cell", "pos", "val as cval"
    )
    cn2 = n2.where(F.col(id_col) < n_centroids).selectExpr(
        f"{id_col} as cell", "norm2 as cnorm2"
    )

    # exact squared L2 to every centroid: |v|^2 - 2 v.c + |c|^2 (int64)
    cdot = (
        el.join(F.broadcast(cel), "pos")
        .groupBy(id_col, "cell")
        .agg(F.sum(F.col("val") * F.col("cval")).alias("cdot"))
    )
    cdist = (
        cdot.join(n2, id_col)
        .join(F.broadcast(cn2), "cell")
        .select(
            F.col(id_col),
            F.col("cell"),
            (
                F.col("norm2") - 2 * F.col("cdot") + F.col("cnorm2")
            ).alias("dist2"),
        )
    )
    w = Window.partitionBy(id_col).orderBy("dist2", "cell")
    ranked = cdist.withColumn("_r", F.row_number().over(w))
    assigned = ranked.where(F.col("_r") == 1).select(id_col, "cell")
    probes = ranked.where(F.col("_r") <= n_probe).selectExpr(
        f"{id_col} as query_id", "cell"
    )

    qel = probes.join(
        el.selectExpr(f"{id_col} as query_id", "pos", "val as qval"),
        "query_id",
    )
    tel = assigned.selectExpr(f"{id_col} as target_id", "cell").join(
        el.selectExpr(f"{id_col} as target_id", "pos", "val as tval"),
        "target_id",
    )
    dots = (
        qel.join(tel, ["cell", "pos"])
        .where(F.col("query_id") != F.col("target_id"))
        .groupBy("query_id", "target_id")
        .agg(F.sum(F.col("qval") * F.col("tval")).alias("dot"))
    )
    qn = n2.selectExpr(f"{id_col} as query_id", "norm2 as qn2")
    tn = n2.selectExpr(f"{id_col} as target_id", "norm2 as tn2")
    pairs = (
        dots.join(qn, "query_id")
        .join(tn, "target_id")
        .select(
            "query_id",
            "target_id",
            (
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("qn2").cast("double"))
                    * F.sqrt(F.col("tn2").cast("double"))
                )
            ).alias("cosine"),
        )
    )
    return topk(pairs, k)


def sign_bucket(vec_col: str = "embedding", n_planes: int = 4):
    """Bucket id from the sign bits of the first n_planes dimensions."""
    expr = None
    for i in range(n_planes):
        bit = F.when(F.element_at(F.col(vec_col), i + 1) > 0, 1 << i).otherwise(0)
        expr = bit if expr is None else expr + bit
    return expr.cast("long")


def lsh_bucketed_topk(
    vectors: DataFrame,
    k: int = 3,
    n_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN: all-pairs top-k within sign buckets only.

    The bucket column rides the shuffle key, so each bucket's pairwise
    kernel is independent — at cluster scale this is an embarrassingly
    parallel per-bucket brute force with 1/2^n_planes of the pairs.
    """
    bucketed = vectors.withColumn("bucket", sign_bucket(vec_col, n_planes))
    elems = bucketed.select(
        F.col(id_col), F.col("bucket"), F.posexplode(vec_col).alias("pos", "val")
    ).withColumn("val", F.floor(F.col("val").cast("double") * QSCALE))
    q = elems.selectExpr(
        f"{id_col} as query_id", "bucket", "pos", "val as qval"
    )
    t = elems.selectExpr(
        f"{id_col} as target_id", "bucket", "pos", "val as tval"
    )

    dots = (
        q.join(t, ["bucket", "pos"])
        .where(F.col("query_id") != F.col("target_id"))
        .groupBy("query_id", "target_id")
        .agg(F.sum(F.col("qval") * F.col("tval")).alias("dot"))
    )
    n2 = norms2(vectors, id_col, vec_col)
    qn = n2.selectExpr(f"{id_col} as query_id", "norm2 as qn2")
    tn = n2.selectExpr(f"{id_col} as target_id", "norm2 as tn2")
    pairs = (
        dots.join(qn, "query_id")
        .join(tn, "target_id")
        .select(
            "query_id",
            "target_id",
            (
                F.col("dot").cast("double")
                / (F.sqrt(F.col("qn2").cast("double")) * F.sqrt(F.col("tn2").cast("double")))
            ).alias("cosine"),
        )
    )
    return topk(pairs, k)


def quantize_int8(
    vectors: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric per-vector int8 quantization (the FAISS-SQ8-style
    storage compressor: 4x smaller than float32, dot products stay
    usable): q = sign(v) * trunc(127 * |v| / max|v|), computed ENTIRELY
    in exact int64 fixed-point arithmetic on the 2^24-quantized
    elements so the codes are bit-identical on any engine — truncating
    division on non-negative operands avoids the floor-vs-trunc
    divergence between engines.

    One explode + one per-vector max + one co-partitioned join (both
    sides already hashed on the id — exchange reuse): cost is linear
    in corpus size, no corpus-wide stage. Output: (id, pos 1-based,
    q int8-ranged int, scale int64); a zero vector quantizes to all
    zeros with scale 0.
    """
    el = _elements(vectors, id_col, vec_col)
    scale = el.groupBy(id_col).agg(F.max(F.abs("val")).alias("scale"))
    sign = F.when(F.col("val") < 0, F.lit(-1)).otherwise(F.lit(1))
    q = F.when(F.col("scale") == 0, F.lit(0)).otherwise(
        sign * F.expr("(abs(val) * 127) div scale")
    )
    return el.join(scale, id_col).select(
        F.col(id_col),
        (F.col("pos") + 1).alias("pos"),
        q.cast("int").alias("q"),
        F.col("scale"),
    )


def arrow_brute_force_topk(
    queries: DataFrame,
    targets: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k via ``mapInArrow`` — the zero-copy Python
    data plane (Arrow batches straight into numpy, no pandas
    materialization, no per-row serialization).

    Same semantics and same fixed-point arithmetic as
    ``brute_force_topk`` (results are bit-identical; pinned by
    tests/test_llm_ops.py), different physical strategy:

    - the (small, by the same contract as ``cosine_pairs``) query set
      is collected once and closed over as an int64 matrix;
    - the target corpus STREAMS through ``mapInArrow`` — zero
      shuffles, zero explode: each Arrow batch does one int64
      (batch x dim) @ (dim x n_queries) matmul, exact by the QSCALE
      argument in the module docstring;
    - each batch emits only its LOCAL top-k per query under the
      global total order (cosine desc, target_id asc), so the final
      window ranks k x n_batches candidate rows, not the full
      n_queries x corpus grid. The global top-k is a subset of the
      union of batch-local top-ks, so batch boundaries cannot change
      the result.

    At 100 TB this is the preferred brute-force formulation: the only
    exchange in the plan is the final window over the pruned
    candidates. The position-join variant remains for engines without
    Arrow and as the oracle-shaped twin.
    """
    import numpy as np
    import pyarrow as pa

    qrows = queries.select(id_col, vec_col).collect()
    qids_l = [r[0] for r in qrows]
    qi = np.floor(
        np.asarray([r[1] for r in qrows], dtype=np.float64) * QSCALE
    ).astype(np.int64)
    qn2 = (qi * qi).sum(axis=1)  # <= dims * (2^24)^2 — fits int64
    qids = np.asarray(qids_l, dtype=np.int64)

    out_schema = "query_id long, target_id long, cosine double"

    def fn(batches):
        for batch in batches:
            ids = batch.column(0).to_numpy()
            col = batch.column(1)
            flat = col.flatten()
            lens = np.diff(col.offsets.to_numpy())
            if len(lens) == 0:
                continue
            dim = int(lens[0])
            if not (lens == dim).all():  # pragma: no cover
                raise ValueError("ragged embedding column")
            ti = np.floor(
                flat.to_numpy(zero_copy_only=False)
                .astype(np.float64)
                .reshape(-1, dim)
                * QSCALE
            ).astype(np.int64)
            tn2 = (ti * ti).sum(axis=1)
            dots = ti @ qi.T  # (n_targets, n_queries), exact int64
            cos = dots.astype(np.float64) / (
                np.sqrt(qn2.astype(np.float64))[None, :]
                * np.sqrt(tn2.astype(np.float64))[:, None]
            )
            out_q, out_t, out_c = [], [], []
            for j in range(len(qids)):
                cj = cos[:, j]
                mask = ids != qids[j]
                cand = np.nonzero(mask)[0]
                if len(cand) == 0:
                    continue
                if len(cand) > 4 * k:
                    # O(n) argpartition prune before the O(m log m)
                    # lexsort — at real batch sizes the full-batch
                    # sort per query dominates the matmul. Tie-safe:
                    # every row at or above the k-th cosine survives
                    # into the exact (cosine desc, id asc) sort, so
                    # boundary ties resolve identically to the
                    # unpruned path.
                    cc = cj[cand]
                    kth = cc[np.argpartition(-cc, k - 1)[:k]].min()
                    cand = cand[cc >= kth]
                # batch-local top-k under (cosine desc, target_id asc):
                # lexsort's last key is primary
                order = cand[np.lexsort((ids[cand], -cj[cand]))][:k]
                out_q.extend([qids[j]] * len(order))
                out_t.extend(ids[order].tolist())
                out_c.extend(cj[order].tolist())
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_q, type=pa.int64()),
                    pa.array(out_t, type=pa.int64()),
                    pa.array(out_c, type=pa.float64()),
                ],
                names=["query_id", "target_id", "cosine"],
            )

    candidates = targets.select(
        F.col(id_col), F.col(vec_col)
    ).mapInArrow(fn, out_schema)
    return topk(candidates, k)


def write_ivf_index(
    vectors: DataFrame,
    path: str,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist the pinned-quantizer inverted file so queries never
    re-assign the corpus. Layout under ``path``:

    - ``cells/`` — (target_id, pos, val) element posting lists
      partitioned by ``cell``: a probe reads only its cells'
      directories (partition pruning on the filter the probe list
      produces).
    - ``cell_vectors/`` — (target_id, qv int64 array, tn2) per
      target, partitioned by ``cell``: the SEARCH layout (one
      zip_with dot per row instead of a dims-fold element join).
    - ``norms/`` — (target_id, tn2) exact squared norms.
    - ``centroid_elements/`` / ``centroid_norms`` — the quantizer
      (n_centroids * dims rows; broadcast at query time).

    Same exact int64 arithmetic as ``ivf_topk_pinned``: the persisted
    index reproduces its in-plan results bit-for-bit (pinned by
    tests). Appending a snapshot = assigning only the new vectors and
    appending to ``cells/``/``norms/``.
    """
    el = _elements(vectors, id_col, vec_col)
    n2 = norms2(vectors, id_col, vec_col)
    cel = el.where(F.col(id_col) < n_centroids).selectExpr(
        f"{id_col} as cell", "pos", "val as cval"
    )
    cn2 = n2.where(F.col(id_col) < n_centroids).selectExpr(
        f"{id_col} as cell", "norm2 as cnorm2"
    )
    cdot = (
        el.join(F.broadcast(cel), "pos")
        .groupBy(id_col, "cell")
        .agg(F.sum(F.col("val") * F.col("cval")).alias("cdot"))
    )
    cdist = (
        cdot.join(n2, id_col)
        .join(F.broadcast(cn2), "cell")
        .select(
            F.col(id_col),
            F.col("cell"),
            (F.col("norm2") - 2 * F.col("cdot") + F.col("cnorm2")).alias(
                "dist2"
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy("dist2", "cell")
    # pin the assignment once: it feeds BOTH index layouts below, and
    # without the checkpoint each write re-runs the corpus-wide
    # argmin window (measured ~2x build wall at the 1M bench probe)
    assigned = (
        cdist.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") == 1)
        .select(id_col, "cell")
    ).localCheckpoint(eager=True)
    (
        assigned.join(el, id_col)
        .selectExpr(f"{id_col} as target_id", "cell", "pos", "val")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{path}/cells")
    )
    # the SEARCH layout: one row per target carrying the whole
    # quantized int64 array + its norm, partitioned by cell. The
    # element posting lists above are the append/analytics layout;
    # searching through them costs a dims-fold row blowup in the
    # (cell, pos) join (measured 16x at the 1M bench probe — element
    # search 7.6 s vs 2.4 s on arrays), so the hot path reads this
    # one and computes each exact int64 dot in a single zip_with
    # aggregate per (query, target) row.
    qv = vectors.select(
        F.col(id_col),
        F.expr(
            f"transform({vec_col}, x -> "
            f"CAST(FLOOR(CAST(x AS DOUBLE) * {QSCALE}) AS BIGINT))"
        ).alias("qv"),
    )
    (
        assigned.join(qv, id_col)
        .join(n2, id_col)
        .selectExpr(f"{id_col} as target_id", "cell", "qv", "norm2 as tn2")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{path}/cell_vectors")
    )
    n2.selectExpr(f"{id_col} as target_id", "norm2 as tn2").write.mode(
        "overwrite"
    ).parquet(f"{path}/norms")
    cel.write.mode("overwrite").parquet(f"{path}/centroid_elements")
    cn2.write.mode("overwrite").parquet(f"{path}/centroid_norms")
    (
        vectors.select(
            F.size(vec_col).alias("dims"),
            F.lit(n_centroids).alias("n_centroids"),
        )
        .limit(1)
        .write.mode("overwrite")
        .parquet(f"{path}/meta")
    )


def ivf_index_topk(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 3,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Search a ``write_ivf_index`` inverted file: only the QUERY side
    is quantized in-plan; the corpus contributes columnar scans of its
    posting lists (pruned to probed cells) and norms. Bit-identical to
    ``ivf_topk_pinned`` run over the same corpus/queries."""
    qel_raw = _elements(queries, id_col, vec_col)
    qn2 = norms2(queries, id_col, vec_col)
    cel = spark.read.parquet(f"{path}/centroid_elements")
    cn2 = spark.read.parquet(f"{path}/centroid_norms")
    cdot = (
        qel_raw.join(F.broadcast(cel), "pos")
        .groupBy(id_col, "cell")
        .agg(F.sum(F.col("val") * F.col("cval")).alias("cdot"))
    )
    cdist = (
        cdot.join(qn2, id_col)
        .join(F.broadcast(cn2), "cell")
        .select(
            F.col(id_col),
            F.col("cell"),
            (F.col("norm2") - 2 * F.col("cdot") + F.col("cnorm2")).alias(
                "dist2"
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy("dist2", "cell")
    probes = (
        cdist.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") <= n_probe)
        .selectExpr(f"{id_col} as query_id", "cell")
    )
    # Only a MISSING cell_vectors layout (pre-round-7 index) selects the
    # slow element path; genuine read failures (corruption, permissions)
    # must propagate rather than silently degrade. AnalysisException is
    # the missing-path error class and the check works identically under
    # Spark Connect (no _jvm bridge needed).
    from pyspark.errors import AnalysisException

    cv_path = f"{path}/cell_vectors"
    try:
        cv = spark.read.parquet(cv_path)
    except AnalysisException:
        cv = None  # pre-round-7 index: element posting lists only
    # schema drift in an EXISTING layout raises outside the guard
    tvec = (
        cv.selectExpr("target_id", "cell", "qv as tqv", "tn2")
        if cv is not None
        else None
    )
    qn = qn2.selectExpr(f"{id_col} as query_id", "norm2 as qn2")
    if tvec is not None:
        # ARROW KERNEL path (round 7): the probe list and the query
        # batch are collected once (the same bounded query-side pull
        # arrow_brute_force_topk documents — queries are small by
        # contract; probes are |queries| x n_probe rows), then:
        #  - the scan is FILTERED to the probed cells, so partition
        #    pruning actually skips unprobed cell directories (the
        #    IVF contract in bytes, not just compute);
        #  - each Arrow batch matmuls its targets against ONLY the
        #    queries probing that batch's cells — int64 exact, the
        #    same QSCALE argument as the brute kernel — and emits
        #    batch-local top-k per query under the global
        #    (cosine desc, target_id asc) order;
        #  - the final window ranks k x n_batches candidates.
        # Bit-identical to the element path (same stored quantized
        # ints, same float64 cosine expression, same tiebreak);
        # pinned by test_persisted_ivf_index_matches_in_plan. The
        # JVM element path below remains the no-Python fallback for
        # pre-round-7 index layouts.
        import numpy as np
        import pyarrow as pa

        # probe selection runs in numpy over the collected centroid
        # tables (n_centroids x dims — KBs) instead of a multi-stage
        # JVM job: same exact int64 dist2 = qn2 - 2*q.c + cn2 and the
        # same (dist2, cell) tiebreak as the in-plan quantizer, so
        # the probed set is bit-identical (pinned by the parity
        # test); at 100-1000 queries the saved probe job was the
        # largest fixed cost of a search call.
        qrows = queries.select(id_col, vec_col).collect()
        if not qrows:
            # an empty query batch: the numpy probe below would die
            # on a zero-row matmul (round-7 self-audit); the right
            # answer is an empty, correctly-typed result
            return spark.createDataFrame(
                [],
                "query_id long, target_id long, cosine double, rank long",
            )
        qids = np.asarray([r[0] for r in qrows], dtype=np.int64)
        qi = np.floor(
            np.asarray([r[1] for r in qrows], dtype=np.float64) * QSCALE
        ).astype(np.int64)
        qn2_np = (qi * qi).sum(axis=1)
        cel_pd = (
            spark.read.parquet(f"{path}/centroid_elements")
            .toPandas()
            .sort_values(["cell", "pos"])
        )
        n_cells = cel_pd["cell"].nunique()
        cmat = (
            cel_pd["cval"]
            .to_numpy()
            .astype(np.int64)
            .reshape(n_cells, -1)
        )
        cell_ids = cel_pd["cell"].unique()
        cn2_np = (cmat * cmat).sum(axis=1)
        dist2 = (
            qn2_np[:, None] - 2 * (qi @ cmat.T) + cn2_np[None, :]
        )
        cell_to_qidx: dict[int, list[int]] = {}
        for j in range(len(qids)):
            order = np.lexsort((cell_ids, dist2[j]))[:n_probe]
            for c in cell_ids[order]:
                cell_to_qidx.setdefault(int(c), []).append(j)
        probed_cells = sorted(cell_to_qidx)

        out_schema = "query_id long, target_id long, cosine double"

        def kernel(batches):
            for batch in batches:
                tids = batch.column(0).to_numpy()
                col = batch.column(1)
                flat = col.flatten().to_numpy(zero_copy_only=False)
                lens = np.diff(col.offsets.to_numpy())
                if len(lens) == 0:
                    continue
                dim = int(lens[0])
                ti = flat.astype(np.int64).reshape(-1, dim)
                tn2 = batch.column(2).to_numpy()
                cells = batch.column(3).to_numpy()
                out_q, out_t, out_c = [], [], []
                for cell in np.unique(cells):
                    qidx = cell_to_qidx.get(int(cell))
                    if not qidx:
                        continue
                    sel = np.nonzero(cells == cell)[0]
                    dots = ti[sel] @ qi[qidx].T
                    cos = dots.astype(np.float64) / (
                        np.sqrt(qn2_np[qidx].astype(np.float64))[None, :]
                        * np.sqrt(tn2[sel].astype(np.float64))[:, None]
                    )
                    ids_c = tids[sel]
                    for jj, j in enumerate(qidx):
                        cj = cos[:, jj]
                        mask = ids_c != qids[j]
                        cand = np.nonzero(mask)[0]
                        if len(cand) == 0:
                            continue
                        if len(cand) > 4 * k:
                            cc = cj[cand]
                            kth = cc[
                                np.argpartition(-cc, k - 1)[:k]
                            ].min()
                            cand = cand[cc >= kth]
                        order = cand[
                            np.lexsort((ids_c[cand], -cj[cand]))
                        ][:k]
                        out_q.extend([qids[j]] * len(order))
                        out_t.extend(ids_c[order].tolist())
                        out_c.extend(cj[order].tolist())
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(out_q, type=pa.int64()),
                        pa.array(out_t, type=pa.int64()),
                        pa.array(out_c, type=pa.float64()),
                    ],
                    names=["query_id", "target_id", "cosine"],
                )

        candidates = (
            tvec.where(F.col("cell").isin(probed_cells))
            .select("target_id", "tqv", "tn2", "cell")
            .mapInArrow(kernel, out_schema)
        )
        return topk(candidates, k)
    qel = probes.join(
        qel_raw.selectExpr(f"{id_col} as query_id", "pos", "val as qval"),
        "query_id",
    )
    tel = spark.read.parquet(f"{path}/cells").selectExpr(
        "target_id", "cell", "pos", "val as tval"
    )
    dots = (
        qel.join(tel, ["cell", "pos"])
        .where(F.col("query_id") != F.col("target_id"))
        .groupBy("query_id", "target_id")
        .agg(F.sum(F.col("qval") * F.col("tval")).alias("dot"))
    )
    tn = spark.read.parquet(f"{path}/norms").selectExpr(
        "target_id", "tn2"
    )
    pairs = (
        dots.join(qn, "query_id")
        .join(tn, "target_id")
        .select(
            "query_id",
            "target_id",
            (
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("qn2").cast("double"))
                    * F.sqrt(F.col("tn2").cast("double"))
                )
            ).alias("cosine"),
        )
    )
    return topk(pairs, k)


def semdedup_prune(
    vectors: DataFrame,
    n_centroids: int = 16,
    threshold: float = 0.92,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): coarse-cluster the embedding corpus, then prune
    near-duplicates ONLY within each cluster — the trick that makes
    semantic dedup tractable at corpus scale, because the O(n^2) cosine
    kernel runs per-cell (n/C rows each) instead of corpus-wide.

    Clustering here is the pinned coarse quantizer shared with
    ``ivf_topk_pinned`` (centroids = corpus vectors with id <
    n_centroids; exact int64 L2 assignment), so the whole pipeline is
    bit-reproducible and sits under the driver's hash gate; swap in
    seeded k-means (``ivf_topk``) when cell balance matters more than
    checkability — the pruning plan is identical either way.

    Pruning semantics: vector v is pruned iff some same-cell vector u
    with u.id < v.id has cos(u, v) >= threshold (the standard
    keep-lowest-id greedy; one representative survives per near-dup
    chain). The threshold test is evaluated on exact integers:
    dot > 0 AND dot^2 >= t^2 * |u|^2 * |v|^2, with the squares taken in
    IEEE double from identical int64 inputs on any engine.

    Returns one row per corpus vector: (id, cell, pruned, pruned_by)
    with pruned_by = lowest pruning id, or -1 if kept.

    Scale shape: one broadcast join for assignment, one shuffle on
    (cell, pos) for the intra-cell kernel, one min-agg. Cells are the
    parallelism unit — size n_centroids ~ sqrt(corpus) (``ivf_sizing``)
    and AQE skew-split handles hot cells.
    """
    tau2 = threshold * threshold
    el = _elements(vectors, id_col, vec_col).localCheckpoint(eager=False)
    n2 = norms2(vectors, id_col, vec_col).localCheckpoint(eager=False)

    cel = el.where(F.col(id_col) < n_centroids).selectExpr(
        f"{id_col} as cell", "pos", "val as cval"
    )
    cn2 = n2.where(F.col(id_col) < n_centroids).selectExpr(
        f"{id_col} as cell", "norm2 as cnorm2"
    )
    cdot = (
        el.join(F.broadcast(cel), "pos")
        .groupBy(id_col, "cell")
        .agg(F.sum(F.col("val") * F.col("cval")).alias("cdot"))
    )
    cdist = (
        cdot.join(n2, id_col)
        .join(F.broadcast(cn2), "cell")
        .select(
            F.col(id_col),
            F.col("cell"),
            (F.col("norm2") - 2 * F.col("cdot") + F.col("cnorm2")).alias("dist2"),
        )
    )
    w = Window.partitionBy(id_col).orderBy("dist2", "cell")
    assigned = (
        cdist.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") == 1)
        .select(id_col, "cell")
    )

    uel = assigned.join(el, id_col).selectExpr(
        "cell", f"{id_col} as u", "pos", "val as uval"
    )
    vel = assigned.join(el, id_col).selectExpr(
        "cell", f"{id_col} as v", "pos", "val as vval"
    )
    dots = (
        uel.join(vel, ["cell", "pos"])
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.sum(F.col("uval") * F.col("vval")).alias("dot"))
    )
    un = n2.selectExpr(f"{id_col} as u", "norm2 as un2")
    vn = n2.selectExpr(f"{id_col} as v", "norm2 as vn2")
    dup = (
        dots.join(un, "u")
        .join(vn, "v")
        .where(
            (F.col("dot") > 0)
            & (
                F.col("dot").cast("double") * F.col("dot").cast("double")
                >= F.lit(tau2)
                * F.col("un2").cast("double")
                * F.col("vn2").cast("double")
            )
        )
    )
    pruned_by = dup.groupBy("v").agg(F.min("u").alias("_pby"))
    return (
        assigned.join(pruned_by, F.col(id_col) == F.col("v"), "left")
        .select(
            F.col(id_col),
            F.col("cell").cast("long").alias("cell"),
            F.col("_pby").isNotNull().alias("pruned"),
            F.coalesce(F.col("_pby"), F.lit(-1)).cast("long").alias("pruned_by"),
        )
    )


# SRP sign hash: a cheap integer hash of (dim, output dim) decides the
# +/-1 entry of the projection matrix — never materialized, identical
# arithmetic in any engine (Achlioptas 2003 database-friendly random
# projections, sign variant).
_SRP_A = 73856093
_SRP_B = 19349663
_SRP_MOD = 97
_SRP_HALF = 48


def srp_project(
    vectors: DataFrame,
    out_dims: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Sign-random-projection dimensionality reduction: y_j = sum_i
    s(i, j) * x_i with s in {-1, +1} from an integer hash of (i, j).

    Exact int64 arithmetic end to end (inputs are the 2^24 fixed-point
    elements), so projected values are engine-portable — this is the
    JL-style dim reduction that feeds bit-signature LSH at corpus
    scale (group the signs of y into a bucket id to get seeded random
    hyperplanes instead of ``sign_bucket``'s axis-aligned planes).

    Returns (id, j, proj): out_dims rows per vector. One explode + one
    broadcast of the out_dims-row j table + one partial+final sum; no
    shuffle of anything wider than (id, j).
    """
    spark = vectors.sparkSession
    el = _elements(vectors, id_col, vec_col)
    jdf = spark.range(out_dims).select(F.col("id").cast("int").alias("j"))
    # long arithmetic: pos * _SRP_A overflows int32 (silent wrap on the
    # JVM, hard error in DuckDB — neither is the hash we defined)
    sign = F.when(
        (
            (
                F.col("pos").cast("long") * _SRP_A
                + F.col("j").cast("long") * _SRP_B
            )
            % _SRP_MOD
        )
        < _SRP_HALF,
        F.lit(1),
    ).otherwise(F.lit(-1))
    return (
        el.crossJoin(F.broadcast(jdf))
        .groupBy(id_col, "j")
        .agg(F.sum(F.col("val") * sign).alias("proj"))
        .select(F.col(id_col), F.col("j").cast("long").alias("j"), "proj")
    )


def pq_codes(
    vectors: DataFrame,
    n_subspaces: int = 8,
    n_codes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int | None = None,
) -> DataFrame:
    """Product-quantization code assignment (Jegou et al. 2011): split
    each vector into n_subspaces contiguous slices and store, per
    slice, the id of the nearest codebook entry — the 64x storage
    compression behind IVF-PQ indexes.

    The codebook is pinned (codes = slices of the corpus vectors with
    id < n_codes), mirroring the coarse-quantizer convention of
    ``ivf_topk_pinned``; distances are exact int64 L2 on fixed-point
    elements, argmin tie-broken on code id, so assignments are
    bit-identical on any engine. Training the codebook with seeded
    per-subspace k-means slots into the same plan.

    Returns (id, subspace, code, dist2). Plan: one explode + one
    broadcast codebook join + one partial+final sum + one per-(id,
    subspace) argmin window — the only shuffle key is (id, subspace).

    ``dims``: vector dimensionality. None derives it from the first
    row (one scalar probe job, outside the returned plan); either way
    it must divide evenly into ``n_subspaces`` — slicing a corpus
    whose dims don't match the assumed layout would silently produce
    wrong subspace widths.
    """
    if dims is None:
        row = vectors.select(F.size(vec_col).alias("d")).first()
        if row is None:
            raise ValueError("pq_codes: empty vectors DataFrame")
        dims = int(row["d"])
    if dims <= 0 or dims % n_subspaces:
        raise ValueError(
            f"pq_codes: dims={dims} not divisible by "
            f"n_subspaces={n_subspaces}"
        )
    width = dims // n_subspaces
    el = _elements(vectors, id_col, vec_col).withColumn(
        "sub", F.expr(f"pos div {width}").cast("int")
    )
    cb = el.where(F.col(id_col) < n_codes).selectExpr(
        "sub", "pos", f"{id_col} as code", "val as cval"
    )
    d2 = (
        el.join(F.broadcast(cb), ["sub", "pos"])
        .groupBy(id_col, "sub", "code")
        .agg(
            F.sum(
                (F.col("val") - F.col("cval")) * (F.col("val") - F.col("cval"))
            ).alias("dist2")
        )
    )
    w = Window.partitionBy(id_col, "sub").orderBy("dist2", "code")
    return (
        d2.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") == 1)
        .select(
            F.col(id_col),
            F.col("sub").cast("long").alias("subspace"),
            F.col("code").cast("long").alias("code"),
            "dist2",
        )
    )



def _kmeans_assign(el, cent, id_col):
    """argmin-L2 assignment of every vector to a centroid (int64,
    tie -> lowest cluster id)."""
    d2 = (
        el.join(F.broadcast(cent), "pos")
        .groupBy(id_col, "cluster")
        .agg(
            F.sum(
                (F.col("val") - F.col("cval"))
                * (F.col("val") - F.col("cval"))
            ).alias("dist2")
        )
    )
    w = Window.partitionBy(id_col).orderBy("dist2", "cluster")
    return (
        d2.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") == 1)
        .select(id_col, "cluster", "dist2")
    )


def _kmeans_rounds(el, k, iterations, id_col):
    """The shared Lloyd rounds: returns the final centroid table
    (cluster, pos, cval) after ``iterations`` floor-exact updates.
    Both the assignment query (kmeans_int) and the model query
    (kmeans_centroids_int) call this, so they can never drift."""
    cent = el.where(F.col(id_col) < k).selectExpr(
        f"{id_col} as cluster", "pos", "val as cval"
    )
    for _ in range(iterations):
        a = _kmeans_assign(el, cent, id_col).select(id_col, "cluster")
        means = (
            a.join(el, id_col)
            .groupBy("cluster", "pos")
            .agg(
                F.floor(
                    F.sum("val").cast("double") / F.count("*").cast("double")
                ).alias("newval")
            )
        )
        # empty clusters keep their previous centroid element; the
        # lazy checkpoint cuts the round-over-round lineage (k x dims
        # rows -- the same O9 barrier discipline as the CCF loop, so a
        # 50-round fit never replans 50 rounds of joins)
        cent = (
            cent.join(means, ["cluster", "pos"], "left")
            .select(
                "cluster",
                "pos",
                F.coalesce(F.col("newval"), F.col("cval")).cast("long").alias("cval"),
            )
            .localCheckpoint(eager=False)
        )
    return cent


def kmeans_int(
    vectors: DataFrame,
    k: int = 8,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's k-means TRAINING loop in exact integer arithmetic: a
    distributed iterative ML fit whose every round is bit-reproducible
    on any engine (the same trick as the int64 PageRank — floor-exact
    centroid updates make summation order irrelevant).

    Seeding: centroids start as the quantized corpus vectors with
    id < k (deterministic, like the pinned coarse quantizer).
    Per round: assign every vector to its argmin-L2 centroid (int64
    distances, tie -> lowest cluster id), then recompute each centroid
    element as floor(mean) of its members — floor of an exact integer
    sum over an exact count, so the new centroids are int64 again.
    Empty clusters keep their previous centroid.

    Returns the final assignment (id, cluster, dist2) after
    ``iterations`` rounds.

    Scale shape per round: one broadcast of the k x dims centroid
    table + one partial+final argmin agg + one (cluster, pos) mean
    agg. Rounds are sequential jobs; a lazy localCheckpoint on the
    (k x dims)-row centroid table cuts round-over-round lineage, so
    deep fits never replan earlier rounds.
    """
    el = _elements(vectors, id_col, vec_col).localCheckpoint(eager=False)
    cent = _kmeans_rounds(el, k, iterations, id_col)
    return _kmeans_assign(el, cent, id_col).select(
        F.col(id_col),
        F.col("cluster").cast("long").alias("cluster"),
        "dist2",
    )

def kmeans_centroids_int(
    vectors: DataFrame,
    k: int = 8,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The trained MODEL from the exact-integer Lloyd loop: the final
    centroid table (cluster, pos, cval) after ``iterations`` rounds —
    what you persist and broadcast to assign new batches without
    refitting. Same rounds as ``kmeans_int`` (shared helper), so the
    model and the assignment are mutually consistent bit-for-bit.
    """
    el = _elements(vectors, id_col, vec_col).localCheckpoint(eager=False)
    return _kmeans_rounds(el, k, iterations, id_col).select(
        F.col("cluster").cast("long").alias("cluster"),
        F.col("pos").cast("long").alias("pos"),
        F.col("cval").cast("long").alias("cval"),
    )
