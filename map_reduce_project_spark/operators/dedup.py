"""Deduplication operators for large-scale text corpora.

Exact (hash group-by), MinHash+LSH (shingle -> minhash -> band ->
bucket-join), SimHash, and n-gram Jaccard verification — the standard
LLM-training-data dedup ladder. Design notes for 100 TB:

- Every stage is a built-in-expression DataFrame op: shingling is a
  higher-order ``transform`` over the token array (no explode until
  the minhash agg needs rows), minhash is one partial+final hash
  aggregate per document, the LSH bucket join is an equi-join on
  (band_index, band_hash) — all shuffle-partitionable and AQE-skew
  splittable. No Python UDFs anywhere.
- MinHash hashes each shingle ONCE (md5 -> 32-bit int) and derives
  every permutation as an affine rehash (A_s*x + B_s) mod P over
  int64 — the classic one-hash + universal-rehash construction.
  Measured neutral at the demo's 12 hashes on local[32] (the
  signature aggregate is explode/shuffle-bound, ~0.5 s at sf0.1
  either way); the wins are structural: signature and band-bucket
  shuffle keys are 8-byte ints instead of 32-char hex strings (4x
  less signature shuffle volume), and hash cost now grows with
  corpus size only, not corpus x num_hashes — which matters at the
  64+ hashes corpus scale demands (``minhash_sizing``). Arithmetic
  is bit-identical in any engine (the DuckDB oracle runs the same
  formulas).
- Candidate pairs only ever materialize per LSH bucket (band join),
  never as a corpus cross-join; the exact-Jaccard verifier joins
  candidates back to shingle sets, so its cost is |candidates|, not
  |corpus|^2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_NUM_HASHES = 12
DEFAULT_BANDS = 4  # 12 hashes / 4 bands = rows-per-band 3

# One-hash MinHash: base = first 8 hex digits of md5(shingle) as an
# int in [0, 2^32); permutation s = (A_s * base + B_s) mod P. P is the
# largest 32-bit prime; A_s < 2^23 keeps A_s * base < 2^55 — no int64
# overflow, identical arithmetic in Spark and DuckDB.
MINHASH_P = 4294967291
_BAND_MIX = 1000003


def minhash_a(s: int) -> int:
    return 40503 + 65537 * s


def minhash_b(s: int) -> int:
    return (2654435761 * s) % MINHASH_P


def minhash_min_exprs(num_hashes: int, shingle_col: str = "shingle"):
    """num_hashes aggregate expressions: min over the affine rehashes
    of the one-md5 shingle base (columns h0..h{n-1}, int64)."""
    base = F.conv(
        F.substring(F.md5(F.col(shingle_col)), 1, 8), 16, 10
    ).cast("long")
    return [
        F.min((base * minhash_a(s) + minhash_b(s)) % MINHASH_P).alias(f"h{s}")
        for s in range(num_hashes)
    ]


def band_hash_expr(cols: list[str]):
    """Fold a band's signature mins into one int64 bucket key:
    ((h0*M + h1) % P * M + h2) % P — pure arithmetic, no re-hash."""
    e = F.col(cols[0])
    for c in cols[1:]:
        e = (e * F.lit(_BAND_MIX) + F.col(c)) % F.lit(MINHASH_P)
    return e


def minhash_sizing(
    corpus_size: int, threshold: float = 0.8
) -> tuple[int, int]:
    """(num_hashes, bands) sized for the corpus, not the demo.

    The oracle-gated defaults (12 hashes / 4 bands) are demo-sized; at
    corpus scale signature variance ~1/sqrt(num_hashes) demands 64+
    hashes for usable recall. Bands are then chosen among divisors of
    num_hashes so the LSH S-curve midpoint (1/bands)^(1/rows_per_band)
    lands nearest the target Jaccard ``threshold`` — more bands = more
    recall and more candidate volume.

    Pass the result straight to ``minhash_signatures`` /
    ``lsh_buckets``; every downstream op is parameterized on it.
    """
    num_hashes = 64 if corpus_size >= 100_000 else DEFAULT_NUM_HASHES
    best_bands, best_gap = 1, float("inf")
    for b in range(1, num_hashes + 1):
        if num_hashes % b:
            continue
        midpoint = (1.0 / b) ** (b / num_hashes)
        gap = abs(midpoint - threshold)
        if gap < best_gap:
            best_bands, best_gap = b, gap
    return num_hashes, best_bands


def tokens_col(text_col: str = "text"):
    """Whitespace tokenization as a built-in expression."""
    return F.split(F.col(text_col), " ")


def shingles_expr(k: int = 3, text_col: str = "text"):
    """Word k-gram shingle array, built lazily with higher-order
    functions (no explode): transform over a 1..n-k+1 index sequence
    slicing the token array.

    The token array is LET-BOUND via a single-element transform
    (``transform(array(split(..)), toks -> ..)[0]``) so single
    evaluation per row is GUARANTEED rather than dependent on
    codegen's common-subexpression elimination. CSE does rescue the
    naive one-level form here (measured equal at 1000-token docs),
    but it failed on winnow_fingerprints' deeper nesting — a 53x
    blowup the round-5 sf0.1 sweep caught — so hot-path HOF
    expressions bind their arrays explicitly as policy."""
    return F.expr(
        f"transform(array(split({text_col}, ' ')), toks ->"
        f" transform(sequence(1, greatest(size(toks) - {k - 1}, 1)),"
        f" i -> concat_ws(' ', slice(toks, i, {k}))))[0]"
    )


def exploded_shingles(
    docs: DataFrame, k: int, id_col: str, text_col: str, alias: str = "shingle"
):
    """(id, shingle) rows via explode_OUTER + an explicit null guard.

    Plain explode lets InferFiltersFromGenerate derive ``size(arr) >
    0``, and predicate pushdown re-inlines the ENTIRE shingle
    expression as a filter at the narrow pre-fan_out scan stage —
    the whole compute runs twice, once serialized onto the one or
    two scan partitions (the round-5 sf0.1 sweep caught winnowing
    wedged there for 30+ minutes). Outer explode is inference-exempt
    (it must keep empty-array rows), and the null guard above the
    Generate restores exact explode semantics for null texts without
    being pushable below it."""
    return docs.select(
        F.col(id_col), F.explode_outer(shingles_expr(k, text_col)).alias(alias)
    ).where(F.col(alias).isNotNull())


def shingle_document_frequency(
    shingled: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """(shingle, df): number of distinct documents containing each
    shingle — one dropDuplicates + one count aggregate."""
    return (
        shingled.dropDuplicates([id_col, "shingle"])
        .groupBy("shingle")
        .agg(F.count("*").alias("df"))
    )


def prune_hot_shingles(
    shingled: DataFrame, max_df: int, id_col: str = "doc_id"
) -> DataFrame:
    """Drop shingles that occur in more than ``max_df`` documents.

    Boilerplate resistance for corpus-scale near-dedup: shingles shared
    by a large fraction of the corpus (site chrome, license headers,
    navigation text) put unrelated documents into the same LSH buckets
    — the classic hot-bucket blowup — while carrying no dedup signal.
    Pruning them BEFORE the minhash both fixes recall (signatures spend
    their hash budget on discriminative shingles) and kills the skew
    (no more corpus-sized buckets to pair-join).

    The hot set is tiny by construction (shingle frequency is zipfian;
    only the head crosses any sensible max_df), so it broadcasts, and
    the prune is a broadcast LEFT ANTI join — no shuffle of the
    shingle stream. Documents consisting entirely of boilerplate lose
    all their shingles and drop out of NEAR-dup detection; exact dedup
    (``exact_dedup``) still catches their literal copies.
    """
    hot = (
        shingle_document_frequency(shingled, id_col)
        .where(F.col("df") > max_df)
        .select("shingle")
    )
    return shingled.join(F.broadcast(hot), "shingle", "left_anti")


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Exact dedup: group by content key, keep the smallest id.

    Returns (``*key_cols`` hashed into ``content_key``, ``keep_id``,
    ``n_copies``). At scale this is one partial+final hash aggregate —
    the canonical "drop exact duplicate documents" op.
    """
    content_key = F.md5(F.concat_ws("\x1f", *key_cols)).alias("content_key")
    return (
        df.select(content_key, F.col(id_col))
        .groupBy("content_key")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
    )


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = DEFAULT_NUM_HASHES,
    k: int = 3,
    max_df: int | None = None,
) -> DataFrame:
    """Per-document MinHash signature: columns h0..h{n-1} (int64,
    one-hash affine-rehash construction — see module docstring).

    One explode + one grouped aggregate computing all n mins in a
    single pass (partial aggregation map-side, so shuffle volume is
    one row per doc per partition, not one per shingle).

    ``max_df``: if set, shingles occurring in more than max_df
    documents are pruned before hashing (``prune_hot_shingles``) —
    the boilerplate-resistance knob for web-scale corpora.
    """
    shingled = exploded_shingles(docs, k, id_col, text_col)
    if max_df is not None:
        shingled = prune_hot_shingles(shingled, max_df, id_col)
    return shingled.groupBy(id_col).agg(*minhash_min_exprs(num_hashes))


def lsh_buckets(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
) -> DataFrame:
    """(id, band_idx, band_hash): one row per document per band."""
    rows_per_band = num_hashes // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                band_hash_expr(
                    [f"h{b * rows_per_band + r}" for r in range(rows_per_band)]
                ).alias("band_hash"),
            )
            for b in range(bands)
        ]
    )
    return signatures.select(
        F.col(id_col), F.explode(band_structs).alias("band")
    ).select(id_col, "band.band_idx", "band.band_hash")


def lsh_candidate_pairs(
    buckets: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) sharing any band bucket.

    Equi-join on (band_idx, band_hash); at scale the bucket join is
    the only quadratic-risk stage and it is bounded per bucket — AQE
    skew-join splitting handles hot buckets (e.g. boilerplate docs).
    """
    a = buckets.select(
        F.col(id_col).alias("id_a"), "band_idx", "band_hash"
    )
    b = buckets.select(
        F.col(id_col).alias("id_b"), "band_idx", "band_hash"
    )
    return (
        a.join(b, ["band_idx", "band_hash"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates()
    )


def jaccard_verify(
    docs: DataFrame,
    candidates: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs; keeps pairs >= threshold.

    jaccard = |A ∩ B| / (|A| + |B| - |A ∩ B|) over distinct-shingle
    sets — all bigint counts, so the double division is deterministic.

    Only documents that appear in a candidate pair are shingled at
    all: the candidate id set (small by LSH construction — it is the
    whole point of banding that |candidates| << |corpus|) broadcasts
    as a semi-join filter on the raw docs, so the explode, the
    distinct-shingle shuffle, and the size aggregate all run over
    candidate docs only instead of the full corpus.
    """
    cand_ids = (
        candidates.select(F.col("id_a").alias(id_col))
        .unionAll(candidates.select(F.col("id_b").alias(id_col)))
        .dropDuplicates()
    )
    cand_docs = docs.join(F.broadcast(cand_ids), id_col, "left_semi")
    # one shuffle builds each candidate doc's distinct-shingle ARRAY;
    # the pair joins then move one array per doc instead of one row
    # per (doc, shingle) — the per-pair intersection is a local
    # array_intersect, bounded by document length, never corpus size.
    # Sets carry xxhash64(shingle) int64s (round 13, guide §2.3):
    # several-fold less array shuffle volume, long comparisons in the
    # intersect, identical n_inter/n_a/n_b (hence jaccard) under
    # injectivity — see minhash_dedup_fused for the audit.
    shingle_sets = (
        exploded_shingles(cand_docs, k, id_col, text_col)
        .groupBy(id_col)
        .agg(F.collect_set(F.xxhash64("shingle")).alias("sset"))
    )
    sa = shingle_sets.select(F.col(id_col).alias("id_a"), F.col("sset").alias("set_a"))
    sb = shingle_sets.select(F.col(id_col).alias("id_b"), F.col("sset").alias("set_b"))
    return (
        candidates.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("set_a", "set_b")).alias("n_inter"),
            F.size("set_a").alias("n_a"),
            F.size("set_b").alias("n_b"),
        )
        # zero-overlap pairs are not near-duplicates at any threshold
        # (and the pre-rewrite shingle-join formulation never emitted
        # them) — drop before the ratio so threshold=0.0 keeps the
        # "no shared shingles, no row" contract
        .where(F.col("n_inter") > 0)
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast(
                    "double"
                )
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def minhash_dedup_fused(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    k: int = 3,
    threshold: float = 0.5,
    collapse_exact: bool = False,
) -> DataFrame:
    """Shingle-ONCE MinHash -> LSH -> exact-Jaccard dedup pipeline.

    The composable operators (``minhash_signatures`` then
    ``jaccard_verify``) shingle the corpus twice: once for the
    signatures, once more to rebuild candidate docs' shingle sets for
    verification. This fused plan computes the signature mins AND the
    distinct-shingle array in ONE explode + ONE grouped aggregate, so
    the per-doc table feeds banding, the candidate join, and the
    verification arrays off a single reused shuffle (Catalyst plans
    the three consumers over a ReusedExchange). Measured 2.8x faster
    than the two-pass composition at sf0.1 (1.7 s vs 4.6 s) on the
    gate's injected-duplicate corpus, where every document is a
    candidate.

    Trade-off vs ``jaccard_verify``: the shingle-set array rides the
    signature shuffle for EVERY document, not just candidates. On a
    100 TB corpus where |candidates| << |corpus| (the normal regime —
    banding exists to make that true), the candidate-pruned re-shingle
    moves less data; use the composable path there. Fused wins when a
    large fraction of the corpus is near-duplicated (dedup of heavily
    mirrored crawls, the gate corpus) or when the per-doc table is
    persisted and reused across downstream stages anyway.

    Output matches ``jaccard_verify``: (id_a, id_b, jaccard) with
    jaccard >= threshold and at least one shared shingle.

    ``collapse_exact`` (optimization round 13, guide §2.3/§1.2 "don't
    compute things you throw away"): exact-duplicate TEXTS are first
    collapsed by content key (one corpus shuffle moving each text
    once), the MinHash/LSH/verify machinery runs over one
    representative per distinct text, and pairs are expanded back —
    within a group every (i < j) pair at jaccard exactly 1.0, across
    groups the representative pair's jaccard fanned out to all member
    combinations. The expansion is EXACTLY the pair set the
    uncollapsed pipeline emits: exact copies share signatures, hence
    every band bucket, so they are always LSH candidates with
    n_inter = n_a = n_b (jaccard 1.0 in exact double arithmetic), and
    a cross-group pair's candidacy and jaccard depend only on the two
    texts. A shingled-group guard (semi-join against the per-doc
    table) defends the "no shared shingles, no row" contract for any
    no-shingle group — defensive only with the current shingles_expr,
    which maps even empty and null texts to the [''] shingle; a
    property test pins both settings pair-identical on exactly those
    degenerate shapes (oracle-gated at three SFs on top). The dedup ladder's home regime is exactly where this
    pays: real crawls are 20-30% literal copies and the gate corpus
    is 100% duplicated — the shingle explode (measured: the single
    most expensive step of the fused plan) runs over the distinct
    texts only. Measured at the capstone 1M-doc tier (half the
    corpus literal copies): cluster stage 21.5 s -> 15.7 s. The
    default is False because the collapse's extra corpus shuffle +
    group bookkeeping only amortizes once the explode it removes is
    large — at the sf0.1 gate scale (~12k docs) it costs ~1 s more
    than it saves; size-gate the flag on the corpus, as the capstone
    ladder does. NB a
    pathological group (millions of copies of one text) makes a
    large _ids array cell — but the CONTRACT (all pairs) is
    quadratic in that group either way, so the array is never the
    binding constraint.
    """
    if collapse_exact:
        grp = (
            docs.groupBy(F.md5(F.col(text_col)).alias("_k"))
            .agg(
                F.min(id_col).alias(id_col),
                F.collect_list(id_col).alias("_ids"),
                F.first(text_col).alias(text_col),
            )
            .localCheckpoint(eager=False)
        )
        per_doc, rep_pairs = _fused_rep_pairs(
            grp.select(id_col, text_col),
            id_col,
            text_col,
            num_hashes,
            bands,
            k,
            threshold,
        )
        groups = grp.select(F.col(id_col), "_ids")
        ga = groups.select(
            F.col(id_col).alias("id_a"), F.col("_ids").alias("_ids_a")
        )
        gb = groups.select(
            F.col(id_col).alias("id_b"), F.col("_ids").alias("_ids_b")
        )
        cross = (
            rep_pairs.join(ga, "id_a")
            .join(gb, "id_b")
            .select(F.explode("_ids_a").alias("_a"), "_ids_b", "jaccard")
            .select("_a", F.explode("_ids_b").alias("_b"), "jaccard")
            .select(
                F.least("_a", "_b").alias("id_a"),
                F.greatest("_a", "_b").alias("id_b"),
                "jaccard",
            )
        )
        if threshold > 1.0:
            return cross
        shingled = groups.join(
            per_doc.select(F.col(id_col)), id_col, "left_semi"
        )
        within = (
            shingled.where(F.size("_ids") >= 2)
            .select(F.explode("_ids").alias("id_a"), "_ids")
            .select("id_a", F.explode("_ids").alias("id_b"))
            .where(F.col("id_a") < F.col("id_b"))
            .select(
                "id_a",
                "id_b",
                F.lit(1.0).cast("double").alias("jaccard"),
            )
        )
        return within.unionAll(cross)
    return _fused_rep_pairs(
        docs, id_col, text_col, num_hashes, bands, k, threshold
    )[1]


def _fused_rep_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    bands: int,
    k: int,
    threshold: float,
) -> tuple[DataFrame, DataFrame]:
    """(per_doc signature table, verified pairs) — the round-12 fused
    single-pass body, factored so collapse_exact can reuse the per-doc
    table for its shingled-group guard."""
    sh = exploded_shingles(docs, k, id_col, text_col)
    aggs = minhash_min_exprs(num_hashes)
    # verification sets carry xxhash64(shingle) int64s, not shingle
    # strings (optimization round 13, guide §2.3 "narrower types"):
    # the per-doc aggregate shuffles every document's set, and 8-byte
    # ids cut that volume several-fold vs ~40-byte word-3-gram
    # strings, while array_intersect compares longs instead of
    # strings. Intersection and set sizes — hence every jaccard
    # double — are unchanged under injectivity (collision odds
    # ~V^2/2^65; tests audit the gate vocabulary injective, and the
    # dedup_prefix_filter comment carries the at-scale math). The
    # minhash base stays md5 — banding and candidate generation are
    # bit-identical.
    aggs.append(F.collect_set(F.xxhash64("shingle")).alias("sset"))
    # materialize the per-doc table ONCE (lazy localCheckpoint): its
    # three consumers (banding, set_a, set_b) prune different columns,
    # which specializes the aggregate per consumer and defeats
    # ReusedExchange — without the checkpoint Catalyst plans the
    # shingle explode FOUR times. Interleaved A/B at sf0.1: median
    # 3.1 s vs 4.0 s. This is the "persist the signature table" step a
    # real pipeline does to durable storage; localCheckpoint is its
    # in-session equivalent.
    per_doc = sh.groupBy(id_col).agg(*aggs).localCheckpoint(eager=False)

    buckets = lsh_buckets(per_doc, id_col=id_col, num_hashes=num_hashes, bands=bands)
    cands = lsh_candidate_pairs(buckets, id_col=id_col)
    sa = per_doc.select(F.col(id_col).alias("id_a"), F.col("sset").alias("set_a"))
    sb = per_doc.select(F.col(id_col).alias("id_b"), F.col("sset").alias("set_b"))
    pairs = (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("set_a", "set_b")).alias("n_inter"),
            F.size("set_a").alias("n_a"),
            F.size("set_b").alias("n_b"),
        )
        .where(F.col("n_inter") > 0)
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast(
                    "double"
                )
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return per_doc, pairs


def incremental_dedup(
    index_docs: DataFrame,
    batch_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Dedup an incoming batch AGAINST an existing corpus index — the
    incremental shape every production pipeline runs (a new crawl
    snapshot lands; drop what the corpus already has) instead of
    re-deduping the whole corpus.

    Candidates are generated by joining the BATCH band buckets against
    the INDEX band buckets — batch-internal pairs are a separate
    concern (run ``minhash_dedup_fused`` on the batch) and index-
    internal pairs are by definition already resolved. Per flagged
    batch doc, exactly one row: (id, dup_of, jaccard) naming its
    best-matching index document (max jaccard, ties to the smallest
    index id — deterministic).

    At 100 TB the index side's signatures and shingle sets are a
    PERSISTED table bucketed by (band_idx, band_hash) — only the batch
    (orders of magnitude smaller) is shingled per run, and the bucket
    join co-locates with zero index-side shuffle. Here both sides are
    computed in-plan (the gate has no cross-query storage), each
    checkpointed once, same as ``minhash_dedup_fused``.
    """
    idx = _per_doc_signature_table(
        index_docs, id_col, text_col, num_hashes, k
    ).localCheckpoint(eager=False)
    batch = _per_doc_signature_table(
        batch_docs, id_col, text_col, num_hashes, k
    ).localCheckpoint(eager=False)
    ib = lsh_buckets(
        idx, id_col=id_col, num_hashes=num_hashes, bands=bands
    ).select(F.col(id_col).alias("id_i"), "band_idx", "band_hash")
    si = idx.select(F.col(id_col).alias("id_i"), F.col("sset").alias("set_i"))
    return _best_index_match(
        batch, ib, si, id_col, num_hashes, bands, threshold
    )


def _per_doc_signature_table(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    k: int,
) -> DataFrame:
    """(id, h0..hN minhashes, sset shingle set) — one shingle pass.
    sset holds xxhash64(shingle) int64 ids (round 13, same narrower-
    types rationale and injectivity argument as minhash_dedup_fused;
    both sides of incremental_dedup encode identically, so the
    cross-join intersections are exact under the same audit)."""
    sh = exploded_shingles(docs, k, id_col, text_col)
    aggs = minhash_min_exprs(num_hashes)
    aggs.append(F.collect_set(F.xxhash64("shingle")).alias("sset"))
    return sh.groupBy(id_col).agg(*aggs)


def _best_index_match(
    batch: DataFrame,
    index_bands: DataFrame,
    index_sets: DataFrame,
    id_col: str,
    num_hashes: int,
    bands: int,
    threshold: float,
) -> DataFrame:
    """Batch per-doc table vs an index given as (id_i, band_idx,
    band_hash) buckets + (id_i, set_i) shingle sets: LSH bucket join,
    exact Jaccard, best match per batch doc (max jaccard, ties to the
    smallest index id)."""
    from pyspark.sql.window import Window

    bb = lsh_buckets(batch, id_col=id_col, num_hashes=num_hashes, bands=bands)
    cands = (
        bb.select(F.col(id_col).alias("id_b"), "band_idx", "band_hash")
        .join(index_bands, ["band_idx", "band_hash"])
        .select("id_b", "id_i")
        .dropDuplicates()
    )
    sb = batch.select(F.col(id_col).alias("id_b"), F.col("sset").alias("set_b"))
    scored = (
        cands.join(sb, "id_b")
        .join(index_sets, "id_i")
        .select(
            "id_b",
            "id_i",
            F.size(F.array_intersect("set_b", "set_i")).alias("n_inter"),
            F.size("set_b").alias("n_b"),
            F.size("set_i").alias("n_i"),
        )
        .where(F.col("n_inter") > 0)
        .select(
            "id_b",
            "id_i",
            (
                F.col("n_inter").cast("double")
                / (F.col("n_b") + F.col("n_i") - F.col("n_inter")).cast("double")
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
    w = Window.partitionBy("id_b").orderBy(F.col("jaccard").desc(), F.col("id_i"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            F.col("id_b").alias(id_col),
            F.col("id_i").alias("dup_of"),
            "jaccard",
        )
    )


def ngram_contamination(
    train_docs: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing word
    n-grams with an evaluation/benchmark set.

    The standard LLM-pretraining hygiene step (e.g. GPT-3 appendix C,
    PaLM/Llama dedup sections): any training document containing an
    n-gram that also appears in an eval set is contaminated — it can
    leak test answers into the model. Output, one row per contaminated
    training doc: (id, n_hits, n_grams, contamination) where n_hits is
    the number of DISTINCT training-doc n-grams found in the eval set,
    n_grams the doc's distinct n-gram count, contamination their ratio
    (bigint/bigint division — deterministic double).

    Scale shape: eval sets are tiny relative to a 100 TB corpus (a few
    thousand benchmark documents), so their distinct n-gram set is
    BROADCAST and the train-side probe is a map-side hash semi-join —
    no shuffle of the corpus n-gram stream; the only shuffle is the
    per-doc count aggregate (map-side partials). For eval sets too big
    to broadcast, swap the broadcast hint for a plain equi-join on the
    n-gram hash — same plan shape as the LSH band join.
    """
    eval_grams = (
        eval_docs.select(
            F.explode_outer(shingles_expr(n, text_col)).alias("gram")
        )
        .where(F.col("gram").isNotNull())  # see exploded_shingles
        .dropDuplicates()
    )
    train_grams = exploded_shingles(
        train_docs, n, id_col, text_col, alias="gram"
    ).dropDuplicates([id_col, "gram"])
    totals = train_grams.groupBy(id_col).agg(F.count("*").alias("n_grams"))
    hits = (
        train_grams.join(F.broadcast(eval_grams), "gram")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hits"))
    )
    return hits.join(totals, id_col).select(
        id_col,
        "n_hits",
        "n_grams",
        (F.col("n_hits").cast("double") / F.col("n_grams").cast("double")).alias(
            "contamination"
        ),
    )


def simhash_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bits: int = 16,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Hamming-band candidate generation + exact Hamming verification
    over SimHash signatures — the same bucketed equi-join shape as the
    MinHash LSH band join, so the same 100 TB scale properties.

    Pigeonhole guarantee: two signatures within ``max_hamming`` bits
    differ in at most ``max_hamming`` bands, so with
    ``bands > max_hamming`` they agree EXACTLY on at least one band —
    banding is a lossless candidate generator for the Hamming
    threshold (defaults: 4 bands of 4 bits cover max_hamming=3 for
    16-bit signatures). Candidates are verified with one
    ``bit_count(xor)`` per pair, so verification cost is proportional
    to candidates, never corpus².

    Output: (id_a, id_b, hamming bigint), id_a < id_b, distinct.
    """
    band_width = bits // bands
    mask = (1 << band_width) - 1
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.shiftright(F.col("simhash"), b * band_width)
                .bitwiseAND(F.lit(mask))
                .alias("band_bits"),
            )
            for b in range(bands)
        ]
    )
    banded = signatures.select(
        F.col(id_col), F.col("simhash"), F.explode(band_structs).alias("band")
    ).select(id_col, "simhash", "band.band_idx", "band.band_bits")
    a = banded.selectExpr(
        f"{id_col} as id_a", "simhash as sh_a", "band_idx", "band_bits"
    )
    b = banded.selectExpr(
        f"{id_col} as id_b", "simhash as sh_b", "band_idx", "band_bits"
    )
    return (
        a.join(b, ["band_idx", "band_bits"])
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
            .cast("long")
            .alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def simhash(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 16,
) -> DataFrame:
    """SimHash signature over the token multiset (weight 1 per
    occurrence). Bit i of a token = parity of hex digit i of md5(token);
    signature bit i is set iff the sum of (2*bit - 1) over tokens is
    positive. 16 bits keeps the oracle SQL tractable; the operator
    generalizes to 64.

    Output: (id, simhash bigint).
    """
    tok = docs.select(
        F.col(id_col), F.explode(tokens_col(text_col)).alias("token")
    ).withColumn("th", F.md5(F.col("token")))
    sums = tok.groupBy(id_col).agg(
        *[
            F.sum(
                F.conv(F.substring("th", i + 1, 1), 16, 10).cast("int") % 2 * 2
                - 1
            ).alias(f"s{i}")
            for i in range(bits)
        ]
    )
    sig = None
    for i in range(bits):
        term = F.when(F.col(f"s{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return sums.select(F.col(id_col), sig.cast("long").alias("simhash"))


# ---------------------------------------------------------------------------
# Global exact-substring dedup (round 8) — the Lee et al. 2022
# ("Deduplicating Training Data Makes Language Models Better",
# arXiv:2107.06499) class: find and excise duplicate token spans of
# length >= k ACROSS the whole corpus, exactly (zero false positives).


# Hot-gram autodetect for duplicate_spans (the CC hub-probe pattern,
# graph/ccf.py SKEW_DEGREE_THRESHOLD): a window partition cannot be
# AQE-skew-split, so when any single gram hash recurs this many times
# (real crawl boilerplate does) the candidate stage switches from the
# count-window to the groupBy+join formulation — map-side combine
# collapses the hot hash to ONE row before the shuffle, and the
# fan-out join back is AQE-splittable. The probe samples the
# positioned-gram stream at a FIXED fraction floored so a
# threshold-hot gram always expects >= 100 sampled hits (the CC
# sizing argument: Binomial tail below the threshold/2 cut at 50
# hits ~ 1e-8) — no corpus count needed, because hotness itself
# guarantees sample hits. Decision: max_seen / fraction >= threshold/2.
SPAN_SKEW_THRESHOLD = 100_000
_SPAN_PROBE_MIN_EXPECTED_HITS = 100


def duplicate_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 50,
    max_df: int | None = None,
    skew_robust: bool | None = None,
    skew_threshold: int = SPAN_SKEW_THRESHOLD,
    checkpoint_max_rows: int = 30_000_000,
) -> DataFrame:
    """Maximal duplicated token spans of length >= ``k`` across the
    corpus, with exact verification and a deterministic keeper.

    The reference formulation (Lee et al. 2022) builds a suffix array
    over the concatenated corpus — inherently sequential. The
    distributed reformulation rests on one fact: every duplicated
    substring of >= k tokens is covered by duplicated k-grams at
    every offset inside it, so

    1. enumerate positioned k-gram HASHES per document (array
       expressions, one posexplode) — gram text is never materialized
       here, so each exploded row is a fixed 24 bytes regardless of k
       (the naive gram-text explode is k * token_width per row — 50x
       worse at the Lee et al. k=50);
    2. select candidate positions whose hash occurs >= 2 times: one
       count-window over the hash by default (single pass over the
       exploded rows — measured 1.6x faster than aggregate-then-join,
       which recomputes the explode), or with ``max_df`` set, a
       map-side-combining aggregate that ALSO prunes grams appearing
       in more than ``max_df`` positions — the hot-boilerplate
       control (same contract as prune_hot_shingles): corpus-wide
       boilerplate is a dedup-CLUSTER problem, not a span-excision
       one, and pruning it bounds every downstream per-gram group by
       max_df, killing window skew by construction;
    3. join the candidates (a tiny fraction of the corpus) back to
       the DOCUMENTS to re-slice the actual gram text for the
       candidate subset only, then verify on the exact text with one
       window — occurrence count plus (doc, pos)-ordered rank, rank 1
       elected keeper — zero false positives, and the only stage that
       ever shuffles text is bounded by the duplicate volume, not the
       corpus;
    4. per document, merge surviving excision positions into maximal
       spans with the gaps-and-islands pattern (positions p_prev, p
       share a span iff p - p_prev <= k, i.e. their k-token windows
       overlap or touch) — one window partitioned by document.

    At 100 TB every stage is linear and nothing is all-pairs; no
    suffix array is materialized. For corpora where a single gram may
    recur millions of times (real crawl boilerplate), set ``max_df``
    — it is the documented scale path exactly like the LSH hot-shingle
    prune. Without ``max_df``, a sampled hot-gram PROBE (the CC
    hub-probe pattern) runs automatically: if any gram hash is
    estimated to recur >= ``skew_threshold`` times, the candidate AND
    verify stages switch to semantics-identical groupBy+join
    formulations that no hot key can stall (windows cannot be
    AQE-skew-split; map-side-combined aggregates collapse the hot key
    to one row). ``skew_robust`` pins the path explicitly and skips
    the probe (False = count-window, True = aggregate+join). The
    probe is a CONSTRUCTION-time action (it must choose the plan
    shape), so building this operator inside a larger composition
    executes the whole upstream plan before any caller action — pin
    ``skew_robust`` or set ``max_df`` where lazy construction
    matters (explain-only tooling, plan census), as
    ``queries/capstone.py`` does behind its quality-gate bound.

    ``checkpoint_max_rows`` (round 13): on the probe path the token
    and gram-hash tables are lazily localCheckpointed so the probe,
    candidate, and verify passes reuse one materialization instead of
    re-running the corpus scan + explode each — but only when the
    estimated gram count (one narrow 1%-sampled pre-pass; the bound
    is a storage budget, only its order of magnitude matters) is at
    or under this bound.
    Above it, storing corpus x k-grams rows evicts more than it saves
    (measured at the 5M-doc depth tier: +54 s from block-manager
    thrash); size the bound to a fraction of per-host storage memory
    (~24 bytes/row; the 30M default is ~720 MB). Pinned paths never
    checkpoint and never run the pre-pass (lazy-construction
    contract).

    Output: (id, span_start, span_end, n_tokens, n_grams) — 1-based
    inclusive token positions of each excisable span. Semantics are
    POSITION-SET based: a position is excisable iff some non-keeper
    duplicated gram's window covers it. For non-overlapping duplicates
    this leaves exactly the corpus-wide keeper occurrence intact; for
    SELF-OVERLAPPING (periodic) duplicates — "m m m m m" with k=3 —
    non-keeper windows overlap the keeper's tokens, so the surviving
    prefix can be shorter than k (the same degeneracy a suffix-array
    excision has on periodic strings).
    """
    if skew_threshold < 1:
        raise ValueError(
            f"duplicate_spans: skew_threshold must be >= 1, "
            f"got {skew_threshold}"
        )
    toks = f"split({text_col}, ' ')"
    # TOTAL expression + OUTER explode, both load-bearing: plain
    # posexplode lets InferFiltersFromGenerate derive size(_hashes)>0
    # and predicate pushdown re-inline the whole gram-hash transform
    # BELOW the size>=k guard (the exploded_shingles trap) — on a
    # <k-token row the unguarded sequence(1, size-k+1) descends
    # through 0 and slice(_, 0, k) throws. greatest() keeps the
    # expression total wherever an optimizer rule replays it; the
    # outer explode is inference-exempt so nothing replays it at all.
    # Rows with <k tokens still never reach kg (the where below) —
    # and the in-expression CASE makes that structural, not
    # plan-dependent: a window that would slice FEWER than k tokens
    # hashes to NULL, and NULLs are dropped by the isNotNull filter
    # below, so a truncated-gram hash can never reach output even if
    # a future refactor drops or reorders the size >= k guard
    # (round-9 advisory).
    hashes = (
        f"transform(sequence(1, greatest(size(_toks) - {k - 1}, 1)), "
        f"i -> CASE WHEN i + {k - 1} <= size(_toks) "
        f"THEN xxhash64(array_join(slice(_toks, i, {k}), ' ')) END)"
    )
    # Materialize the multi-consumed tables ONCE — but only when they
    # FIT (optimization round 13, guide §2.4/§5 with the depth-tier
    # correction): toked is read twice (gram hashing + the candidate
    # verify join) and kg twice on the probe path (probe +
    # count-window / aggregate+join-back), so lazy localCheckpoints
    # save a full corpus re-scan + re-explode per extra pass — at the
    # 500k-doc bench tier (with the redundant verify count-window
    # below also dropped) warm wall 9.3-9.6 s -> ~8 s. BUT the
    # exploded table is corpus x k-grams rows: at the 5M-doc depth
    # tier (115M grams, ~2.8 GB + the token arrays) storing it
    # evicted/thrashed the block manager and the line REGRESSED
    # 81 -> 135 s. The checkpoints are therefore gated on an ESTIMATE
    # of the kg cardinality — 100 x the gram count of a 1% Bernoulli
    # sample of the corpus (size of the split only, no explode, no
    # shuffle) — that runs ONLY on the probe path, which already pays
    # construction-time actions by contract; pinned paths (skew_robust
    # set / max_df) stay fully
    # lazy and unmaterialized — at 100 TB storing corpus-scale gram
    # state is never the right trade, the extra explode pass is.
    toked = docs.select(F.col(id_col), F.expr(toks).alias("_toks")).where(
        F.size("_toks") >= k
    )
    probing = max_df is None and skew_robust is None
    if probing:
        # 1%-sampled gram-count estimate (the bound is a storage
        # budget, not arithmetic — only its order of magnitude
        # matters, and a full pre-pass measurably costs ~1 s per
        # 500k docs)
        n_kg = 100 * (
            docs.sample(withReplacement=False, fraction=0.01, seed=42)
            .select(F.size(F.expr(toks)).alias("_n"))
            .agg(
                F.sum(
                    F.when(
                        F.col("_n") >= k, F.col("_n") - (k - 1)
                    ).otherwise(0)
                )
            )
            .collect()[0][0]
            or 0
        )
        if n_kg <= checkpoint_max_rows:
            toked = toked.localCheckpoint(eager=False)
    kg = (
        toked.select(F.col(id_col), F.expr(hashes).alias("_hashes"))
        .select(
            F.col(id_col),
            F.posexplode_outer("_hashes").alias("pos0", "h"),
        )
        .where(F.col("h").isNotNull())
        .select(F.col(id_col), (F.col("pos0") + 1).alias("pos"), "h")
    )
    if probing and n_kg <= checkpoint_max_rows:
        kg = kg.localCheckpoint(eager=False)
    if max_df is None and skew_robust is None:
        fraction = min(
            1.0, _SPAN_PROBE_MIN_EXPECTED_HITS / skew_threshold
        )
        probe = (
            kg
            if fraction >= 1.0
            else kg.sample(
                withReplacement=False, fraction=fraction, seed=42
            )
        )
        max_seen = (
            probe.groupBy("h")
            .count()
            .agg(F.max("count"))
            .collect()[0][0]
            or 0
        )
        skew_robust = max_seen / fraction >= skew_threshold / 2
    if max_df is None and not skew_robust:
        wh = Window.partitionBy("h")
        cand_pos = (
            kg.withColumn("n_h", F.count("*").over(wh))
            .where(F.col("n_h") >= 2)
            .select(id_col, "pos")
        )
    else:
        n_filter = F.col("n_h") >= 2
        if max_df is not None:
            n_filter = n_filter & (F.col("n_h") <= max_df)
        dup_h = (
            kg.groupBy("h")
            .agg(F.count("*").alias("n_h"))
            .where(n_filter)
            .select("h")
        )
        cand_pos = kg.join(dup_h, "h").select(id_col, "pos")
    cand = cand_pos.join(toked, id_col).select(
        F.col(id_col),
        "pos",
        F.expr(f"array_join(slice(_toks, pos, {k}), ' ')").alias("gram"),
    )
    if skew_robust:
        # hot grams reach verify too: the per-gram window would stall
        # on the same key, so verify via a map-side-combined aggregate
        # — keeper = min (id, pos) struct per gram, identical to the
        # window's row_number()==1 under the (id, pos) ordering
        gstats = cand.groupBy("gram").agg(
            F.count("*").alias("n_occ"),
            F.min(F.struct(F.col(id_col), F.col("pos"))).alias(
                "_keeper"
            ),
        )
        excise = (
            cand.join(gstats, "gram")
            .where(
                (F.col("n_occ") >= 2)
                & ~(
                    (F.col(id_col) == F.col(f"_keeper.{id_col}"))
                    & (F.col("pos") == F.col("_keeper.pos"))
                )
            )
            .select(id_col, "pos")
        )
    else:
        # rn > 1 alone is the full condition (round 13): a rank-2 row
        # exists iff the gram occurs >= 2 times, and rank-1 keepers
        # are excluded either way — the former count-window over the
        # same key was a second Window pass for a predicate rn
        # already implies
        wgo = Window.partitionBy("gram").orderBy(id_col, "pos")
        excise = (
            cand.withColumn("rn", F.row_number().over(wgo))
            .where(F.col("rn") > 1)
            .select(id_col, "pos")
        )
    w = Window.partitionBy(id_col).orderBy("pos")
    islands = excise.withColumn(
        "_new",
        F.when(
            F.col("pos") - F.lag("pos", 1, -(10**9)).over(w) > k, 1
        ).otherwise(0),
    ).withColumn("_island", F.sum("_new").over(w))
    return (
        islands.groupBy(id_col, "_island")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + (k - 1)).cast("long").alias("span_end"),
            F.count("*").cast("long").alias("n_grams"),
        )
        .withColumn(
            "n_tokens",
            (F.col("span_end") - F.col("span_start") + 1).cast("long"),
        )
        .select(
            F.col(id_col),
            "span_start",
            "span_end",
            "n_tokens",
            "n_grams",
        )
    )


def excise_spans(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply ``duplicate_spans`` output to the corpus: remove the
    flagged token ranges from each document's text (the Lee et al.
    2022 step after detection). For non-overlapping duplicates one
    canonical occurrence of each duplicated region survives intact;
    for self-overlapping (periodic) runs the excision is position-set
    based and the keeper window itself may lose tokens — see the
    duplicate_spans output contract.

    Spans are aggregated per document into an array of [start, end]
    pairs (inclusive 1-based token positions), LEFT-joined onto the
    corpus, and the cut is a single filter-HOF over the token array —
    keep token i iff no span contains i — so the operator adds ONE
    aggregate on the span table and zero extra passes over the corpus
    text. Documents without spans pass through byte-identical. The
    join strategy is deliberately left to AQE: the span table is
    duplicate-volume-sized, usually broadcastable but NOT bounded
    (a heavily-duplicated crawl can make it corpus-scale), so a
    forced broadcast would be a driver-OOM scale trap.

    Output: (id, clean_text, n_tokens_before, n_tokens_after,
    n_tokens_cut).
    """
    span_arr = spans.groupBy(id_col).agg(
        F.collect_list(
            F.array(F.col("span_start"), F.col("span_end"))
        ).alias("_spans")
    )
    toked = docs.select(
        F.col(id_col), F.expr(f"split({text_col}, ' ')").alias("_toks")
    )
    joined = toked.join(span_arr, id_col, "left")
    kept = (
        "filter(transform(_toks, (t, i) -> struct(t as t, i + 1 as p)), "
        "s -> _spans is null or not exists(_spans, "
        "sp -> s.p >= sp[0] and s.p <= sp[1]))"
    )
    return (
        joined.select(
            F.col(id_col),
            F.size("_toks").cast("long").alias("n_tokens_before"),
            F.expr(kept).alias("_kept"),
        )
        .select(
            F.col(id_col),
            F.expr("array_join(transform(_kept, s -> s.t), ' ')").alias(
                "clean_text"
            ),
            "n_tokens_before",
            F.size("_kept").cast("long").alias("n_tokens_after"),
        )
        .withColumn(
            "n_tokens_cut",
            (F.col("n_tokens_before") - F.col("n_tokens_after")).cast(
                "long"
            ),
        )
    )
