"""Text analysis operators: language ID, quality scoring, token
counting, document fingerprinting.

All built-in expressions — at 100 TB these run inside whole-stage
codegen on the scan output with full column pruning (only ``text`` and
the id column are read). Ratios are bigint/bigint double divisions, so
every output is deterministic and oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Function-word list for the n-gram/stopword language heuristic.
EN_STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "it")

# BPE-ish token pattern: letter runs, digit runs, or single non-space
# symbols — the standard pre-tokenizer shape.
BPE_PATTERN = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"


def _stopword_hits(text_col: str, words=EN_STOPWORDS):
    tok = F.split(F.col(text_col), " ")
    return F.size(
        F.filter(tok, lambda t: t.isin(*words))
    ).cast("long")


def text_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Token/char statistics per document."""
    tok = F.split(F.col(text_col), " ")
    return docs.select(
        F.col(id_col),
        F.length(text_col).cast("long").alias("n_chars"),
        F.size(tok).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(tok)).cast("long").alias("n_distinct_tokens"),
        (
            (F.length(text_col) - F.size(tok) + 1).cast("double")
            / F.size(tok).cast("double")
        ).alias("avg_token_len"),
    )


def repetition_metrics(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Within-document repetition fractions (the Gopher/MassiveText
    repetition filters, Rae et al. 2021 §A1.1): fraction of duplicate
    word n-grams for n=2 and n=3. Highly repetitive documents (SEO
    keyword stuffing, template spam, degenerate generations) score
    high and get filtered before training.

    dup_ngram_frac_n = 1 - distinct_ngrams / total_ngrams — bigint /
    bigint, so the double is deterministic. The n-gram arrays are
    built lazily with higher-order functions and never exploded: the
    whole operator is a narrow per-row projection inside the scan
    stage — zero shuffles at any corpus size.
    """
    from map_reduce_project_spark.operators.dedup import shingles_expr

    out = [F.col(id_col)]
    for n in (2, 3):
        grams = shingles_expr(n, text_col)
        total = F.size(grams).cast("long")
        distinct = F.size(F.array_distinct(grams)).cast("long")
        out += [
            total.alias(f"n_{n}grams"),
            (
                F.lit(1.0)
                - distinct.cast("double") / total.cast("double")
            ).alias(f"dup_{n}gram_frac"),
        ]
    return docs.select(*out)


def bpe_token_count(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Token counts: whitespace tokens + BPE-ish regex tokens."""
    return docs.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), " ")).cast("long").alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_PATTERN), 0))
        .cast("long")
        .alias("bpe_tokens"),
    )


def language_id(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Heuristic language ID: English function-word density + script
    detection (CJK codepoints). Deterministic: output is ('en' |
    'cjk' | 'other', score)."""
    tok = F.split(F.col(text_col), " ")
    hits = _stopword_hits(text_col)
    score = hits.cast("double") / F.size(tok).cast("double")
    has_cjk = F.length(
        F.regexp_replace(F.col(text_col), "[^\\u4e00-\\u9fff]", "")
    ) > 0
    return docs.select(
        F.col(id_col),
        F.when(has_cjk, "cjk")
        .when(score >= 0.05, "en")
        .otherwise("other")
        .alias("pred_lang"),
        score.alias("en_score"),
    )


def quality_score(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Document quality heuristics: length, punctuation density,
    stopword ratio, repetition (distinct/total tokens), and a composite
    keep/drop score — the C4/Gopher-style filter ladder."""
    tok = F.split(F.col(text_col), " ")
    n_tokens = F.size(tok).cast("long")
    n_chars = F.length(text_col).cast("long")
    n_punct = (
        n_chars
        - F.length(F.regexp_replace(F.col(text_col), "[^a-zA-Z0-9 ]", ""))
    ).cast("long")
    distinct_ratio = (
        F.size(F.array_distinct(tok)).cast("double") / n_tokens.cast("double")
    )
    stop_ratio = _stopword_hits(text_col).cast("double") / n_tokens.cast(
        "double"
    )
    punct_ratio = n_punct.cast("double") / n_chars.cast("double")
    quality = (
        F.when(n_tokens < 5, 0.0)
        .when(distinct_ratio < 0.1, 0.0)
        .otherwise(
            distinct_ratio * 0.5 + stop_ratio * 0.25 + (1.0 - punct_ratio) * 0.25
        )
    )
    return docs.select(
        F.col(id_col),
        n_tokens.alias("n_tokens"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        distinct_ratio.alias("distinct_ratio"),
        quality.alias("quality"),
    )


def bm25_scores(
    docs: DataFrame,
    terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 relevance of every document against a fixed term set.

    Fully declarative — the corpus statistics (N, avgdl, per-term df)
    are aggregates broadcast back into the scoring expression, never
    driver-side collects, so the plan scales to any corpus:

      idf(t)  = ln((N - df + 0.5) / (df + 0.5) + 1)        [Lucene form]
      tfnorm  = tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
      score   = sum over query terms idf * tfnorm

    Output: (id, score double rounded to 4 decimals — ln is not
    correctly-rounded IEEE, so raw doubles may differ in the last ulp
    across engines; 4 decimals is far above that noise and far below
    any ranking decision).
    """
    tok = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("tok")
    )
    dl = tok.groupBy(id_col).agg(F.count("*").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )

    hits = tok.where(F.col("tok").isin(terms))
    tf = hits.groupBy(id_col, "tok").agg(F.count("*").alias("tf"))
    df_t = hits.groupBy("tok").agg(
        F.count_distinct(F.col(id_col)).alias("df")
    )

    scored = (
        tf.join(F.broadcast(df_t), "tok")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                + 1.0
            ),
        )
        .withColumn(
            "tfnorm",
            (F.col("tf") * (k1 + 1))
            / (
                F.col("tf")
                + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(F.round(F.sum(F.col("idf") * F.col("tfnorm")), 4).alias("score"))
    )


def chunk_documents(
    docs: DataFrame,
    size: int = 64,
    stride: int = 48,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Fixed-size overlapping token windows per document — the
    context-window chunking stage of an embedding/pretraining
    pipeline. Chunk i covers tokens [i*stride, i*stride + size); the
    chunk count is 1 + max(0, ceil((n_tokens - size)/stride)) so every
    token lands in at least one chunk.

    Pure generator expressions (posexplode over transform/sequence —
    JVM-side, codegen): the fan-out never leaves the row's task, so
    the op is embarrassingly parallel at any corpus size. The Python
    UDTF twin lives in functions/udtfs.py (ChunkDocument); the
    ``text_chunks`` / ``text_chunks_udtf`` queries pin both to one
    oracle.

    Output: (id, chunk_idx, chunk, n_tokens).
    """
    # let-bind the token array (single-element transform) so single
    # evaluation per row is guaranteed rather than CSE-dependent —
    # see shingles_expr for the nested-lambda re-evaluation trap
    chunks = F.expr(
        f"transform(array(split({text_col}, ' ')), w ->"
        f" transform(sequence(0, greatest((size(w) - {size}"
        f" + {stride - 1}) div {stride}, 0)),"
        f" i -> concat_ws(' ', slice(w, i * {stride} + 1, {size}))))[0]"
    )
    return docs.select(
        F.col(id_col), F.posexplode_outer(chunks).alias("chunk_idx", "chunk")
    ).where(F.col("chunk").isNotNull()).select(
        id_col,
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        "chunk",
        F.size(F.split(F.col("chunk"), " ")).cast("long").alias("n_tokens"),
    )


def global_rank_ids(
    df: DataFrame, order_cols: list, id_name: str = "id"
) -> DataFrame:
    """Contiguous 0-based ids in a total order — WITHOUT the
    single-partition global window.

    ``row_number() OVER (ORDER BY ...)`` funnels every row through one
    reducer; at corpus scale that is THE anti-pattern. The scalable
    shape is the two-pass zipWithIndex: range-partition by the order
    columns, rank within each partition (parallel windows), collect
    only the per-partition COUNTS to the driver (one tiny row per
    partition), and add the exclusive-prefix-sum offset back as a
    broadcast map. Ids depend only on the total order (the order
    columns must be a unique key), not on where the range boundaries
    land, so the result is deterministic and engine-exact.

    Output: input columns + ``id_name``.
    """
    from pyspark.sql.window import Window

    ordered = df.repartitionByRange(*order_cols).sortWithinPartitions(
        *order_cols
    )
    # pin the materialized partitions: range boundaries come from a
    # per-plan sample, so the counts job and the id job MUST see the
    # same physical partitioning, not two re-executions of it
    with_pid = ordered.withColumn(
        "_pid", F.spark_partition_id()
    ).localCheckpoint(eager=True)
    # one tiny row per partition: the only driver-side data
    counts = sorted(
        (r._pid, r.n)
        for r in with_pid.groupBy("_pid").agg(F.count("*").alias("n")).collect()
    )
    offsets, acc = {}, 0
    for pid, n in counts:
        offsets[pid] = acc
        acc += n
    offset_expr = F.element_at(
        F.create_map(
            *[F.lit(x) for kv in offsets.items() for x in kv]
        ),
        F.col("_pid"),
    )
    local = F.row_number().over(
        Window.partitionBy("_pid").orderBy(*order_cols)
    )
    return (
        with_pid.withColumn(
            id_name, (offset_expr + local - 1).cast("long")
        )
        .drop("_pid")
    )


def pack_sequences(
    docs: DataFrame,
    context_len: int = 2048,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sequence-packing manifest: concatenate the corpus's token
    streams in ``id_col`` order and slice into fixed ``context_len``
    windows (the GPT-style "concatenate and chunk" batching step).
    Each document gets its global token start offset and which
    context window (bin) it starts in.

    The global exclusive prefix sum over token counts is computed with
    the same two-pass shape as ``global_rank_ids`` — range-partition
    by id, per-partition running sums in parallel windows, and only
    one tiny (partition, token_sum) row per partition reaches the
    driver to build the broadcast offset map. No single-reducer global
    window at any corpus size.

    Output: (id, n_tokens, start_offset, bin_id, offset_in_bin) —
    all bigint arithmetic, so engine-exact.
    """
    from pyspark.sql.window import Window

    toks = docs.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), " ")).cast("long").alias("n_tokens"),
    )
    with_pid = (
        toks.repartitionByRange(id_col)
        .sortWithinPartitions(id_col)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    counts = sorted(
        (r._pid, r.s)
        for r in with_pid.groupBy("_pid")
        .agg(F.sum("n_tokens").alias("s"))
        .collect()
    )
    offsets, acc = {}, 0
    for pid, s in counts:
        offsets[pid] = acc
        acc += s
    offset_expr = F.element_at(
        F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv]),
        F.col("_pid"),
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local_excl = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return (
        with_pid.withColumn(
            "start_offset", (offset_expr + local_excl).cast("long")
        )
        .drop("_pid")
        .select(
            id_col,
            "n_tokens",
            "start_offset",
            # integer div, not /: double division loses exactness on
            # large int64 offsets
            F.expr(f"start_offset div {context_len}").alias("bin_id"),
            (F.col("start_offset") % context_len).alias("offset_in_bin"),
        )
    )


def winnow_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Winnowed local fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): every window of ``w``
    consecutive k-token rolling hashes contributes its minimum, and
    the distinct selected values are the document's fingerprint set.
    Winnowing's guarantee: two documents sharing a token run of at
    least w+k-1 tokens MUST share a fingerprint — the substring-level
    dedup signal that shingle-set Jaccard (whole-doc similarity)
    dilutes away when a long quote sits inside an otherwise-unrelated
    document.

    Classic winnowing records positions (rightmost-min) for match
    LOCALIZATION; candidate pairing only needs the selected VALUES,
    so the per-window plain min (deterministic under ties) suffices.

    Each layer — codes, k-gram hashes, window minima — is a SEPARATE
    projection, not one nested expression: Spark inlines a nested
    higher-order function into every consumer lambda and re-evaluates
    it per element, so the one-expression formulation recomputed the
    md5 code array inside every window of every hash — measured 53x
    slower at sf0.01 (27.9 s vs 0.53 s) and the wall the round-5
    sf0.1 sweep hit. Layered projections evaluate each array once per
    row and still fuse into the single scan stage (zero explodes,
    zero shuffles).
    Output: (id, fps array<bigint>).
    """
    codes = (
        f"transform(split({text_col}, ' '), "
        f"t -> cast(conv(substring(md5(t), 1, 6), 16, 10) as bigint))"
    )
    fold = (
        f"aggregate(slice(_codes, i, {k}), cast(0 as bigint), "
        f"(acc, c) -> (acc * {ROLL_B} + c) % {ROLL_M})"
    )
    hashes = (
        f"transform(sequence(1, greatest(size(_codes) - {k - 1}, 1)), "
        f"i -> {fold})"
    )
    winnowed = (
        f"array_distinct(transform("
        f"sequence(1, greatest(size(_hashes) - {w - 1}, 1)), "
        f"j -> array_min(slice(_hashes, j, {w}))))"
    )
    return (
        docs.select(F.col(id_col), F.expr(codes).alias("_codes"))
        .select(F.col(id_col), F.expr(hashes).alias("_hashes"))
        .select(F.col(id_col), F.expr(winnowed).alias("fps"))
    )


def substring_overlap_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
    max_df: int | None = None,
) -> DataFrame:
    """Candidate pairs sharing any winnowed fingerprint — substring-
    level near-dup detection (long shared quotes, boilerplate blocks,
    wrapped copies). Same bucketed equi-join shape as the LSH band
    join: explode the (small) fingerprint sets, self-join on the
    fingerprint value, never all-pairs. ``max_df`` prunes fingerprints
    appearing in more than that many documents (corpus-wide
    boilerplate) with a broadcast anti-join before pairing — the
    hot-bucket control, same as the hot-shingle prune.
    Output: (id_a, id_b, n_shared) with id_a < id_b.
    """
    # explode_OUTER + null guard: plain explode lets the optimizer
    # infer size(fps) > 0 and push the fully-inlined winnow pipeline
    # into a filter at the narrow scan stage (see
    # operators.dedup.exploded_shingles for the full story)
    fps = (
        winnow_fingerprints(docs, id_col, text_col, k, w)
        .select(F.col(id_col), F.explode_outer("fps").alias("fp"))
        .where(F.col("fp").isNotNull())
    )
    if max_df is not None:
        hot = (
            fps.groupBy("fp")
            .agg(F.count("*").alias("df"))
            .where(F.col("df") > max_df)
            .select("fp")
        )
        fps = fps.join(F.broadcast(hot), "fp", "left_anti")
    a = fps.select(F.col(id_col).alias("id_a"), "fp")
    b = fps.select(F.col(id_col).alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
    )


def build_vocab(
    docs: DataFrame,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus token vocabulary with contiguous ids by descending
    frequency (ties broken lexicographically) — the tokenizer-training
    precursor. One explode + one count aggregate + the two-pass
    ``global_rank_ids`` assignment; no global single-reducer stage.

    Output: (token, n, token_id).
    """
    counts = (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") >= min_count)
    )
    return global_rank_ids(
        counts, [F.col("n").desc(), F.col("token").asc()], id_name="token_id"
    )


# PII patterns restricted to the regex subset Java (Spark) and RE2
# (DuckDB) evaluate identically: no backrefs, no lookaround.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\d{3}-\d{3}-\d{4}"
PII_IP_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def scrub_pii(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """PII redaction — the compliance pass every training-data
    pipeline runs before anything else touches the text: emails,
    North-American phone numbers, and dotted-quad IPs are replaced
    with typed placeholder tokens, and per-document match counts are
    emitted for audit aggregation.

    Pure `regexp_extract_all` / `regexp_replace` expressions — JVM
    whole-stage codegen, a narrow per-row projection with no shuffle:
    at 100 TB this runs at scan speed and the only cost is the regex
    engine. The three patterns are disjoint (emails contain '@',
    phones dashes, IPs dots between digit runs), so count-then-replace
    order cannot double-count.

    Output: (id, redacted, n_emails, n_phones, n_ips).
    """

    def n(pat: str) -> F.Column:
        return F.size(
            F.regexp_extract_all(F.col(text_col), F.lit(pat), F.lit(0))
        ).cast("long")

    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col(text_col), PII_EMAIL_RE, "<EMAIL>"),
            PII_PHONE_RE,
            "<PHONE>",
        ),
        PII_IP_RE,
        "<IP>",
    )
    return docs.select(
        F.col(id_col),
        redacted.alias("redacted"),
        n(PII_EMAIL_RE).alias("n_emails"),
        n(PII_PHONE_RE).alias("n_phones"),
        n(PII_IP_RE).alias("n_ips"),
    )


def unigram_familiarity(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Corpus-frequency familiarity score — the integer-exact stand-in
    for unigram-LM perplexity filtering: each document is scored by
    the corpus-wide occurrence counts of its own tokens. Documents of
    rare/garbled tokens score low (high 'perplexity'), boilerplate of
    ubiquitous tokens scores high; both tails are the usual quality-
    filter cut candidates. Sums of counts stay in int64 (exact in any
    engine), and ``mean_freq`` is a single IEEE division of those
    integers — unlike sum-of-float-logs, this is bit-reproducible.

    Plan: one explode, a token-keyed count aggregate (partial map-side
    combine), a join back on token, and a per-doc aggregate. The
    token->freq table is Zipf-small relative to the corpus — at 100 TB
    broadcast it (AQE picks this up from size stats) so the join back
    is shuffle-free; the per-doc agg then reuses the explode's
    partitioning.

    Output: (id, n_tokens, sum_freq, min_freq, mean_freq).
    """
    tok = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("token")
    )
    freqs = tok.groupBy("token").agg(F.count("*").alias("freq"))
    return (
        tok.join(freqs, "token")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("freq").alias("sum_freq"),
            F.min("freq").alias("min_freq"),
        )
        .select(
            id_col,
            "n_tokens",
            "sum_freq",
            "min_freq",
            (F.col("sum_freq").cast("double") / F.col("n_tokens").cast("double")).alias(
                "mean_freq"
            ),
        )
    )


def fingerprint(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Document fingerprints: raw md5, normalized (sorted distinct
    tokens) md5 — the bag-of-words fingerprint that catches
    shuffled/reordered duplicates exact dedup misses."""
    tok = F.split(F.col(text_col), " ")
    return docs.select(
        F.col(id_col),
        F.md5(F.col(text_col)).alias("raw_fp"),
        F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(tok)))).alias(
            "bow_fp"
        ),
    )


# Rabin-Karp-style rolling hash (token-level): base/modulus chosen so
# every intermediate fits int64 (acc < 2^31, *131 + 24-bit code < 2^39)
# and the fold is reproducible in any engine with integer semantics.
ROLL_B = 131
ROLL_M = (1 << 31) - 1


def rolling_fingerprint(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 3
) -> DataFrame:
    """Document fingerprints via polynomial rolling hashes.

    - ``doc_fp``: the rolling hash folded over every token's 24-bit
      md5 code — an order-sensitive whole-document fingerprint.
    - ``win_fp``: winnowing-lite — the minimum rolling hash over all
      k-token windows; robust to appends/truncation (two documents
      sharing their minimal window collide), the classic
      local-fingerprint selection for near-dup detection at scale.
    """
    codes = (
        f"transform(split({text_col}, ' '), "
        f"t -> cast(conv(substring(md5(t), 1, 6), 16, 10) as bigint))"
    )
    fold = (
        f"aggregate({{arr}}, cast(0 as bigint), "
        f"(acc, c) -> (acc * {ROLL_B} + c) % {ROLL_M})"
    )
    doc_fp = fold.format(arr=codes)
    win_fp = (
        f"array_min(transform("
        f"sequence(1, greatest(size({codes}) - {k - 1}, 1)), "
        f"i -> {fold.format(arr=f'slice({codes}, i, {k})')}))"
    )
    return docs.select(
        F.col(id_col),
        F.expr(doc_fp).alias("doc_fp"),
        F.expr(win_fp).alias("win_fp"),
    )


def bow_cosine_pairs(
    docs: DataFrame,
    max_df_frac: float = 0.2,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sparse bag-of-words cosine similarity pairs — the token-space
    near-dup detector that sits between exact-hash dedup and dense
    embedding ANN: weighted by term counts (unlike Jaccard's set
    semantics), no embedding model required (unlike dense cosine).

    Candidates come from an inverted-list self-join on shared tokens,
    with document-frequency pruning FIRST: tokens appearing in more
    than ``max_df_frac`` of the corpus are dropped before the join —
    the same zipfian-head trick as hot-shingle pruning; it caps every
    token's posting list (the only quadratic-risk stage) and removes
    stopword-driven false candidates in the same stroke. Norms are
    computed over the pruned token space, so the cosine is exact for
    the model it claims (integer tf dot products, one IEEE double
    division at the end — hash-stable on any engine).

    Scale shape: explode -> partial+final tf count, one DF aggregate,
    broadcast corpus-size scalar, posting-list equi-join bounded per
    token by max_df, partial+final integer dot aggregate. Output is
    (id_a, id_b, dot, cosine) for pairs at or above ``threshold``.
    """
    tok = (
        docs.select(
            F.col(id_col),
            F.explode(F.split(F.col(text_col), " ")).alias("tok"),
        )
        .groupBy(id_col, "tok")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    total = docs.agg(F.count("*").alias("n_docs"))
    df = tok.groupBy("tok").agg(F.count("*").alias("df"))
    # the pruned posting list feeds THREE consumers (norms + both join
    # sides); checkpoint it lazily so the tokenize/DF-prune subtree
    # runs once instead of being re-derived per consumer (same
    # materialize-the-per-doc-table discipline as the fused MinHash
    # pipeline — a real pipeline would persist this table)
    kept = (
        tok.join(df, "tok")
        .crossJoin(F.broadcast(total))
        .where(F.col("df") <= F.col("n_docs") * max_df_frac)
        .select(id_col, "tok", "tf")
    ).localCheckpoint(eager=False)
    n2 = kept.groupBy(id_col).agg(
        F.sum(F.col("tf") * F.col("tf")).alias("n2")
    )
    a = kept.selectExpr(f"{id_col} as id_a", "tok", "tf as tf_a")
    b = kept.selectExpr(f"{id_col} as id_b", "tok", "tf as tf_b")
    dots = (
        a.join(b, "tok")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("tf_a") * F.col("tf_b")).alias("dot"))
    )
    na = n2.selectExpr(f"{id_col} as id_a", "n2 as na")
    nb = n2.selectExpr(f"{id_col} as id_b", "n2 as nb")
    cos = (
        F.col("dot").cast("double")
        / (F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double")))
    ).alias("cosine")
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .select("id_a", "id_b", "dot", cos)
        .where(F.col("cosine") >= threshold)
    )


# Hashed linear classifier: pinned weight hash for engine-portable
# inference (Knuth multiplicative constant).
QC_MULT = 2654435761
QC_RANGE = 1000


def hashed_linear_score(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """fastText-style quality-classifier INFERENCE: bag-of-hashed-token
    features dotted with a weight vector, the shape used to score every
    pretraining document against a small labeled quality set.

    Features use the hashing trick (token -> md5 -> first two hex
    digits -> bucket 0..255); the weight of a bucket is pinned by an
    integer hash of the bucket id so the whole pass is exact int64 and
    engine-portable. In production the weights come from a
    spark.ml LogisticRegression fit on the same hashed features — the
    inference plan (this function) is identical either way.

    Output: (id, score bigint, quality_label boolean). Plan: explode +
    map-side weight lookup (pure arithmetic, no join, no UDF) + one
    partial+final sum per doc — a single shuffle on the doc id.
    """
    from map_reduce_project_spark.operators.dedup import tokens_col

    tok = docs.select(
        F.col(id_col), F.explode(tokens_col(text_col)).alias("token")
    )
    bucket = F.conv(F.substring(F.md5("token"), 1, 2), 16, 10).cast("long")
    weight = (bucket * QC_MULT) % QC_RANGE - 500
    return (
        tok.select(F.col(id_col), weight.alias("w"))
        .groupBy(id_col)
        .agg(F.sum("w").alias("score"))
        .select(
            F.col(id_col),
            F.col("score").cast("long").alias("score"),
            (F.col("score") > 0).alias("quality_label"),
        )
    )


GOPHER_MUST_HAVE = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_doc_metrics(text_col: str = "text") -> dict:
    """The five Gopher document-rule metrics as raw Column
    expressions — shared by ``gopher_rules`` (full per-rule verdict
    frame) and callers that want to FILTER inline on a materialized
    corpus without a verdict-frame semi-join (queries/capstone.py:
    filtering directly on the checkpointed corpus removes a full
    1M x 1M shuffle from the funnel's quality stage)."""
    tok = F.split(F.col(text_col), " ")
    n = F.size(tok).cast("long")
    # single-space separated: total word length = chars - (n - 1)
    total_len = (F.length(text_col) - n + 1).cast("long")
    n_symbols = (
        F.size(F.split(F.col(text_col), "#", -1))
        - 1
        + F.size(F.split(F.col(text_col), r"\.\.\.", -1))
        - 1
    ).cast("long")
    alpha_words = F.expr(
        f"size(filter(split({text_col}, ' '), w -> w rlike '[a-zA-Z]'))"
    ).cast("long")
    padded = F.concat(F.lit(" "), F.col(text_col), F.lit(" "))
    must_have = sum(
        F.when(padded.contains(f" {w} "), 1).otherwise(0)
        for w in GOPHER_MUST_HAVE
    ).cast("long")
    return {
        "n_words": n,
        "total_word_len": total_len,
        "n_symbols": n_symbols,
        "alpha_words": alpha_words,
        "must_have_stopwords": must_have,
    }


def gopher_rules(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The Gopher quality-filter rules (Rae et al. 2021, Appendix A1)
    as per-rule boolean columns plus the conjunction — the
    reproducible document-filter ladder MassiveText used, here with
    every threshold compared in EXACT integer arithmetic
    (cross-multiplication instead of ratios) so the verdicts are
    hash-identical on any engine:

    - word count in [50, 100_000]
    - mean word length in [3, 10]   (3n <= total_len <= 10n)
    - symbol-to-word ratio (# or ...) <= 0.1   (10 * symbols <= n)
    - >= 80% of words contain an alphabetic char (5*alpha_words >= 4n)
    - >= 2 distinct must-have stopwords present

    Line-based rules (bullet/ellipsis line starts, duplicate-line
    fractions) live in ``gopher_line_rules`` below: this corpus is
    single-line by construction, but WARC/WET ingestion
    (``sources/warc.py``) delivers real multi-line documents.
    """
    m = gopher_doc_metrics(text_col)
    n = m["n_words"]
    total_len = m["total_word_len"]
    n_symbols = m["n_symbols"]
    alpha_words = m["alpha_words"]
    must_have = m["must_have_stopwords"]
    r_wc = (n >= 50) & (n <= 100_000)
    r_mwl = (3 * n <= total_len) & (total_len <= 10 * n)
    r_sym = 10 * n_symbols <= n
    r_alpha = 5 * alpha_words >= 4 * n
    r_stop = must_have >= 2
    return docs.select(
        F.col(id_col),
        n.alias("n_words"),
        total_len.alias("total_word_len"),
        n_symbols.alias("n_symbols"),
        alpha_words.alias("alpha_words"),
        must_have.alias("must_have_stopwords"),
        r_wc.alias("pass_word_count"),
        r_mwl.alias("pass_mean_word_len"),
        r_sym.alias("pass_symbol_ratio"),
        r_alpha.alias("pass_alpha_words"),
        r_stop.alias("pass_stopwords"),
        (r_wc & r_mwl & r_sym & r_alpha & r_stop).alias("gopher_pass"),
    )


def gopher_line_rules(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The LINE-BASED Gopher repetition rules (Rae et al. 2021,
    Appendix A1) — the half of the filter ladder ``gopher_rules``
    omits for single-line corpora; WARC/WET ingestion
    (``sources/warc.py``) introduces real multi-line documents. Every
    threshold is an exact-integer cross-multiplication:

    - lines starting with a bullet ("- ", "* ", or U+2022) <= 90%
    - lines ending with an ellipsis ("...") <= 30%
    - duplicate-line fraction <= 30%, where duplicates are counted as
      SURPLUS copies (n_lines - n_distinct_lines — each repeated line
      counts every occurrence beyond its first; the integer-exact
      variant of the fraction the published filter thresholds)
    - duplicate-line CHARACTER fraction <= 20% (surplus copies' chars
      over all line chars)

    Paragraph-level twins are the same expressions over a '\\n\\n'
    split and are intentionally not duplicated here.

    Lines are the non-empty segments of a '\\n' split. All per-row
    array expressions (split/filter/array_distinct + short aggregate
    folds over ~tens of lines) — zero shuffles, zero explodes; runs
    inside codegen on the scan at any scale. The fold layers follow
    the nested-HOF discipline (each array built once per row as its
    own projection).
    """
    # '\r?\n', not '\n': WARC/WET payloads arrive byte-verbatim and
    # real crawls mix line conventions — splitting on bare LF would
    # leave a trailing CR on every line, silently defeating the
    # '...'-suffix rule and inflating every char count by one per line
    lines_e = (
        f"filter(split({text_col}, '\\r?\\n'), l -> length(l) > 0)"
    )
    step1 = docs.select(
        F.col(id_col), F.expr(lines_e).alias("_lines")
    ).select(
        F.col(id_col),
        F.col("_lines"),
        F.expr("array_distinct(_lines)").alias("_dlines"),
    )
    n_lines = F.size("_lines").cast("long")
    n_distinct = F.size("_dlines").cast("long")
    n_bullet = F.expr(
        "size(filter(_lines, l -> "
        "l like '- %' OR l like '* %' OR l like '•%'))"
    ).cast("long")
    n_ellipsis = F.expr(
        "size(filter(_lines, l -> l like '%...'))"
    ).cast("long")
    chars = F.expr(
        "aggregate(_lines, cast(0 as bigint), "
        "(acc, l) -> acc + length(l))"
    ).cast("long")
    dchars = F.expr(
        "aggregate(_dlines, cast(0 as bigint), "
        "(acc, l) -> acc + length(l))"
    ).cast("long")
    step2 = step1.select(
        F.col(id_col),
        n_lines.alias("n_lines"),
        n_bullet.alias("n_bullet_lines"),
        n_ellipsis.alias("n_ellipsis_lines"),
        (n_lines - n_distinct).alias("n_dup_lines"),
        chars.alias("line_chars"),
        (chars - dchars).alias("dup_line_chars"),
    )
    nl = F.col("n_lines")
    r_bullet = 10 * F.col("n_bullet_lines") <= 9 * nl
    r_ellipsis = 10 * F.col("n_ellipsis_lines") <= 3 * nl
    r_dup = 10 * F.col("n_dup_lines") <= 3 * nl
    r_dupchar = 5 * F.col("dup_line_chars") <= F.col("line_chars")
    return step2.select(
        "*",
        r_bullet.alias("pass_bullet_lines"),
        r_ellipsis.alias("pass_ellipsis_lines"),
        r_dup.alias("pass_dup_lines"),
        r_dupchar.alias("pass_dup_line_chars"),
        (r_bullet & r_ellipsis & r_dup & r_dupchar).alias(
            "gopher_line_pass"
        ),
    )


def _bpe_splice(
    tok: DataFrame, pairs: DataFrame, left: str, right: str, w_doc
) -> DataFrame:
    """Apply one merge GREEDY-LEFTMOST to a (doc_id, pos, tok) token
    table, finding matches in ``pairs`` (its rows with ``nxt``, the
    next token): overlapping matches form runs ("a a a" matches at two
    positions), and the gaps-and-islands trick (pos - row_number
    grouping, keep odd ranks within each run) selects precisely the
    non-overlapping leftmost set with no sequential scan; then splice
    (drop consumed positions, concat the pair, re-densify pos with a
    row_number). Returns (doc_id, pos, tok)."""
    from pyspark.sql.window import Window

    matches = (
        pairs.where((F.col("tok") == left) & (F.col("nxt") == right))
        .withColumn("grp", F.col("pos") - F.row_number().over(w_doc))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("doc_id", "grp").orderBy("pos")
            ),
        )
        .where(F.col("rn") % 2 == 1)
        .select("doc_id", F.col("pos").alias("mpos"))
    )
    return (
        tok.join(
            matches.selectExpr("doc_id", "mpos as pos", "1 as _merge"),
            ["doc_id", "pos"],
            "left",
        )
        .join(
            matches.selectExpr("doc_id", "mpos + 1 as pos", "1 as _drop"),
            ["doc_id", "pos"],
            "left",
        )
        .where(F.col("_drop").isNull())
        .withColumn(
            "tok",
            F.when(
                F.col("_merge") == 1, F.concat(F.col("tok"), F.lit(right))
            ).otherwise(F.col("tok")),
        )
        .withColumn("pos", F.row_number().over(w_doc) - 1)
        .select("doc_id", "pos", "tok")
    )


def bpe_train(
    docs: DataFrame,
    n_merges: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Distributed BPE merge training (Sennrich et al. 2016) — the
    tokenizer-training loop as DataFrame algebra, exact and
    deterministic end to end:

    per round: (1) count adjacent token pairs with one lead-window
    pass + partial/final agg; (2) pick the most frequent pair
    (deterministic tie-break: count desc, then left/right asc);
    (3) apply it GREEDY-LEFTMOST exactly like the reference BPE
    algorithm and splice it in (``_bpe_splice``).

    Everything is integer counts, string concat, and window
    functions, so a DuckDB oracle replays the identical rounds
    (text_bpe_merges). Scale shape: the pair count is one shuffle on
    (left, right); the argmax is a 1-row broadcast; application is
    per-doc windows — hash-partitioned on doc_id, never global.

    Returns one row per learned merge:
    (merge_rank, lhs, rhs, merged, pair_count).
    """
    from pyspark.sql.window import Window

    from map_reduce_project_spark.graph.checkpointing import (
        CheckpointCycler,
        release_unread,
    )

    spark = docs.sparkSession
    tok = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "tok"),
    )

    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    cycler = CheckpointCycler(spark)
    merges = []
    for rank in range(1, n_merges + 1):
        pairs = tok.withColumn("nxt", F.lead("tok").over(w_doc)).where(
            F.col("nxt").isNotNull()
        )
        best_row = (
            pairs.groupBy("tok", "nxt")
            .agg(F.count("*").alias("c"))
            .orderBy(F.col("c").desc(), "tok", "nxt")
            .limit(1)
            .collect()
        )
        if not best_row:
            break
        left, right, cnt = best_row[0]
        merges.append((rank, left, right, left + right, cnt))

        tok = _bpe_splice(tok, pairs, left, right, w_doc).localCheckpoint(
            eager=True
        )
        # round r-1's token table is dead once round r's is
        # materialized (O9 discipline, ownership-scoped release)
        cycler.cycle(tok)

    out = spark.createDataFrame(
        merges,
        "merge_rank long, lhs string, rhs string, merged string, "
        "pair_count long",
    )
    if merges:  # the last round's token table: read by nothing now
        release_unread([tok], out)
    return out


def bpe_apply(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply learned BPE merges in rank order (the encode side of
    ``bpe_train`` — same greedy-leftmost splice per merge, driven by a
    BROADCAST merge list instead of per-round argmax jobs). Returns
    (doc_id, n_tokens_before, n_tokens_after): the compression the
    learned vocabulary buys on this corpus — the number every
    tokenizer-training run reports."""
    from pyspark.sql.window import Window

    from map_reduce_project_spark.graph.checkpointing import fixed_point

    tok = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "tok"),
    )
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    before = tok.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_tokens_before")
    )
    ranked = iter(merges)

    def _merge(tok: DataFrame) -> DataFrame:
        """Splice the next merge in rank order: fixed_point calls this
        exactly max_steps = len(merges) times, in order, so call i
        splices merges[i]."""
        left, right = next(ranked)
        pairs = tok.withColumn("nxt", F.lead("tok").over(w_doc))
        return _bpe_splice(tok, pairs, left, right, w_doc)

    tok = fixed_point(tok, _merge, max_steps=len(merges)).state
    after = tok.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_tokens_after")
    )
    return before.join(after, "doc_id")


# ---------------------------------------------------------------------------
# HTML / markup extraction (round 8) — crawl-pipeline stage zero.

# Closing tags that end a text block; splitting on them yields the
# block segmentation boilerplate pruning scores (non-capturing group:
# Java's split drops captures, DuckDB's string_split_regex would not).
_HTML_BLOCK_SPLIT = "(?i)</(?:p|div|li|h[1-6]|td|tr|section|article)>"
# Tag name anchored (<a> or <a ...> only): the naive <a[^>]*> form
# also matches <article>/<abbr>/<address>/<audio>, inflating anchor
# length and over-dropping content blocks on real HTML. The SQL-text
# form below carries \\s so Spark's string-literal unescaping yields
# the regex \s.
_HTML_ANCHOR_RE = "(?is)<a(?:\\\\s[^>]*)?>(.*?)</a>"


def _html_norm_expr(inner: str) -> str:
    """SQL-expr template: strip tags, single-pass entity decode
    (named entities first, ``&amp;`` LAST so ``&amp;lt;`` decodes to
    the literal text ``&lt;`` exactly like a real HTML parser), then
    whitespace normalization. Shared by block text and anchor text so
    link-density compares like with like."""
    stripped = f"regexp_replace({inner}, '<[^>]*>', ' ')"
    decoded = (
        f"replace(replace(replace(replace(replace(replace("
        f"{stripped}, '&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), "
        f"'&#39;', '\\''), '&nbsp;', ' '), '&amp;', '&')"
    )
    return f"trim(regexp_replace({decoded}, '\\\\s+', ' '))"


def html_extract(
    docs: DataFrame,
    id_col: str = "doc_id",
    html_col: str = "html",
    min_block_chars: int = 10,
    max_link_density_pct: int = 50,
) -> DataFrame:
    """Main-content extraction from raw HTML — the stage-zero operator
    of every crawl-to-training-data pipeline (trafilatura/jusText
    family, re-expressed as codegen expressions):

    1. remove ``<script>``/``<style>`` elements and HTML comments;
    2. segment into text blocks at closing block-level tags;
    3. per block, strip tags, decode entities, normalize whitespace,
       and measure LINK DENSITY (total normalized anchor text length
       over block text length — the jusText boilerplate signal);
    4. drop empty blocks silently, short blocks
       (< ``min_block_chars``), and link-dense blocks
       (anchor_len * 100 > text_len * ``max_link_density_pct`` —
       integer cross-multiplication, no float thresholds);
    5. reassemble surviving blocks in document order.

    The whole pipeline is per-document array expressions (transform/
    filter over the block list) — ZERO shuffles and zero explodes; at
    100 TB it runs entirely inside whole-stage codegen on the scan,
    reading only (id, html). Layered projections keep each array
    evaluated once per row (the nested-HOF re-evaluation trap
    winnow_fingerprints documents).

    Output: (id, extracted_text, n_kept, n_drop_short, n_drop_link,
    text_len, n_words).
    """
    cleaned = (
        f"regexp_replace(regexp_replace(regexp_replace({html_col}, "
        f"'(?is)<script[^>]*>.*?</script>', ' '), "
        f"'(?is)<style[^>]*>.*?</style>', ' '), "
        f"'(?s)<!--.*?-->', ' ')"
    )
    blocks = f"split({cleaned}, '{_HTML_BLOCK_SPLIT}')"
    btexts = f"transform(_blocks, b -> {_html_norm_expr('b')})"
    anchor_norm = _html_norm_expr("a")
    alens = (
        f"transform(_blocks, b -> aggregate("
        f"regexp_extract_all(b, '{_HTML_ANCHOR_RE}', 1), "
        f"cast(0 as bigint), "
        f"(acc, a) -> acc + length({anchor_norm})))"
    )
    keep = (
        f"filter(sequence(1, size(_btexts)), i -> "
        f"length(_btexts[i - 1]) >= {min_block_chars} AND "
        f"_alens[i - 1] * 100 <= length(_btexts[i - 1]) * "
        f"{max_link_density_pct})"
    )
    short = (
        f"size(filter(_btexts, t -> "
        f"length(t) > 0 AND length(t) < {min_block_chars}))"
    )
    link = (
        f"size(filter(sequence(1, size(_btexts)), i -> "
        f"length(_btexts[i - 1]) >= {min_block_chars} AND "
        f"_alens[i - 1] * 100 > length(_btexts[i - 1]) * "
        f"{max_link_density_pct}))"
    )
    joined = (
        f"array_join(transform(_keep, i -> _btexts[i - 1]), ' ')"
    )
    return (
        docs.select(F.col(id_col), F.expr(blocks).alias("_blocks"))
        .select(
            F.col(id_col),
            F.expr(btexts).alias("_btexts"),
            F.expr(alens).alias("_alens"),
        )
        .select(
            F.col(id_col),
            F.col("_btexts"),
            F.expr(keep).alias("_keep"),
            F.expr(short).cast("long").alias("n_drop_short"),
            F.expr(link).cast("long").alias("n_drop_link"),
        )
        .select(
            F.col(id_col),
            F.expr(joined).alias("extracted_text"),
            F.size("_keep").cast("long").alias("n_kept"),
            "n_drop_short",
            "n_drop_link",
        )
        .withColumn(
            "text_len", F.length("extracted_text").cast("long")
        )
        .withColumn(
            "n_words",
            F.size(F.split("extracted_text", " ")).cast("long"),
        )
    )


def unigram_train(
    docs: DataFrame,
    n_rounds: int = 2,
    max_piece_len: int = 4,
    text_col: str = "text",
) -> DataFrame:
    """Unigram-LM (SentencePiece-family, Kudo 2018) tokenizer training
    as Viterbi hard-EM over an exact integer objective — the
    counterpart of ``bpe_train`` (BPE and unigram are the two
    production tokenizer-training families).

    Seeding: every character substring of length 1..``max_piece_len``
    of every distinct corpus word is a candidate piece; seed counts
    are corpus occurrence totals (word frequency x multiplicity).
    Each EM round then (E) segments every distinct word by Viterbi
    and (M) re-estimates piece counts from the chosen segmentations
    (pieces unused by any word drop to 0 — hard EM).

    The Viterbi objective is EXACT-integer, not float log-likelihood:
    minimize piece count, then maximize the SUM of piece counts, then
    take the lexicographically smallest segmentation string. Sum of
    bounded counts is the exactness-preserving surrogate for
    sum-of-log-probs (a monotone frequency preference at fixed piece
    count) — float ln() would hash-diverge between engines at ulp
    boundaries, and exact rational products overflow 128-bit at
    corpus scale. Every comparison is BIGINT/string, so a DuckDB
    oracle replays training exactly.

    Tie-break correctness note: the DP keeps, for every prefix length
    p of a word, the single best (n_pieces, -score, seg) struct, and
    ``array_min`` over the candidate structs applies the objective's
    total order field by field. Pruning per prefix preserves the
    global minimum: two partial segmentations competing at the same p
    with the same piece count cover the same characters with the same
    number of separators, hence have EQUAL string lengths — so the
    prefix anomaly of lexicographic comparison under later
    concatenation cannot occur — and a smaller piece count or a larger
    score wins whatever suffix follows.

    Scale shape: ONE corpus pass builds the distinct-word table
    (vocab-bounded, like build_vocab); everything after — candidate
    pieces and per-round counts — is vocabulary-sized, never
    corpus-sized. Each EM round is one pipeline with no step loop: the
    candidates join the broadcast piece counts (one row per distinct
    piece of <= ``max_piece_len`` characters), ``groupBy(word)``
    collects them into one row per word, and the Viterbi DP runs
    inside that row as an ``aggregate`` over positions 1..wlen that
    reads only the <= ``max_piece_len`` candidates ending at each
    position. A round therefore costs a fixed handful of jobs (the
    counts' shuffle and broadcast, the E-step's shuffle and
    checkpoint) whatever the longest word, O(wlen x max_piece_len)
    work per word, and no session-conf change. Only each round's
    ``best`` is checkpointed: the M-step's counts stay lazy and are
    computed inside the next round's broadcast. Each round releases
    the previous round's ``best``, and the word table is released
    once the last round no longer needs it.

    Output: one row per distinct word after the final round:
    (word, wfreq, n_pieces, seg, score) with seg '|'-joined.
    """
    from map_reduce_project_spark.graph.checkpointing import (
        CheckpointCycler,
    )

    if n_rounds < 1:
        raise ValueError(
            f"unigram_train: n_rounds must be >= 1, got {n_rounds}"
        )
    if max_piece_len < 1:
        raise ValueError(
            "unigram_train: max_piece_len must be >= 1, got "
            f"{max_piece_len}"
        )
    words = (
        docs.select(
            F.explode(F.split(F.col(text_col), " ")).alias("word")
        )
        .where(F.length("word") >= 1)
        .groupBy("word")
        .agg(F.count("*").alias("wfreq"))
        .localCheckpoint(eager=True)
    )
    # every substring (start, plen) of length 1..max_piece_len, so
    # exactly min(max_piece_len, e) candidates end at position e
    subs = words.select(
        "word",
        "wfreq",
        F.inline(
            F.expr(
                f"flatten(transform(sequence(1, length(word)), i -> "
                f"transform(sequence(1, least({max_piece_len}, "
                f"length(word) - i + 1)), L -> "
                f"struct(i as start, substring(word, i, L) as piece, "
                f"L as plen))))"
            )
        ),
    )
    counts = subs.groupBy("piece").agg(
        F.sum("wfreq").cast("long").alias("c")
    )
    # Candidates sorted by (end, plen): with K = max_piece_len, those
    # ending at p start at 0-based slot sum_{j<p} min(K, j), i.e.
    # m(m+1)/2 + (p-1-m)K with m = min(p-1, K). acc[q] is the best
    # struct for the prefix of length q; acc[0] is the empty
    # segmentation.
    k = max_piece_len
    m = f"least(p - 1, {k})"
    first = f"{m} * ({m} + 1) div 2 + (p - 1 - {m}) * {k} + 1"
    viterbi = F.expr(
        f"""aggregate(
            sequence(1, length(word)),
            array(named_struct('n', 0L, 'neg', 0L, 'seg', '')),
            (acc, p) -> concat(acc, array(array_min(transform(
                slice(cands, {first}, least({k}, p)),
                c -> named_struct(
                    'n', acc[p - c.plen].n + 1,
                    'neg', acc[p - c.plen].neg - c.pc,
                    'seg', concat(
                        acc[p - c.plen].seg,
                        if(p = c.plen, '', '|'),
                        substring(word, p - c.plen + 1, c.plen))))))),
            acc -> acc[length(word)])"""
    )
    cands = F.array_sort(
        F.collect_list(
            F.struct(
                (F.col("start") + F.col("plen") - 1).alias("e"),
                "plen",
                F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("pc"),
            )
        )
    )
    cycler = CheckpointCycler(docs.sparkSession)
    for _ in range(n_rounds):
        # E-step: one row per word holding its scored candidates
        best = (
            subs.join(F.broadcast(counts), "piece", "left")
            .groupBy("word", "wfreq")
            .agg(cands.alias("cands"))
            .select("word", "wfreq", viterbi.alias("b"))
            .select(
                "word",
                "wfreq",
                F.col("b.n").alias("n_pieces"),
                F.col("b.seg").alias("seg"),
                (-F.col("b.neg")).alias("score"),
            )
        ).localCheckpoint(eager=True)
        cycler.cycle(best, words)
        # M-step: piece counts from the chosen segmentations, read by
        # the next round's broadcast
        counts = (
            best.select(
                F.explode(F.split("seg", "\\|")).alias("piece"), "wfreq"
            )
            .groupBy("piece")
            .agg(F.sum("wfreq").cast("long").alias("c"))
        )
    # the result reads only the last round's best: release words too
    cycler.cycle(best)
    return best


def unigram_apply(
    docs: DataFrame,
    segs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Encode the corpus with a trained unigram tokenizer: ``segs`` is
    ``unigram_train`` output ((word, n_pieces, seg, ...)); each
    document's words map through the distinct-word segmentation
    table and re-assemble in order. Unseen words fall back to a
    single whole-word piece. The lookup join's strategy is left to
    AQE: the table is distinct-words-sized — usually broadcastable,
    but on web-scale corpora the word set itself is large, so a
    forced broadcast would be a driver-OOM trap.

    Output: (id, n_words, n_pieces, encoded) with encoded the
    space-joined per-word segmentations ('|' separates pieces within
    a word).
    """
    tok = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "word"),
    )
    lut = segs.select("word", "n_pieces", "seg")
    joined = tok.join(lut, "word", "left").select(
        F.col(id_col),
        "pos",
        F.coalesce(F.col("n_pieces"), F.lit(1)).cast("long").alias("np"),
        F.coalesce(F.col("seg"), F.col("word")).alias("s"),
    )
    return joined.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_words"),
        F.sum("np").cast("long").alias("n_pieces"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "s"))),
                lambda x: x["s"],
            ),
            " ",
        ).alias("encoded"),
    )


def html_extract_links(
    docs: DataFrame,
    id_col: str = "doc_id",
    html_col: str = "html",
    base_col: str | None = None,
) -> DataFrame:
    """Outlink extraction from raw HTML — the crawl-frontier /
    link-graph counterpart of ``html_extract``: pull every <a> tag's
    href (double-quoted form; the tag name and attribute are anchored
    — ``<a(?:\\s[^>]*?)?\\shref=`` — so <area>/<audio> and data-href do NOT
    match), resolve it against the document's base URL (``base_col``)
    per RFC 3986 merge rules: scheme-qualified hrefs (http://,
    mailto:, javascript:) pass through, protocol-relative
    ``//host/...`` take the base's scheme, root-relative ``/x`` joins
    the base's ORIGIN (scheme://authority — a base carrying a path,
    e.g. the document's own URL, does not leak its path into
    root-relative links), other relative joins the base DIRECTORY
    (base with its last path segment removed). One row per anchor in
    document order.

    Codegen-only (regexp_extract_all + explode_outer with the null
    guard — the InferFiltersFromGenerate discipline from
    exploded_shingles); the only fan-out is the per-anchor explode,
    and link-graph consumers (CC over the host graph, URL-canonical
    dedup of the frontier) take the output as an edge list.

    Output: (id, link_pos, href, resolved).
    """
    hrefs = (
        f"regexp_extract_all({html_col}, "
        f"'(?is)<a(?:\\\\s[^>]*?)?\\\\shref=\"([^\"]*)\"', 1)"
    )
    out = docs.select(
        F.col(id_col),
        *( [F.col(base_col)] if base_col else [] ),
        F.posexplode_outer(F.expr(hrefs)).alias("link_pos0", "href"),
    ).where(F.col("href").isNotNull())
    if base_col is None:
        return out.select(
            F.col(id_col),
            (F.col("link_pos0") + 1).cast("long").alias("link_pos"),
            "href",
            F.col("href").alias("resolved"),
        )
    base_scheme = F.regexp_extract(F.col(base_col), "^([A-Za-z]+):", 1)
    # RFC 3986: root-relative hrefs resolve against the base's ORIGIN
    # (scheme://authority), never a path carried by the base; plain
    # relative hrefs resolve against the base DIRECTORY (last path
    # segment dropped). Both fall back to the raw base when the base
    # has no ://-authority (non-hierarchical base — degenerate input).
    origin_ex = F.regexp_extract(
        F.col(base_col), "^([A-Za-z][A-Za-z0-9+.-]*://[^/]*)", 1
    )
    base_origin = F.when(origin_ex != "", origin_ex).otherwise(
        F.col(base_col)
    )
    basedir_ex = F.regexp_extract(
        F.col(base_col),
        "^([A-Za-z][A-Za-z0-9+.-]*://[^/]*(?:/[^/]*)*)/[^/]*$",
        1,
    )
    base_dir = F.when(basedir_ex != "", basedir_ex).otherwise(
        F.col(base_col)
    )
    resolved = (
        # any scheme-qualified href passes through: http://, https://,
        # and also mailto:/tel:/javascript: (no // part)
        F.when(
            F.col("href").rlike("^[A-Za-z][A-Za-z0-9+.-]*:"),
            F.col("href"),
        )
        # protocol-relative //host/path takes the BASE's scheme
        .when(
            F.col("href").startswith("//"),
            F.concat(base_scheme, F.lit(":"), F.col("href")),
        )
        .when(
            F.col("href").startswith("/"),
            F.concat(base_origin, F.col("href")),
        )
        .otherwise(
            F.concat(base_dir, F.lit("/"), F.col("href"))
        )
    )
    return out.select(
        F.col(id_col),
        (F.col("link_pos0") + 1).cast("long").alias("link_pos"),
        "href",
        resolved.alias("resolved"),
    )
