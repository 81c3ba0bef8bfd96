"""LLM-pipeline operators: dedup, similarity, text, multimodal.

Semantic tests on small controlled inputs (the oracle harness covers
the full-table hash checks; here we pin behaviors the SQL twin can't
express directly, e.g. recall of LSH candidates, decode stubs)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from map_reduce_project_spark.operators.dedup import (
    exact_dedup,
    jaccard_verify,
    lsh_buckets,
    lsh_candidate_pairs,
    minhash_dedup_fused,
    minhash_signatures,
    simhash,
)
from map_reduce_project_spark.operators.multimodal import (
    attach_fake_payload,
    decode_media,
    extract_metadata,
)
from map_reduce_project_spark.operators.similarity import (
    brute_force_topk,
    cosine_pairs,
    ivf_topk,
    lsh_bucketed_topk,
    sign_bucket,
)
from map_reduce_project_spark.operators.text import (
    fingerprint,
    language_id,
    quality_score,
    text_stats,
)


@pytest.fixture(scope="module")
def docs(spark):
    base = "spark sql window agg join filter scan shuffle broadcast hash"
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, base + " extra"),  # near dup of 1
        (4, "the quick brown fox jumps over the lazy dog again and again"),
        (5, "completely different tokens here nothing shared at all ok"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark, docs):
    out = {r.keep_id: r.n_copies for r in exact_dedup(docs, ["text"], "doc_id").collect()}
    assert out[1] == 2  # docs 1+2 collapse, keeper is min id
    assert out[3] == 1 and out[4] == 1 and out[5] == 1


def test_minhash_lsh_finds_duplicates(spark, docs):
    sigs = minhash_signatures(docs)
    pairs = {
        (r.id_a, r.id_b)
        for r in lsh_candidate_pairs(lsh_buckets(sigs)).collect()
    }
    assert (1, 2) in pairs  # exact dup always a candidate
    assert not any({a, b} == {4, 5} for a, b in pairs)  # disjoint texts


def test_minhash_dedup_fused_matches_two_pass(spark, docs):
    """The shingle-once fused pipeline must emit exactly the rows the
    composable minhash -> LSH -> jaccard_verify path emits."""
    sigs = minhash_signatures(docs)
    cands = lsh_candidate_pairs(lsh_buckets(sigs))
    two_pass = {
        (r.id_a, r.id_b, r.jaccard)
        for r in jaccard_verify(docs, cands, threshold=0.3).collect()
    }
    fused = {
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_dedup_fused(docs, threshold=0.3).collect()
    }
    assert fused == two_pass and fused  # identical and non-empty


def test_minhash_fused_collapse_exact_is_pair_identical(spark):
    """Round-13 exact-collapse: fused with collapse_exact=True must
    emit EXACTLY the (id_a, id_b, jaccard) rows of the uncollapsed
    pipeline on a corpus mixing exact-dup groups of size 1/2/3/4,
    near-dups, a short (sub-k) duplicated text, empty texts, and a
    group of null texts. NB both degenerate shapes still shingle
    (split('', ' ') is [''] and concat_ws drops nulls to ''), so both
    paths pair them at jaccard 1.0 — and across the empty/null groups
    too, since their shingle sets are both {''}; the equality below
    pins all of it."""
    base = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, base),
        (2, base),                      # group of 2
        (3, base + " extra"),           # near-dup of the group
        (10, "one two"),                # sub-k text...
        (11, "one two"),                # ...duplicated (still shingles)
        (20, ""),                       # empty texts: one '' shingle
        (21, ""),
        (30, None),                     # null texts shingle to {''}
        (31, None),                     # too: they pair at 1.0
        (40, "q r s t u v w x y z a b"),
        (41, "q r s t u v w x y z a b"),
        (42, "q r s t u v w x y z a b"),
        (43, "q r s t u v w x y z a b"),  # group of 4 -> 6 pairs
        (50, "lonely document completely unlike the others here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for thr in (0.0, 0.3, 1.0):
        plain = {
            (r.id_a, r.id_b, r.jaccard)
            for r in minhash_dedup_fused(
                docs, threshold=thr, collapse_exact=False
            ).collect()
        }
        collapsed = {
            (r.id_a, r.id_b, r.jaccard)
            for r in minhash_dedup_fused(
                docs, threshold=thr, collapse_exact=True
            ).collect()
        }
        assert collapsed == plain, (thr, collapsed ^ plain)
        assert (20, 21, 1.0) in collapsed  # empty-text group pairs
        assert (30, 31, 1.0) in collapsed  # null-text group pairs
    assert {(40, 41), (40, 42), (40, 43), (41, 42), (41, 43), (42, 43)} <= {
        (a, b) for a, b, _ in collapsed
    }


def test_incremental_dedup_names_best_index_match(spark, docs):
    """Index holds docs 1 and 4; the batch brings an exact copy (2),
    a near copy (3), and an unrelated doc (5). Each flagged batch doc
    points at index doc 1; doc 5 survives (no row)."""
    from map_reduce_project_spark.operators.dedup import incremental_dedup

    index_docs = docs.where(F.col("doc_id").isin(1, 4))
    batch = docs.where(F.col("doc_id").isin(2, 3, 5))
    out = {
        r.doc_id: (r.dup_of, r.jaccard)
        for r in incremental_dedup(index_docs, batch, threshold=0.3).collect()
    }
    assert out[2] == (1, 1.0)
    assert out[3][0] == 1 and 0.3 <= out[3][1] < 1.0
    assert 5 not in out


def test_ngram_contamination(spark, docs):
    """Doc 1's text reused verbatim as the eval set: docs 1-3 share
    5-grams with it; docs 4-5 share none and emit no row."""
    from map_reduce_project_spark.operators.dedup import ngram_contamination

    eval_docs = docs.where(F.col("doc_id") == 1)
    train = docs.where(F.col("doc_id") != 1)
    out = {
        r.doc_id: (r.n_hits, r.n_grams, r.contamination)
        for r in ngram_contamination(train, eval_docs, n=5).collect()
    }
    assert out[2][2] == 1.0  # exact copy: fully contaminated
    n_hits_3, n_grams_3, ratio_3 = out[3]
    assert 0.0 < ratio_3 < 1.0 and n_hits_3 < n_grams_3  # near copy
    assert 4 not in out and 5 not in out  # disjoint texts


def test_winnowing_guarantee(spark):
    """Winnowing's theorem: a shared token run of >= w+k-1 tokens
    forces a shared fingerprint. k=3, w=4 -> runs of 6+ must collide;
    disjoint-vocabulary docs must not."""
    from map_reduce_project_spark.operators.text import (
        substring_overlap_pairs,
        winnow_fingerprints,
    )

    quote = "alpha beta gamma delta epsilon zeta"  # 6-token shared run
    rows = [
        (1, f"intro words here {quote} outro trailing text"),
        (2, f"{quote} totally different continuation tokens follow now"),
        (3, "nothing in common with either of those documents at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r.id_a, r.id_b)
        for r in substring_overlap_pairs(df, k=3, w=4).collect()
    }
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)
    # fingerprint sets are nonempty and deduped
    fps = {r.doc_id: r.fps for r in winnow_fingerprints(df).collect()}
    assert all(len(v) == len(set(v)) > 0 for v in fps.values())


def test_pack_sequences_offsets(spark):
    from map_reduce_project_spark.operators.text import pack_sequences

    rows = [(i, " ".join(["w"] * (3 + i))) for i in range(6)]  # 3,4,5,6,7,8 tokens
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(4)
    out = {r.doc_id: r for r in pack_sequences(df, context_len=10).collect()}
    # exclusive prefix sums of 3,4,5,6,7 -> 0,3,7,12,18,25
    assert [out[i].start_offset for i in range(6)] == [0, 3, 7, 12, 18, 25]
    assert [out[i].bin_id for i in range(6)] == [0, 0, 0, 1, 1, 2]
    assert out[3].offset_in_bin == 2 and out[5].offset_in_bin == 5


def test_repetition_metrics(spark):
    from map_reduce_project_spark.operators.text import repetition_metrics

    rows = [
        (1, "spam spam spam spam spam"),  # 4 bigrams, all identical
        (2, "one two three four five"),  # no repeats
        (3, "hi"),  # shorter than n: one whole-text gram, frac 0
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in repetition_metrics(df).collect()}
    assert out[1].n_2grams == 4 and out[1].dup_2gram_frac == 0.75
    assert out[2].dup_2gram_frac == 0.0 and out[2].dup_3gram_frac == 0.0
    assert out[3].n_2grams == 1 and out[3].dup_2gram_frac == 0.0


def test_cap_per_group(spark):
    from map_reduce_project_spark.operators.sampling import cap_per_group

    rows = [(i, "a" if i < 5 else "b", 100 - i) for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id long, grp string, score long")
    out = cap_per_group(df, "grp", "score", "doc_id", cap=2).collect()
    kept = {(r.grp, r.doc_id, r.rank_in_group) for r in out}
    # group a: ids 0..4, scores 100..96 -> keep 0,1; group b: ids 5..7 -> keep 5,6
    assert kept == {("a", 0, 1), ("a", 1, 2), ("b", 5, 1), ("b", 6, 2)}


def test_jaccard_verify_scores(spark, docs):
    cands = spark.createDataFrame(
        [(1, 2), (1, 3), (4, 5)], "id_a long, id_b long"
    )
    scores = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_verify(docs, cands, threshold=0.0).collect()
    }
    assert scores[(1, 2)] == 1.0
    assert 0.5 < scores[(1, 3)] < 1.0
    assert (4, 5) not in scores  # no shared shingles -> no inter row


def test_hot_shingle_pruning_kills_boilerplate_buckets(spark):
    from map_reduce_project_spark.operators.dedup import (
        prune_hot_shingles,
        shingle_document_frequency,
        shingles_expr,
    )

    # every doc shares the same long boilerplate prefix (think site
    # chrome / license header); bodies are disjoint. Long enough that
    # un-pruned LSH deterministically buckets the docs together (md5 is
    # fixed, so this test is not flaky).
    boiler = "copyright acme corp all rights reserved " * 5
    rows = [(i, f"{boiler}body{i} alpha{i} beta{i} gamma{i}") for i in range(6)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    shingled = docs.select(
        F.col("doc_id"), F.explode(shingles_expr(3)).alias("shingle")
    )

    dfreq = {r.shingle: r.df for r in shingle_document_frequency(shingled).collect()}
    assert dfreq["copyright acme corp"] == 6

    # without pruning, boilerplate shingles put docs in shared LSH
    # buckets; with max_df=3 those shingles vanish and the disjoint
    # bodies produce zero candidate pairs. 1-row bands make the
    # un-pruned control sensitive (any shared min hash buckets a
    # pair); the pruned corpus has fully disjoint shingle sets, so
    # banding cannot matter there.
    sigs = minhash_signatures(docs, max_df=3)
    cands = lsh_candidate_pairs(lsh_buckets(sigs, bands=12))
    assert cands.count() == 0

    sigs_raw = minhash_signatures(docs)
    cands_raw = lsh_candidate_pairs(lsh_buckets(sigs_raw, bands=12))
    assert cands_raw.count() > 0

    pruned = prune_hot_shingles(shingled, max_df=3)
    kept = {r.shingle for r in pruned.collect()}
    assert "copyright acme corp" not in kept
    assert any(s.startswith("body") for s in kept)


def test_simhash_identical_for_duplicates(spark, docs):
    sigs = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    assert sigs[1] == sigs[2]
    assert 0 <= sigs[1] < (1 << 16)
    assert sigs[1] != sigs[5]


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),   # close to 0
        (2, [0.0, 1.0, 0.0, 0.0]),   # orthogonal to 0
        (3, [-1.0, 0.0, 0.0, 0.0]),  # opposite of 0
        (4, [1.0, 0.0, 0.0, 0.0]),   # identical to 0
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_topk_ordering(spark, vectors):
    out = brute_force_topk(
        vectors.where("vec_id = 0"), vectors, k=4
    ).collect()
    ranked = [r.target_id for r in sorted(out, key=lambda r: r.rank)]
    assert ranked[0] == 4  # identical vector first (cosine 1)
    assert ranked[1] == 1
    assert ranked[-1] == 3  # opposite vector last (cosine -1)
    by_target = {r.target_id: float(r.cosine) for r in out}
    assert by_target[4] == pytest.approx(1.0)
    assert by_target[2] == pytest.approx(0.0)
    assert by_target[3] == pytest.approx(-1.0)


def test_sign_bucket_partitions(spark, vectors):
    got = {
        r.vec_id: r.bucket
        for r in vectors.select(
            "vec_id", sign_bucket("embedding", 2).alias("bucket")
        ).collect()
    }
    assert got[0] == 1  # dim1 > 0
    assert got[2] == 2  # dim2 > 0
    assert got[3] == 0  # none positive


def test_lsh_bucketed_topk_stays_in_bucket(spark, vectors):
    # buckets (2 planes): v0,v4 -> 1 | v1 -> 3 (dim2=0.1>0) | v2 -> 2 | v3 -> 0
    out = lsh_bucketed_topk(vectors, k=4, n_planes=2).collect()
    pairs = {(r.query_id, r.target_id) for r in out}
    assert pairs == {(0, 4), (4, 0)}  # only the shared-bucket pair


def test_cosine_pairs_excludes_self(spark, vectors):
    out = cosine_pairs(vectors, vectors).collect()
    assert all(r.query_id != r.target_id for r in out)


def test_text_stats_and_quality(spark, docs):
    stats = {r.doc_id: r for r in text_stats(docs).collect()}
    assert stats[1].n_tokens == 10
    assert stats[1].n_distinct_tokens == 10
    q = {r.doc_id: r for r in quality_score(docs).collect()}
    assert q[4].stopword_ratio > 0  # 'the' x2, 'over', 'and'
    assert 0 <= q[1].quality <= 1


def test_language_id_heuristic(spark):
    rows = [
        (1, "the cat sat on the mat and it is a good mat"),
        (2, "xyzzy plugh qwerty asdf zxcv"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.pred_lang for r in language_id(df).collect()}
    assert out[1] == "en"
    assert out[2] == "other"


def test_fingerprint_bow_catches_reordered(spark):
    rows = [(1, "alpha beta gamma"), (2, "gamma alpha beta"), (3, "alpha beta delta")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in fingerprint(df).collect()}
    assert out[1].raw_fp != out[2].raw_fp
    assert out[1].bow_fp == out[2].bow_fp  # reorder-invariant
    assert out[1].bow_fp != out[3].bow_fp


def test_multimodal_metadata_roundtrip(spark, docs):
    media = attach_fake_payload(docs)
    meta = {r.doc_id: r for r in extract_metadata(media).collect()}
    row = meta[1]
    text = docs.where("doc_id = 1").collect()[0].text
    assert row.n_bytes == len(text.encode())
    assert row.width == 64 + text.encode()[0] % 64
    assert row.modality == "fake/image"


def test_decode_media_stub_gates_real_modalities():
    # modalities WITHOUT a header parser still raise (full decode
    # needs media libs); known formats with corrupt bytes error
    # loudly rather than inventing metadata (mp4 has a real box-walk
    # parser now, so garbage mp4 is a ValueError, not a stub)
    with pytest.raises(NotImplementedError):
        decode_media(b"\x00\x01", "video/webm")
    with pytest.raises(ValueError):
        decode_media(b"\x00\x01", "video/mp4")
    with pytest.raises(ValueError):
        decode_media(b"\x89PNG", "image/png")  # truncated header


def test_ivf_exhaustive_probe_matches_brute_force(spark, vectors):
    # probing every cell degenerates IVF to exact search: the top-k
    # (query, target) sets must equal brute force (cosines are computed
    # double-fold vs quantized-int, so compare pair sets, not floats)
    ivf = ivf_topk(vectors, k=2, n_centroids=2, n_probe=2)
    bf = brute_force_topk(vectors, vectors, k=2)
    ivf_set = {(r.query_id, r.target_id) for r in ivf.collect()}
    bf_set = {(r.query_id, r.target_id) for r in bf.collect()}
    assert ivf_set == bf_set


def test_ivf_recall_on_real_embeddings(spark, sf0001):
    from map_reduce_project_spark.sources import read_table

    emb = read_table(spark, sf0001, "embeddings")
    ivf = ivf_topk(emb, k=3, n_centroids=16, n_probe=3)
    bf = brute_force_topk(emb, emb, k=3)
    ivf_set = {(r.query_id, r.target_id) for r in ivf.collect()}
    bf_set = {(r.query_id, r.target_id) for r in bf.collect()}
    recall = len(bf_set & ivf_set) / len(bf_set)
    # measured 0.58 with 3/16 probes on the sf0.001 corpus; the floor
    # leaves headroom for kmeans partitioning jitter across sessions
    assert recall >= 0.4


def test_rolling_fingerprint_semantics(spark):
    from map_reduce_project_spark.operators.text import rolling_fingerprint

    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta appended tail"),  # superset
        (3, "totally different words in here now"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in rolling_fingerprint(df).collect()}
    # whole-doc hash is order/extent sensitive
    assert out[1].doc_fp != out[2].doc_fp
    # winnowing-lite min-window hash survives appends when the minimal
    # window is shared (doc2 contains all of doc1's windows)
    assert out[2].win_fp <= out[1].win_fp
    assert out[1].win_fp != out[3].win_fp
    assert all(0 <= r.doc_fp < (1 << 31) for r in out.values())


def test_resize_images_shape_and_determinism(spark, docs):
    from map_reduce_project_spark.operators.multimodal import (
        attach_fake_payload,
        resize_images,
        resize_media,
    )

    media = attach_fake_payload(docs)
    out = resize_images(media, 8, 8).orderBy("doc_id").collect()
    assert len(out) == media.count()
    for r in out:
        assert (r.width, r.height) == (8, 8)
        assert len(r.payload) == 8 * 8 * 3  # RGB buffer stand-in
    # deterministic: same input bytes -> same resized bytes
    again = resize_images(media, 8, 8).orderBy("doc_id").collect()
    assert [bytes(r.payload) for r in out] == [
        bytes(r.payload) for r in again
    ]
    # PNG resizes for real (round-4 codec); DC-only JPEG decodes for
    # real now too (grayscale AND 1x1-sampled color), and the
    # profiles that genuinely need libjpeg still raise honestly
    import numpy as np
    import pytest as _pytest

    from map_reduce_project_spark.operators.multimodal import (
        _decode_ppm_pixels,
        encode_png,
        gradient_jpeg_image,
    )

    _, dc_jpeg = gradient_jpeg_image(5)
    resized = resize_media(dc_jpeg, "image/jpeg", 8, 8)
    assert _decode_ppm_pixels(resized).shape == (8, 8, 3)
    import struct as _st

    # 1x1, 4:2:0, 4:2:2, 4:1:1 and 4:4:0 sampled color are decodable
    # now; the remaining exotic samplings (3x1 here) still need
    # libjpeg and must raise
    color_sof = (
        b"\xff\xd8"
        + b"\xff\xc0" + _st.pack(">H", 17)
        + _st.pack(">BHHB", 8, 8, 8, 3)
        + bytes([1, 0x31, 0, 2, 0x11, 0, 3, 0x11, 0])  # 3x1 stays gated
    )
    with _pytest.raises(NotImplementedError):
        from map_reduce_project_spark.operators.multimodal import (
            decode_jpeg_dc,
        )

        decode_jpeg_dc(color_sof)
    px = (np.arange(27).reshape(3, 3, 3) * 9 % 256).astype(np.uint8)
    resized = resize_media(encode_png(px), "image/png", 8, 8)
    assert _decode_ppm_pixels(resized).shape == (8, 8, 3)


def test_sample_frames_fanout_matches_python(spark, docs):
    import hashlib

    from map_reduce_project_spark.operators.multimodal import (
        attach_fake_payload,
        sample_frames,
    )

    rows = docs.collect()
    expected = set()
    for r in rows:
        payload = r.text.encode()
        for i in range(0, len(payload) // 32, 10):
            expected.add(
                (
                    r.doc_id,
                    i,
                    hashlib.md5(payload[i * 32 : (i + 1) * 32]).hexdigest(),
                )
            )
    got = {
        (r.doc_id, r.frame_idx, r.frame_md5)
        for r in sample_frames(
            attach_fake_payload(docs), every_n=10
        ).collect()
    }
    assert got == expected


def test_scrub_pii(spark):
    from map_reduce_project_spark.operators.text import scrub_pii

    rows = [
        (1, "reach bob.smith+x@mail-host.org or 415-555-1234 thanks"),
        (2, "server 192.168.0.1 and 10.0.0.255 pinged"),
        (3, "nothing sensitive here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in scrub_pii(df).collect()}
    assert (out[1].n_emails, out[1].n_phones, out[1].n_ips) == (1, 1, 0)
    assert out[1].redacted == "reach <EMAIL> or <PHONE> thanks"
    assert out[2].n_ips == 2
    assert out[2].redacted == "server <IP> and <IP> pinged"
    assert out[3].redacted == "nothing sensitive here"
    assert (out[3].n_emails, out[3].n_phones, out[3].n_ips) == (0, 0, 0)


def test_unigram_familiarity(spark):
    from map_reduce_project_spark.operators.text import unigram_familiarity

    df = spark.createDataFrame(
        [(1, "a a b"), (2, "b c")], "doc_id long, text string"
    )
    # corpus freqs: a=2, b=2, c=1
    out = {r.doc_id: r for r in unigram_familiarity(df).collect()}
    assert (out[1].n_tokens, out[1].sum_freq, out[1].min_freq) == (3, 6, 2)
    assert out[1].mean_freq == 2.0
    assert (out[2].n_tokens, out[2].sum_freq, out[2].min_freq) == (2, 3, 1)
    assert out[2].mean_freq == 1.5


def test_arrow_topk_bit_identical_to_position_join(spark, sf0001):
    # same fixed-point arithmetic, different data plane: the
    # mapInArrow formulation must reproduce the position-join
    # brute force EXACTLY (ids, ranks, and every cosine bit), and
    # batch boundaries must not leak into the result (forced tiny
    # Arrow batches => many batch-local top-k prunings)
    from map_reduce_project_spark.operators.similarity import (
        arrow_brute_force_topk,
        brute_force_topk,
    )

    from map_reduce_project_spark.sources.io import read_table

    emb = read_table(spark, sf0001, "embeddings")
    queries = emb.where("vec_id % 50 = 0")
    expected = {
        (r.query_id, r.target_id, r.rank, float(r.cosine))
        for r in brute_force_topk(queries, emb, k=4).collect()
    }
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        got = {
            (r.query_id, r.target_id, r.rank, float(r.cosine))
            for r in arrow_brute_force_topk(queries, emb, k=4).collect()
        }
    finally:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", old
        )
    assert got == expected


def test_real_header_decoders(spark):
    # REAL format metadata: crafted-on-the-fly valid headers for
    # PNG/JPEG/BMP/PPM and a stdlib-`wave`-written WAV, extracted
    # through the same Spark mapInPandas stage as the fake modality
    import io
    import struct as st
    import wave

    png = (
        b"\x89PNG\r\n\x1a\n"
        + st.pack(">I", 13) + b"IHDR"
        + st.pack(">IIBBBBB", 640, 480, 8, 2, 0, 0, 0)
        + b"\x00" * 4
    )
    bmp = b"BM" + b"\x00" * 16 + st.pack("<ii", 320, -200) + b"\x00" * 10
    ppm = b"P6\n# comment\n12 7\n255\n" + b"\x00" * (12 * 7 * 3)
    jpeg = (
        b"\xff\xd8"                      # SOI
        + b"\xff\xe0" + st.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 8
        + b"\xff\xc4" + st.pack(">H", 4) + b"\x00\x00"   # DHT (skipped)
        + b"\xff\xc0" + st.pack(">H", 11)                # SOF0
        + b"\x08" + st.pack(">HH", 99, 123) + b"\x01" + b"\x00" * 3
    )
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(b"\x00\x00" * 2 * 500)  # 500 stereo frames
    wav = buf.getvalue()

    rows = [
        (1, "image/png", png, 640, 480),
        (2, "image/bmp", bmp, 320, 200),
        (3, "image/x-portable-pixmap", ppm, 12, 7),
        (4, "image/jpeg", jpeg, 123, 99),
        (5, "audio/wav", wav, 500, 2),  # samples/channel, channels
    ]
    media = spark.createDataFrame(
        [(i, m, bytearray(p)) for i, m, p, _, _ in rows],
        "doc_id long, modality string, payload binary",
    )
    got = {r.doc_id: (r.width, r.height) for r in
           extract_metadata(media).collect()}
    for i, _, _, w_, h_ in rows:
        assert got[i] == (w_, h_), (i, got[i], (w_, h_))


def test_jpeg_fill_bytes_and_scan_termination():
    # ITU T.81 B.1.1.2: markers may be preceded by any number of 0xFF
    # fill bytes; EOI/SOS end the header region
    import struct as st

    from map_reduce_project_spark.operators.multimodal import _parse_jpeg

    sof = (
        b"\xff\xc0" + st.pack(">H", 11)
        + b"\x08" + st.pack(">HH", 7, 9) + b"\x01" + b"\x00" * 3
    )
    # fill bytes before both the APP0 segment and the SOF marker
    padded = (
        b"\xff\xd8"
        + b"\xff\xff\xff"                      # fill run
        + b"\xff\xe0" + st.pack(">H", 4) + b"\x00\x00"
        + b"\xff\xff"                          # fill run
        + sof
    )
    assert _parse_jpeg(padded) == {"width": 9, "height": 7}

    # standalone EOI right after SOI: clean error, not a bogus
    # length read past the buffer
    with pytest.raises(ValueError):
        _parse_jpeg(b"\xff\xd8\xff\xd9")
    # SOS before any SOF: dims can't come from entropy-coded data
    with pytest.raises(ValueError):
        _parse_jpeg(b"\xff\xd8\xff\xda" + st.pack(">H", 4) + b"\x00" * 40)


def test_pixel_decode_gradient_roundtrips():
    # REAL pixel decode: gradient patterns catch stride/row-order/
    # channel-order mistakes that solid colors can't
    import struct as st

    import numpy as np

    from map_reduce_project_spark.operators.multimodal import (
        decode_pixels,
        encode_ppm,
        resize_nearest,
    )

    grad = np.arange(5 * 7 * 3, dtype=np.uint8).reshape(5, 7, 3)
    assert (decode_pixels(encode_ppm(grad), "image/x-portable-pixmap") == grad).all()

    # top-down (negative height) 24-bit BMP with 4-byte row padding
    w, h = 3, 4
    px = np.arange(w * h * 3, dtype=np.uint8).reshape(h, w, 3)
    stride = (w * 3 + 3) & ~3
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = px[:, :, ::-1].reshape(h, w * 3)  # BGR, top-down
    data = rows.tobytes()
    hdr = (
        b"BM" + st.pack("<IHHI", 54 + len(data), 0, 0, 54)
        + st.pack("<IiiHHIIiiII", 40, w, -h, 1, 24, 0, len(data), 0, 0, 0, 0)
    )
    assert (decode_pixels(hdr + data, "image/bmp") == px).all()

    # nearest-neighbor: floor index mapping golden
    rs = resize_nearest(grad, 3, 2)
    rr = (np.arange(2) * 5) // 2
    cc = (np.arange(3) * 7) // 3
    assert (rs == grad[rr][:, cc]).all()


def test_solid_color_payloads_decode_and_resize(spark):
    # the gate-query path end-to-end through Spark: real PPM/BMP
    # payloads -> pixel_stats exact sums -> resize preserves color
    from map_reduce_project_spark.operators.multimodal import (
        attach_real_image_payload,
        pixel_stats,
        resize_images,
    )

    ids = spark.range(0, 40).withColumnRenamed("id", "doc_id")
    media = attach_real_image_payload(ids)
    stats = {r.doc_id: r for r in pixel_stats(media).collect()}
    for did in range(40):
        w, h = 1 + did % 16, 1 + (did // 16) % 16
        r = stats[did]
        assert (r.width, r.height, r.n_pixels) == (w, h, w * h)
        assert r.sum_r == (did % 256) * w * h
        assert r.sum_g == (did * 7 % 256) * w * h
        assert r.sum_b == (did * 13 % 256) * w * h
        assert r.modality == (
            "image/x-portable-pixmap" if did % 2 == 0 else "image/bmp"
        )
    resized = {
        r.doc_id: r for r in pixel_stats(
            resize_images(media, 6, 2).select("doc_id", "modality", "payload")
            .withColumn("modality", F.lit("image/x-portable-pixmap"))
        ).collect()
    }
    for did in range(40):
        r = resized[did]
        assert (r.width, r.height) == (6, 2)
        assert r.sum_r == (did % 256) * 12


def test_unknown_modality_still_raises(spark):
    from map_reduce_project_spark.operators.multimodal import decode_media

    with pytest.raises(NotImplementedError):
        decode_media(b"\x00", "video/webm")


def test_multimodal_backend_seam(spark):
    """The external-codec seam (round 10): a decode_backend callable
    rides in the mapInPandas task closure and (a) decodes a modality
    the stdlib tier raises on, executing ON EXECUTORS, (b) falls
    through to the stdlib tier when it returns None with results
    byte-identical to no-backend, and (c) changes neither the output
    schema nor the physical plan shape — proving libjpeg/ffmpeg could
    replace the stdlib tiers behind this exact signature."""
    import numpy as np

    from map_reduce_project_spark.operators.multimodal import (
        attach_real_image_payload,
        decode_pixels,
        pixel_stats,
    )

    # (a) stdlib raises on this modality; the backend handles it
    with pytest.raises(NotImplementedError):
        decode_pixels(b"\x00\x01", "image/webp")

    def backend(payload: bytes, modality: str):
        if modality == "image/webp":
            # stand-in for a PIL/libvips adapter: 2x3 solid color
            # derived from the payload's first byte
            return np.full((2, 3, 3), payload[0], dtype=np.uint8)
        return None  # fall through to the stdlib tier

    webp = spark.createDataFrame(
        [(1, "image/webp", bytearray([7, 0])),
         (2, "image/webp", bytearray([9, 0]))],
        "doc_id long, modality string, payload binary",
    )
    rows = {r.doc_id: r for r in pixel_stats(webp, backend).collect()}
    assert rows[1].n_pixels == 6 and rows[1].sum_r == 7 * 6
    assert rows[2].sum_g == 9 * 6 and rows[2].width == 3

    # (b) fall-through parity + (c) schema/plan shape unchanged
    media = attach_real_image_payload(
        spark.range(0, 12).withColumnRenamed("id", "doc_id")
    )
    plain = pixel_stats(media)
    seamed = pixel_stats(media, backend)
    assert plain.schema == seamed.schema
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, seamed.collect())
    )
    # same physical operator census (the payload-builder stage is a
    # MapInPandas too, so compare counts rather than pin an absolute)
    plans = [
        df._jdf.queryExecution().executedPlan().toString()
        for df in (plain, seamed)
    ]
    assert plans[0].count("MapInPandas") == plans[1].count("MapInPandas")
    assert all("Exchange" not in p for p in plans)


def test_bow_cosine_counts_weighting_beats_jaccard_sets(spark):
    from map_reduce_project_spark.operators.text import bow_cosine_pairs

    rows = [
        (1, "alpha alpha alpha beta"),   # tf-weighted toward alpha
        (2, "alpha alpha alpha gamma"),  # same heavy token
        (3, "alpha beta gamma delta"),   # same SET as 1+2 union, flat tf
        (4, "zeta eta theta iota"),      # disjoint
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r.id_a, r.id_b): r.cosine
        for r in bow_cosine_pairs(df, max_df_frac=1.0, threshold=0.0).collect()
    }
    # count weighting: (1,2) share tf=3 on alpha -> cosine 9/sqrt(10*10)=0.9
    assert out[(1, 2)] == pytest.approx(0.9)
    # flat doc 3 is far from both heavy docs despite full set overlap
    assert out[(1, 3)] < 0.7 and out[(2, 3)] < 0.7
    assert not any(4 in p for p in out)  # disjoint vocab: no candidate row


def test_bow_cosine_df_pruning_drops_stopword_candidates(spark):
    from map_reduce_project_spark.operators.text import bow_cosine_pairs

    # 'the' is in every doc; with max_df_frac=0.5 it is pruned, so the
    # only surviving candidate pair is the one sharing a rare token
    rows = [
        (1, "the apple pie"),
        (2, "the apple tart"),
        (3, "the orange juice"),
        (4, "the grape soda"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r.id_a, r.id_b)
        for r in bow_cosine_pairs(df, max_df_frac=0.5, threshold=0.0).collect()
    }
    assert pairs == {(1, 2)}


def test_persisted_ivf_index_matches_in_plan(spark, sf0001, tmp_path):
    from map_reduce_project_spark.operators.similarity import (
        ivf_index_topk,
        ivf_topk_pinned,
        write_ivf_index,
    )
    from map_reduce_project_spark.sources.io import read_table

    emb = read_table(spark, sf0001, "embeddings")
    want = {
        (r.query_id, r.target_id, r.rank, float(r.cosine))
        for r in ivf_topk_pinned(emb, k=3, n_centroids=16, n_probe=3).collect()
    }
    path = str(tmp_path / "ivf")
    write_ivf_index(emb, path, n_centroids=16)
    got = {
        (r.query_id, r.target_id, r.rank, float(r.cosine))
        for r in ivf_index_topk(spark, path, emb, k=3, n_probe=3).collect()
    }
    assert got == want and got
    import os
    assert any(d.startswith("cell=") for d in os.listdir(f"{path}/cells"))
    # round 7: the search layout exists and the ELEMENT fallback path
    # (pre-round-7 index without cell_vectors/) returns bit-identical
    # rows — both formulations sum the same quantized int64 products
    assert any(
        d.startswith("cell=") for d in os.listdir(f"{path}/cell_vectors")
    )
    import shutil
    shutil.rmtree(f"{path}/cell_vectors")
    fallback = {
        (r.query_id, r.target_id, r.rank, float(r.cosine))
        for r in ivf_index_topk(spark, path, emb, k=3, n_probe=3).collect()
    }
    assert fallback == want


# ---------------------------------------------------------------------------
# SemDeDup / SRP / PQ (round 3)
# ---------------------------------------------------------------------------


def _vec_df(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_semdedup_prunes_exact_copy_keeps_lowest_id(spark):
    from map_reduce_project_spark.operators.similarity import semdedup_prune

    base = [float(x) for x in (1, 2, 3, 4)]
    far = [4.0, -3.0, 2.0, -1.0]
    df = _vec_df(
        spark,
        [(0, base), (1, far), (50, base), (60, [x * 1.0001 for x in base])],
    )
    out = {r["vec_id"]: r for r in semdedup_prune(df, n_centroids=2, threshold=0.95).collect()}
    assert not out[0]["pruned"] and out[0]["pruned_by"] == -1
    assert not out[1]["pruned"]  # orthogonal-ish vector survives
    assert out[50]["pruned"] and out[50]["pruned_by"] == 0
    assert out[60]["pruned"] and out[60]["pruned_by"] == 0


def test_semdedup_never_compares_across_cells(spark):
    from map_reduce_project_spark.operators.similarity import semdedup_prune

    # identical vectors but assigned to different cells can't happen
    # (assignment is a function of the vector); near-identical vectors
    # in the same cell prune, and every pruned row names a same-cell
    # keeper with a lower id
    rows = [(i, [float(i % 7 + 1), 1.0, 0.5, 0.25]) for i in range(30)]
    df = _vec_df(spark, rows)
    out = semdedup_prune(df, n_centroids=4, threshold=0.999).collect()
    cells = {r["vec_id"]: r["cell"] for r in out}
    for r in out:
        if r["pruned"]:
            assert r["pruned_by"] < r["vec_id"]
            assert cells[r["pruned_by"]] == r["cell"]


def test_srp_projection_matches_python(spark):
    from map_reduce_project_spark.operators.similarity import (
        _SRP_A,
        _SRP_B,
        _SRP_HALF,
        _SRP_MOD,
        QSCALE,
        srp_project,
    )
    import math

    rows = [(0, [0.5, -0.25, 0.125]), (1, [1.0, 1.0, -1.0])]
    out = {
        (r["vec_id"], r["j"]): r["proj"]
        for r in srp_project(_vec_df(spark, rows), out_dims=4).collect()
    }
    for vid, vec in rows:
        for j in range(4):
            want = sum(
                math.floor(x * QSCALE)
                * (1 if (pos * _SRP_A + j * _SRP_B) % _SRP_MOD < _SRP_HALF else -1)
                for pos, x in enumerate(vec)
            )
            assert out[(vid, j)] == want
    assert len(out) == 8


def test_pq_codes_self_assignment_is_zero(spark):
    from map_reduce_project_spark.operators.similarity import pq_codes

    # codebook vectors must land at dist2 = 0; the value pattern has
    # period 5 in vec_id, so ties resolve to the lowest code id
    rows = [(i, [float((i * 7 + d) % 5 - 2) for d in range(64)]) for i in range(12)]
    out = pq_codes(_vec_df(spark, rows), n_subspaces=8, n_codes=8).collect()
    for r in out:
        if r["vec_id"] < 8:
            assert r["code"] == r["vec_id"] % 5 and r["dist2"] == 0
    assert len(out) == 12 * 8


def test_hashed_linear_score_matches_python(spark):
    import hashlib

    from map_reduce_project_spark.operators.text import (
        QC_MULT,
        QC_RANGE,
        hashed_linear_score,
    )

    rows = [(1, "good clean prose"), (2, "spam spam spam spam")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in hashed_linear_score(df).collect()}
    for did, text in rows:
        want = sum(
            (int(hashlib.md5(t.encode()).hexdigest()[:2], 16) * QC_MULT)
            % QC_RANGE
            - 500
            for t in text.split(" ")
        )
        assert out[did]["score"] == want
        assert out[did]["quality_label"] == (want > 0)


def test_kmeans_int_converges_to_separated_clusters(spark):
    from map_reduce_project_spark.operators.similarity import kmeans_int

    # two well-separated blobs; seeds 0 and 1 land one in each blob,
    # so three Lloyd rounds must recover the true partition exactly
    blob_a = [(i, [10.0 + 0.01 * i, 10.0, 0.0, 0.0]) for i in range(0, 10, 2)]
    blob_b = [(i, [-10.0, -10.0 - 0.01 * i, 0.0, 0.0]) for i in range(1, 11, 2)]
    df = spark.createDataFrame(
        blob_a + blob_b, "vec_id long, embedding array<double>"
    )
    out = kmeans_int(df, k=2, iterations=3).collect()
    clusters = {r["vec_id"]: r["cluster"] for r in out}
    assert len(out) == 10
    assert {clusters[i] for i in range(0, 10, 2)} == {0}
    assert {clusters[i] for i in range(1, 11, 2)} == {1}


def test_wav_roundtrip_decodes_exact_samples(spark):
    from map_reduce_project_spark.operators.multimodal import (
        _build_wav,
        _synth_samples,
        attach_real_audio_payload,
        audio_sample_stats,
    )

    # byte-level: container parse recovers the exact sample list
    samples = [-1024, 0, 1023, 7, -7]
    b = _build_wav(samples)
    assert b[:4] == b"RIFF" and b[8:12] == b"WAVE"
    # spark-level: stats equal the generator arithmetic
    docs = spark.createDataFrame([(3,), (20,)], "doc_id long")
    out = {
        r["doc_id"]: r
        for r in audio_sample_stats(attach_real_audio_payload(docs)).collect()
    }
    for did in (3, 20):
        want = _synth_samples(did)
        r = out[did]
        assert r["n_samples"] == len(want)
        assert r["sum_samples"] == sum(want)
        assert r["sum_sq"] == sum(s * s for s in want)
        assert r["peak"] == max(abs(s) for s in want)
        assert r["sample_rate"] == 8000


def test_audio_decode_rejects_malformed_payloads(spark):
    import pandas as pd
    import pytest as _pt

    from map_reduce_project_spark.operators.multimodal import (
        audio_sample_stats,
    )

    bad = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": pd.Series([1], dtype="int64"),
                "modality": ["audio/wav"],
                "payload": [b"NOTAWAVFILE0000"],
            }
        )
    )
    with _pt.raises(Exception, match="not a WAV|PythonException"):
        audio_sample_stats(bad).collect()


def test_shot_boundaries_cut_exactly_at_gradient_flip(spark):
    from map_reduce_project_spark.operators.multimodal import (
        SHOT_CUT_AT,
        SHOT_FRAMES,
        frame_dhashes,
        shot_boundaries,
    )

    docs = spark.createDataFrame([(3,), (7,)], "doc_id long")
    out = shot_boundaries(frame_dhashes(docs)).collect()
    assert len(out) == 2 * SHOT_FRAMES
    for r in out:
        if r["frame_idx"] == 0:
            assert r["hamming_prev"] == -1 and not r["is_cut"]
        elif r["frame_idx"] == SHOT_CUT_AT:
            assert r["hamming_prev"] >= 8 and r["is_cut"]
        else:
            assert r["hamming_prev"] == 0 and not r["is_cut"]


def test_prefix_filter_hash_ids_match_string_sets(spark):
    """Round-13 scale fix (verdict item 2): the verify stage encodes
    shingles as xxhash64 ids instead of a row_number dictionary (which
    needed a single-partition global window + an unbounded broadcast).
    Pin (a) the id assignment is injective on the gate vocabulary, (b)
    hash-set intersection sizes equal string-set intersection sizes
    for EVERY doc pair the query scores, and (c) the executed plan has
    no single-partition exchange (the old dictionary's sort) anywhere.
    """
    from pyspark.sql import functions as F

    from map_reduce_project_spark.operators.dedup import shingles_expr
    from map_reduce_project_spark.queries.dedup import (
        _injected_corpus,
        dedup_prefix_filter_q,
    )

    sf = "/root/testdata/sf0.001"
    tok = _injected_corpus(spark, sf).select(
        "doc_id",
        F.explode(F.array_distinct(shingles_expr(3, "text"))).alias("t"),
    )
    # (a) injectivity audit on the full gate vocabulary
    row = tok.agg(
        F.countDistinct("t").alias("n_t"),
        F.countDistinct(F.xxhash64("t")).alias("n_h"),
    ).collect()[0]
    assert row["n_t"] == row["n_h"], (row["n_t"], row["n_h"])

    # (b) per-pair intersection parity on the query's own output pairs
    out = dedup_prefix_filter_q(spark, sf)
    pairs = out.select("id_a", "id_b")
    ssets = tok.groupBy("doc_id").agg(
        F.collect_set("t").alias("sset"),
        F.collect_set(F.xxhash64("t")).alias("hset"),
    )
    cmp = (
        pairs.join(
            ssets.selectExpr(
                "doc_id as id_a", "sset as sa", "hset as ha"
            ),
            "id_a",
        )
        .join(
            ssets.selectExpr(
                "doc_id as id_b", "sset as sb", "hset as hb"
            ),
            "id_b",
        )
        .select(
            (
                F.size(F.array_intersect("sa", "sb"))
                == F.size(F.array_intersect("ha", "hb"))
            ).alias("ok")
        )
    )
    n_pairs = cmp.count()
    assert n_pairs > 0
    assert cmp.where(~F.col("ok")).count() == 0

    # (c) no single-partition exchange in the query plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan


def test_prefix_filter_candidates_are_lossless(spark):
    """Prefix filtering's theorem: every pair with token-set Jaccard
    >= t shares at least one prefix token (prefix = n - ceil(t*n) + 1
    rarest tokens). Check candidates ⊇ brute-force J >= 0.5 pairs on
    a vocabulary-skewed corpus."""
    import itertools

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    rows = [
        (1, "a b c d"),
        (2, "a b c e"),       # J(1,2)=3/5
        (3, "a b x y z w"),   # low overlap with 1
        (4, "q r s t"),
        (5, "q r s t"),       # exact dup of 4
        (6, "a q c d"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    tok = df.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("t")
    )
    freq = tok.groupBy("t").agg(F.count("*").alias("f"))
    sizes = tok.groupBy("doc_id").agg(F.count("*").alias("n"))
    w = Window.partitionBy("doc_id").orderBy("f", "t")
    ranked = (
        tok.join(freq, "t")
        .withColumn("rn", F.row_number().over(w))
        .join(sizes, "doc_id")
        .where(F.col("rn") <= F.col("n") - F.floor((F.col("n") + 1) / 2) + 1)
        .select("doc_id", "t")
    )
    cands = {
        (r.id_a, r.id_b)
        for r in ranked.selectExpr("t", "doc_id as id_a")
        .join(ranked.selectExpr("t", "doc_id as id_b"), "t")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        .collect()
    }
    sets = {i: set(t.split(" ")) for i, t in rows}
    truth = {
        (a, b)
        for a, b in itertools.combinations(sorted(sets), 2)
        if len(sets[a] & sets[b]) / len(sets[a] | sets[b]) >= 0.5
    }
    assert truth <= cands and (4, 5) in truth


def test_srp_is_partitioning_invariant(spark):
    from map_reduce_project_spark.operators.similarity import srp_project

    rows = [(i, [float((i * 3 + d) % 7 - 3) for d in range(8)]) for i in range(30)]
    df1 = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    df8 = df1.repartition(8)
    a = {(r.vec_id, r.j, r.proj) for r in srp_project(df1, out_dims=4).collect()}
    b = {(r.vec_id, r.j, r.proj) for r in srp_project(df8, out_dims=4).collect()}
    assert a == b and len(a) == 120


def test_pq_codes_derives_dims_from_data(spark):
    from map_reduce_project_spark.operators.similarity import pq_codes

    # 8-dim corpus, 4 subspaces of width 2 — the layout must come
    # from the data, not a hard-coded 64 (round-3 advice)
    rows = [(i, [float((i + d) % 3) for d in range(8)]) for i in range(6)]
    out = pq_codes(_vec_df(spark, rows), n_subspaces=4, n_codes=4).collect()
    assert {r["subspace"] for r in out} == {0, 1, 2, 3}
    assert len(out) == 6 * 4
    for r in out:
        if r["vec_id"] < 4:  # codebook vectors assign to themselves
            assert r["dist2"] == 0


def test_pq_codes_rejects_indivisible_dims(spark):
    import pytest

    from map_reduce_project_spark.operators.similarity import pq_codes

    rows = [(i, [float(d) for d in range(6)]) for i in range(4)]
    with pytest.raises(ValueError, match="not divisible"):
        pq_codes(_vec_df(spark, rows), n_subspaces=4, n_codes=2)


def test_image_dhash_downsamples_larger_images(spark):
    # an image wider/taller than the 9x8 dHash grid must be resized
    # before hashing so the fingerprint stays exactly 64 bits / 16 hex
    # chars (a wider grid would overflow '016x' and break the
    # shot-boundary substring parse)
    import numpy as np

    from map_reduce_project_spark.operators.multimodal import (
        DHASH_H,
        DHASH_W,
        encode_ppm,
        image_dhash,
        resize_nearest,
    )

    big = np.zeros((32, 48, 3), dtype=np.uint8)
    for y in range(32):
        for x in range(48):
            v = (x * 17 + y * 29) % 256
            big[y, x] = (v, v, v)
    payload = encode_ppm(big)
    docs = spark.createDataFrame(
        [(1, payload, "image/x-portable-pixmap")],
        "doc_id long, payload binary, modality string",
    )
    [row] = image_dhash(docs).collect()
    assert len(row["dhash"]) == 16
    # the hash equals the 9x8-resized reference computation
    small = resize_nearest(big, DHASH_W, DHASH_H).astype(np.int64)
    gray = (small[:, :, 0] * 299 + small[:, :, 1] * 587 + small[:, :, 2] * 114) // 1000
    bits = 0
    for y in range(DHASH_H):
        for x in range(DHASH_W - 1):
            if gray[y, x] > gray[y, x + 1]:
                bits |= 1 << (y * (DHASH_W - 1) + x)
    assert row["dhash"] == format(bits, "016x")


def test_png_roundtrip_all_filters_and_alpha():
    import numpy as np

    from map_reduce_project_spark.operators.multimodal import (
        _decode_png_pixels,
        decode_media,
        encode_png,
    )

    rng = np.random.RandomState(3)
    for h, w in [(1, 1), (4, 7), (9, 8)]:
        px = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
        for alpha in (None, rng.randint(0, 256, (h, w)).astype(np.uint8)):
            for ft in (None, [0] * h, [1] * h, [2] * h, [3] * h, [4] * h):
                b = encode_png(px, alpha=alpha, row_filters=ft)
                assert (_decode_png_pixels(b) == px).all()
                # header metadata parser agrees with the pixel decoder
                meta = decode_media(b, "image/png")
                assert (meta["width"], meta["height"]) == (w, h)


def test_png_decoder_rejects_unsupported():
    import struct
    import zlib

    import pytest

    from map_reduce_project_spark.operators.multimodal import (
        _PNG_SIG,
        _decode_png_pixels,
        _png_chunk,
    )

    # 16-bit depth became a REAL tier in round 8: an all-zero 2x2
    # 16-bit stream decodes to zeros (high-byte strip), no garbling
    ihdr = struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0)
    b = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(b"\x00" * 26))
        + _png_chunk(b"IEND", b"")
    )
    assert (_decode_png_pixels(b) == 0).all()
    # a 24-bit depth is spec-illegal and must still fail loudly
    bad24 = (
        _PNG_SIG
        + _png_chunk(
            b"IHDR", struct.pack(">IIBBBBB", 2, 2, 24, 2, 0, 0, 0)
        )
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(NotImplementedError, match="bit depth"):
        _decode_png_pixels(bad24)
    with pytest.raises(ValueError, match="not a PNG"):
        _decode_png_pixels(b"junk")


def test_png_decode_through_generic_pixel_path(spark):
    # image_dhash and resize stages accept PNG payloads transparently
    # now that the decoder table has a real entry
    from map_reduce_project_spark.operators.multimodal import (
        gradient_png_image,
        image_dhash,
    )

    m, payload = gradient_png_image(7)
    docs = spark.createDataFrame(
        [(7, payload, m)], "doc_id long, payload binary, modality string"
    )
    [row] = image_dhash(docs).collect()
    assert len(row["dhash"]) == 16


def test_bpe_train_greedy_leftmost_and_tiebreak(spark):
    from map_reduce_project_spark.operators.text import bpe_train

    docs = spark.createDataFrame(
        [(1, "a a a a b c a a"), (2, "b c b c a a")],
        "doc_id long, text string",
    )
    out = {r["merge_rank"]: r for r in bpe_train(docs, 3).collect()}
    # round 1: (a,a) appears 5 times COUNTING overlaps (the count is
    # over adjacent pairs, like the reference algorithm)
    assert (out[1]["lhs"], out[1]["rhs"], out[1]["pair_count"]) == ("a", "a", 5)
    # greedy-leftmost application: "a a a a" -> "aa aa" (not 3 merges),
    # so round 2's best is (b,c)=3, and round 3 sees doc2 as
    # "bc bc aa" -> (bc,aa)=2 wins the tie against (aa,aa)=1
    assert (out[2]["lhs"], out[2]["rhs"], out[2]["pair_count"]) == ("b", "c", 3)
    assert (out[3]["merged"], out[3]["pair_count"]) == ("bcaa", 2)


def test_bpe_train_exhausts_on_tiny_input(spark):
    from map_reduce_project_spark.operators.text import bpe_train

    docs = spark.createDataFrame([(1, "x y")], "doc_id long, text string")
    rows = bpe_train(docs, 5).collect()
    # round 1 merges (x,y) -> "xy"; round 2 has no pairs -> stop early
    assert len(rows) == 1 and rows[0]["merged"] == "xy"


def test_gif_decoder_matches_spec_golden():
    # the canonical 1x1 white GIF from the spec literature: decoding
    # it pins the LZW decoder (widths, clear/EOI) against GIF89a
    # itself, independent of our own encoder
    from map_reduce_project_spark.operators.multimodal import (
        _decode_gif_pixels,
    )

    golden = bytes.fromhex(
        "47494638396101000100800000ffffff000000"
        "21f90400000000002c00000000010001000002024401003b"
    )
    assert _decode_gif_pixels(golden).tolist() == [[[255, 255, 255]]]


def test_gif_lzw_roundtrip_covers_width_growth_and_reset():
    import numpy as np

    from map_reduce_project_spark.operators.multimodal import (
        _gif_lzw_compress,
        _gif_lzw_decompress,
    )

    rng = np.random.RandomState(7)
    cases = [
        b"\x00",
        b"a" * 500,  # KwKwK chain
        bytes(range(256)) * 4,  # width growth past 9 bits
        rng.randint(0, 256, 60000, dtype=np.uint8).tobytes(),  # 4096-slot reset
    ]
    for data in cases:
        assert _gif_lzw_decompress(_gif_lzw_compress(data, 8), 8) == data
    for data in [b"\x00\x01\x02\x03" * 50, bytes([0, 1] * 5000)]:
        assert _gif_lzw_decompress(_gif_lzw_compress(data, 2), 2) == data


def test_gif_gradient_roundtrips_exact_pixels():
    import numpy as np

    from map_reduce_project_spark.operators.multimodal import (
        _decode_gif_pixels,
        gradient_gif_image,
    )

    for did in (0, 19, 137, 499):
        _, payload = gradient_gif_image(did)
        px = _decode_gif_pixels(payload)
        h, w, _ = px.shape
        assert (h, w) == (12 + (did // 16) % 8, 16 + did % 16)
        xs = np.arange(w)
        ys = np.arange(h)
        idx = (did + 3 * xs[None, :] + 5 * ys[:, None]) % 256
        assert (px[:, :, 0] == idx).all()
        assert (px[:, :, 1] == (7 * idx) % 256).all()
        assert (px[:, :, 2] == (13 * idx) % 256).all()


def test_jpeg_dc_codec_exact_blocks():
    import numpy as np

    from map_reduce_project_spark.operators.multimodal import (
        decode_jpeg_dc,
        encode_jpeg_dc,
        gradient_jpeg_image,
    )

    for did in (0, 3, 137, 499):
        _, payload = gradient_jpeg_image(did)
        px = decode_jpeg_dc(payload)
        h, w, _ = px.shape
        assert (h, w) == (8 * (1 + (did // 4) % 3), 8 * (2 + did % 4))
        for by in range(h // 8):
            for bx in range(w // 8):
                v = (did + 11 * bx + 17 * by) % 256
                assert (px[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] == v).all()
    # extreme DC swings exercise negative diffs + EXTEND sign rule
    g = np.zeros((8, 24), dtype=np.uint8)
    g[:, :8], g[:, 8:16], g[:, 16:] = 200, 3, 255
    px = decode_jpeg_dc(encode_jpeg_dc(g))
    assert (px[:, :8, 0] == 200).all()
    assert (px[:, 8:16, 0] == 3).all()
    assert (px[:, 16:, 0] == 255).all()


def test_jpeg_color_dc_fixed_point_conversion():
    import numpy as np

    from map_reduce_project_spark.operators.multimodal import (
        decode_jpeg_dc,
        encode_jpeg_dc,
    )

    h, w = 16, 24

    def plane(f):
        out = np.empty((h, w), dtype=np.uint8)
        for by in range(h // 8):
            for bx in range(w // 8):
                out[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = f(bx, by) % 256
        return out

    y = plane(lambda bx, by: 40 + 50 * bx + 30 * by)
    cb = plane(lambda bx, by: 10 + 70 * bx)
    cr = plane(lambda bx, by: 200 + 90 * by)
    px = decode_jpeg_dc(encode_jpeg_dc(y, cb, cr))

    def expect(Y, Cb, Cr):
        c_b, c_r = Cb - 128, Cr - 128
        r = Y + ((91881 * c_r + 32768) >> 16)
        g = Y + ((-22554 * c_b - 46802 * c_r + 32768) >> 16)
        b = Y + ((116130 * c_b + 32768) >> 16)
        return [max(0, min(255, v)) for v in (r, g, b)]

    for by in range(h // 8):
        for bx in range(w // 8):
            got = px[by * 8, bx * 8].tolist()
            want = expect(
                int(y[by * 8, bx * 8]),
                int(cb[by * 8, bx * 8]),
                int(cr[by * 8, bx * 8]),
            )
            assert got == want
    # 4:2:0/4:2:2/4:1:1/4:4:0 decode now; the remaining exotic
    # layouts (3x1 here) stay honestly gated
    import pytest as _pytest
    import struct as _st

    sub = (
        b"\xff\xd8"
        + b"\xff\xc0"
        + _st.pack(">H", 17)
        + _st.pack(">BHHB", 8, 16, 16, 3)
        + bytes([1, 0x31, 0, 2, 0x11, 0, 3, 0x11, 0])
    )
    with _pytest.raises(NotImplementedError):
        decode_jpeg_dc(sub)


def test_flac_constant_codec_and_crc_verification():
    from map_reduce_project_spark.operators.multimodal import (
        _crc8_flac,
        decode_flac_constant,
        tone_flac_audio,
    )

    assert _crc8_flac(b"123456789") == 0xF4  # published poly-0x07 vector
    for did in (0, 5, 137):
        _, payload = tone_flac_audio(did)
        s = decode_flac_constant(payload)
        nf = 2 + did % 3
        assert len(s) == 256 * nf
        for f in range(nf):
            assert (s[f * 256 : (f + 1) * 256]
                    == (7 * did + 13 * f) % 4096 - 2048).all()
    # a flipped sample bit parses fine but MUST fail the frame CRC-16
    import pytest as _pytest

    _, payload = tone_flac_audio(3)
    bad = bytearray(payload)
    bad[-4] ^= 0x01
    with _pytest.raises(ValueError, match="CRC-16"):
        decode_flac_constant(bytes(bad))


def test_codec_error_contracts_on_corrupt_input():
    import pytest as _pytest

    from map_reduce_project_spark.operators.multimodal import (
        _gif_lzw_decompress,
        _JpegBitReader,
    )

    # a scan ending on a bare 0xFF must raise the decoder's ValueError
    # contract, not a TypeError from formatting None (regression)
    with _pytest.raises(ValueError, match="truncated"):
        _JpegBitReader(b"\xff").bit()
    # a first code past the table range must be the decoder's
    # 'corrupt LZW stream' ValueError, not a bare KeyError (regression)
    with _pytest.raises(ValueError, match="corrupt LZW"):
        _gif_lzw_decompress(b"\xff\xff\xff", 8)


def test_avi_container_roundtrip_and_index_integrity():
    import numpy as np
    import pytest as _pytest

    from map_reduce_project_spark.operators.multimodal import (
        decode_avi_frames,
        gradient_avi_video,
    )

    for did in (0, 9, 137):  # did=9 -> width 17: stride padding path
        _, payload = gradient_avi_video(did)
        frames = decode_avi_frames(payload)
        w, h = 8 + did % 8, 6 + (did // 8) % 4
        assert len(frames) == 2 + did % 3
        xs = np.arange(w)
        ys = np.arange(h)
        grid = 3 * xs[None, :] + 5 * ys[:, None]
        for f, px in enumerate(frames):
            assert px.shape == (h, w, 3)
            for ci, k in enumerate((1, 7, 13)):
                assert (px[:, :, ci] == (did * k + 2 * f + grid) % 256).all()
    # a desynced idx1 entry must raise, not decode silently
    _, payload = gradient_avi_video(3)
    bad = bytearray(payload)
    i = payload.rfind(b"idx1")
    bad[i + 8 + 12] ^= 0x01
    with _pytest.raises(ValueError, match="idx1"):
        decode_avi_frames(bytes(bad))


def test_mjpeg_avi_roundtrip_and_codec_boundaries():
    import numpy as np
    import pytest as _pytest

    from map_reduce_project_spark.operators.multimodal import (
        decode_avi_frames,
        encode_avi_mjpeg,
        encode_jpeg_dc,
        gradient_mjpeg_video,
    )

    # exact per-frame recovery through the real T.81 entropy layer
    for did in (0, 5, 77):
        _, payload = gradient_mjpeg_video(did)
        frames = decode_avi_frames(payload)
        w, h = 8 * (2 + did % 4), 8 * (1 + (did // 4) % 3)
        assert len(frames) == 2 + did % 3
        for f, px in enumerate(frames):
            assert px.shape == (h, w, 3)
            for by in range(h // 8):
                for bx in range(w // 8):
                    want = (did + 11 * bx + 17 * by + 7 * f) % 256
                    assert (px[by * 8 : by * 8 + 8,
                               bx * 8 : bx * 8 + 8, :] == want).all()

    # an unknown compression fourcc must stay the honest boundary
    _, payload = gradient_mjpeg_video(2)
    bad = bytearray(payload)
    i = payload.find(b"strf")
    bad[i + 8 + 16 : i + 8 + 20] = b"H264"
    with _pytest.raises(NotImplementedError, match="inter-frame"):
        decode_avi_frames(bytes(bad))

    # an MJPG stream whose embedded JPEG dims disagree with avih
    # must raise, not return mis-sized frames
    j = encode_jpeg_dc(np.full((8, 8), 42, dtype=np.uint8))
    with _pytest.raises(ValueError, match="dims"):
        decode_avi_frames(encode_avi_mjpeg([j], 16, 8))

    # a desynced idx1 still raises on the 00dc path
    _, payload = gradient_mjpeg_video(3)
    bad = bytearray(payload)
    i = payload.rfind(b"idx1")
    bad[i + 8 + 12] ^= 0x01
    with _pytest.raises(ValueError, match="idx1"):
        decode_avi_frames(bytes(bad))


def test_jpeg_420_upsample_alignment():
    import numpy as np

    from map_reduce_project_spark.operators.multimodal import (
        decode_jpeg_dc,
        gradient_jpeg_420_image,
    )

    # distinct chroma per macroblock: a wrong upsample alignment or
    # macroblock raster order shifts whole 8x8 regions
    for did in (0, 4, 137):
        _, payload = gradient_jpeg_420_image(did)
        px = decode_jpeg_dc(payload)
        h, w = 16 * (1 + (did // 3) % 2), 16 * (1 + did % 3)
        assert px.shape == (h, w, 3)
        fd = lambda x: x >> 16
        clamp = lambda v: max(0, min(255, v))
        for yy, xx in [(0, 0), (8, 8), (15, 15), (h - 1, w - 1)]:
            yv = (did + 9 * (xx // 8) + 21 * (yy // 8)) % 256
            cbv = (3 * did + 17 * (xx // 16)) % 256 - 128
            crv = (5 * did + 27 * (yy // 16)) % 256 - 128
            exp = [
                clamp(yv + fd(91881 * crv + 32768)),
                clamp(yv + fd(-22554 * cbv - 46802 * crv + 32768)),
                clamp(yv + fd(116130 * cbv + 32768)),
            ]
            assert px[yy, xx].tolist() == exp, (did, yy, xx)


def test_mp4_box_walk_metadata():
    from support import minimal_mp4

    from map_reduce_project_spark.operators.multimodal import (
        _parse_mp4,
        decode_media,
    )

    import pytest as _pytest

    for did in (0, 7, 63, 499):
        m, b = minimal_mp4(did)
        assert decode_media(b, m) == {
            "width": 64 + 16 * (did % 8),
            "height": 48 + 16 * ((did // 8) % 6),
        }
    with _pytest.raises(ValueError):
        _parse_mp4(b"\x00\x00\x00\x08free")


def test_gif_lzw_roundtrip_property():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from map_reduce_project_spark.operators.multimodal import (
        _gif_lzw_compress,
        _gif_lzw_decompress,
    )

    @settings(max_examples=200, deadline=None)
    @given(st.binary(min_size=0, max_size=4000))
    def roundtrip(data):
        assert _gif_lzw_decompress(_gif_lzw_compress(data, 8), 8) == data

    roundtrip()


def test_jpeg_ac_entropy_and_idct():
    import numpy as np

    from map_reduce_project_spark.operators.multimodal import (
        _JPEG_ZIGZAG,
        _idct_int,
        decode_jpeg_dc,
        encode_jpeg_gray_coeffs,
    )

    rng = np.random.RandomState(2)
    blocks = []
    for r in range(2):
        row = []
        for c in range(3):
            coef = np.zeros((8, 8), dtype=np.int64)
            coef[0, 0] = int(rng.randint(-200, 200))
            coef[0, 1] = int(rng.randint(-80, 80))
            coef[1, 0] = int(rng.randint(-80, 80))
            # deep zigzag position: forces two ZRL symbols
            coef.reshape(-1)[_JPEG_ZIGZAG[40]] = int(rng.randint(1, 50))
            # and a dense block in one corner: many consecutive ACs
            if (r, c) == (1, 2):
                coef[:4, :4] = rng.randint(-30, 30, (4, 4))
            row.append(coef)
        blocks.append(row)
    px = decode_jpeg_dc(encode_jpeg_gray_coeffs(blocks, q00=1))
    for r in range(2):
        for c in range(3):
            expected = np.clip(_idct_int(blocks[r][c]), 0, 255)
            assert (px[r * 8 : r * 8 + 8, c * 8 : c * 8 + 8, 0] == expected).all()


def test_flac_fixed_predictor_rice_roundtrip():
    from map_reduce_project_spark.operators.multimodal import (
        decode_flac_constant,
        encode_flac_fixed,
        melody_flac_audio,
    )

    # every fixed order 0..4 reconstructs exactly through Rice decode
    frames = [[100 + 3 * t + ((t * 7) % 5) - 2 for t in range(256)]]
    for order in range(5):
        s = decode_flac_constant(encode_flac_fixed(frames, order=order, k=5))
        assert s.tolist() == frames[0], order
    # negative residuals + multi-frame warmup resets
    for did in (0, 7, 137):
        _, payload = melody_flac_audio(did)
        s = decode_flac_constant(payload)
        nf = 1 + did % 2
        for f in range(nf):
            base = did % 1000 + f
            slope = (did % 50) - 25
            exp = [
                base + slope * t + ((13 * t + did) % 7) - 3
                for t in range(256)
            ]
            assert s[f * 256 : (f + 1) * 256].tolist() == exp


def test_idct_w_table_golden():
    # the defined transform's constants are part of the decoder's
    # SPEC (the oracle inlines them): pin all 64 values
    import numpy as np

    from map_reduce_project_spark.operators.multimodal import _IDCT_W

    expected = np.array(
        [
            [362, 362, 362, 362, 362, 362, 362, 362],
            [502, 426, 284, 100, -100, -284, -426, -502],
            [473, 196, -196, -473, -473, -196, 196, 473],
            [426, -100, -502, -284, 284, 502, 100, -426],
            [362, -362, -362, 362, 362, -362, -362, 362],
            [284, -502, 100, 426, -426, -100, 502, -284],
            [196, -473, 473, -196, -196, 473, -473, 196],
            [100, -284, 426, -502, 502, -426, 284, -100],
        ],
        dtype=np.int64,
    )
    assert (_IDCT_W == expected).all()


def test_flac_stereo_decorrelation_all_assignments():
    from map_reduce_project_spark.operators.multimodal import (
        decode_flac_constant,
        encode_flac_stereo,
    )

    # every channel assignment's decorrelation inverse is an exact
    # integer identity; frames use FIXED order-1 subframes with
    # TWO-partition Rice, so the partition walk is exercised too
    L = [100 + 3 * t + ((t * 5) % 9) - 4 for t in range(256)]
    R = [-50 + 2 * t + ((t * 11) % 7) - 3 for t in range(256)]
    for mode in ("independent", "left_side", "right_side", "mid_side"):
        s = decode_flac_constant(encode_flac_stereo(L, R, mode))
        assert s[0::2].tolist() == L, mode
        assert s[1::2].tolist() == R, mode


def test_flac_verbatim_and_lpc_subframes():
    from support import encode_flac_mono_subframe

    from map_reduce_project_spark.operators.multimodal import (
        decode_flac_constant,
    )

    samp = [((t * 37 + 11) % 4001) - 2000 for t in range(256)]
    out = decode_flac_constant(encode_flac_mono_subframe("verbatim", samp))
    assert out.tolist() == samp
    # LPC: the quantized-coefficient prediction is an exact integer
    # shift by spec — decode must reproduce the encoder's residual
    # chain bit for bit
    qlp = [29, -18, 7]
    samp = [300 + ((t * 13) % 23) - 11 + (t % 3) for t in range(256)]
    payload = encode_flac_mono_subframe(
        "lpc", samp, qlp=qlp, shift=5, precision=6, k=9
    )
    assert decode_flac_constant(payload).tolist() == samp


def test_jpeg_restart_intervals():
    import pytest as _pytest

    from map_reduce_project_spark.operators.multimodal import (
        decode_jpeg_dc,
        gradient_jpeg_ac_image,
    )

    # the AC fixture carries a 2-MCU restart interval: DRI + RSTn
    # markers with per-interval DC predictor resets must decode to
    # the same pixels (framing-independent), and a marker with the
    # wrong cycle number must raise
    _, payload = gradient_jpeg_ac_image(3)
    assert b"\xff\xdd" in payload and b"\xff\xd0" in payload
    decode_jpeg_dc(payload)  # exactness is pinned by the gate query
    bad = bytearray(payload)
    bad[bad.index(b"\xff\xd0") + 1] = 0xD3
    with _pytest.raises(ValueError, match="restart"):
        decode_jpeg_dc(bytes(bad))


def test_flac_escaped_partition_decodes_verbatim_residuals():
    import struct

    from map_reduce_project_spark.operators.multimodal import (
        _BitWriterMSB,
        _crc8_flac,
        _crc16_flac,
        decode_flac_constant,
    )

    # hand-built frame: FIXED order-0 subframe whose single Rice
    # partition is ESCAPED (parameter 0b1111) to 7-bit verbatim
    # residuals — the spec's pressure valve for incompressible audio
    samp = [((t * 19) % 61) - 30 for t in range(256)]
    out = bytearray(b"fLaC")
    info = bytearray()
    info += struct.pack(">HH", 256, 256)
    info += b"\x00\x00\x00" * 2
    info += ((44100 << 44) | (15 << 36) | 256).to_bytes(8, "big")
    info += b"\x00" * 16
    out += bytes([0x80]) + len(info).to_bytes(3, "big") + bytes(info)
    bw = _BitWriterMSB()
    for v, n in [
        (0b11111111111110, 14), (0, 1), (0, 1), (0b1000, 4),
        (0b1001, 4), (0, 4), (0b100, 3), (0, 1), (0, 8),
    ]:
        bw.put(v, n)
    bw.align()
    header = bw.bytes()
    frame = bytearray(header)
    frame.append(_crc8_flac(header))
    bw2 = _BitWriterMSB()
    bw2.put(0, 1)
    bw2.put(0b001000, 6)
    bw2.put(0, 1)
    bw2.put(0, 2)
    bw2.put(0, 4)
    bw2.put(0b1111, 4)
    bw2.put(7, 5)
    for v in samp:
        bw2.put(v & 0x7F, 7)
    bw2.align()
    frame += bw2.bytes()
    frame += struct.pack(">H", _crc16_flac(bytes(frame)))
    out += bytes(frame)
    assert decode_flac_constant(bytes(out)).tolist() == samp


def test_exif_decode_contracts():
    import pytest as _pytest

    from map_reduce_project_spark.operators.multimodal import (
        decode_exif,
        encode_exif_jpeg,
        exif_jpeg_fixture,
    )

    # both endiannesses roundtrip
    for did in (0, 1, 13, 28):
        _, p = exif_jpeg_fixture(did)
        m = decode_exif(p)
        assert m["byte_order"] == ("MM" if did % 2 else "II")
        assert m["orientation"] == 1 + did % 8
        assert m["make"] == f"Maker{did % 5}"
    # in-line short ASCII (<= 4 bytes incl. NUL) stays in the value
    # field — no offset
    p = encode_exif_jpeg(3, "abc", "x", "2024:01:01 00:00:00")
    m = decode_exif(p)
    assert m["make"] == "abc" and m["model"] == "x"
    # error contracts
    with _pytest.raises(ValueError, match="not a JPEG"):
        decode_exif(b"nope")
    with _pytest.raises(ValueError, match="no Exif"):
        decode_exif(b"\xff\xd8\xff\xd9")
    bad_bom = p.replace(b"Exif\x00\x00II", b"Exif\x00\x00XX")
    with _pytest.raises(ValueError, match="byte order"):
        decode_exif(bad_bom)


def test_jpeg_progressive_matches_baseline_bit_for_bit():
    # SOF2 progressive decode: the 6-scan script (spectral selection,
    # successive approximation with two AC refinement passes, EOBRUN)
    # must reconstruct the SAME quantized coefficients as baseline —
    # progressive coding is lossless over them, so pixels are
    # bit-identical
    import numpy as np

    from map_reduce_project_spark.operators.multimodal import (
        decode_jpeg_dc,
        encode_jpeg_gray_coeffs,
        encode_jpeg_progressive_gray,
        gradient_jpeg_ac_image,
        gradient_jpeg_progressive_image,
    )

    for doc_id in (0, 1, 7, 15, 16, 63, 64, 255, 256, 511):
        _, base = gradient_jpeg_ac_image(doc_id)
        _, prog = gradient_jpeg_progressive_image(doc_id)
        assert prog[2:4] != base[2:4] or b"\xff\xc2" in prog
        assert np.array_equal(decode_jpeg_dc(base), decode_jpeg_dc(prog))

    # adversarial coefficient shapes: dense blocks (ZRL inside
    # refinement), all-zero blocks (EOBRUN spanning blocks), lone
    # deep coefficients (long leading zero runs), sign boundaries
    rng = np.random.RandomState(42)
    for _ in range(40):
        bh, bwn = rng.randint(1, 4), rng.randint(1, 5)
        blocks = []
        for _by in range(bh):
            row = []
            for _bx in range(bwn):
                coef = np.zeros((8, 8), dtype=np.int64)
                style = rng.randint(4)
                if style == 0:
                    pass  # all-zero: pure EOBRUN traffic
                elif style == 1:
                    coef.reshape(-1)[63] = rng.choice([-1, 1, -3, 3])
                elif style == 2:
                    nnz = rng.randint(1, 64)
                    pos = rng.choice(64, size=nnz, replace=False)
                    coef.reshape(-1)[pos] = rng.randint(-200, 201, size=nnz)
                else:
                    coef[:] = rng.choice([-1, 1, 2, -2, 4, -4], size=(8, 8))
                coef[0, 0] = rng.randint(-1000, 1001)
                row.append(coef)
            blocks.append(row)
        a = decode_jpeg_dc(encode_jpeg_gray_coeffs(blocks, q00=1))
        b = decode_jpeg_dc(encode_jpeg_progressive_gray(blocks, q00=1))
        assert np.array_equal(a, b)


def test_jpeg_progressive_honest_gates():
    # subsampled progressive frames and restart intervals inside
    # progressive scans are out of scope and must raise, not decode
    # garbage
    import struct as st

    import pytest as _pytest

    from map_reduce_project_spark.operators.multimodal import (
        decode_jpeg_dc,
    )

    sub_sof2 = (
        b"\xff\xd8"
        + b"\xff\xc2" + st.pack(">H", 17)
        + st.pack(">BHHB", 8, 16, 16, 3)
        + bytes([1, 0x22, 0, 2, 0x11, 0, 3, 0x11, 0])  # 4:2:0
    )
    with _pytest.raises(NotImplementedError, match="subsampled"):
        decode_jpeg_dc(sub_sof2)

    dri_sof2 = (
        b"\xff\xd8"
        + b"\xff\xc2" + st.pack(">H", 11)
        + st.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0])
        + b"\xff\xdd" + st.pack(">HH", 4, 2)  # DRI = 2
    )
    with _pytest.raises(NotImplementedError, match="restart"):
        decode_jpeg_dc(dri_sof2)


def test_jpeg_411_440_decode_exact():
    # the two remaining subsampling layouts: 4:1:1 (4-wide MCU strip,
    # horizontal-only chroma replication) and 4:4:0 (stacked MCU
    # column, vertical-only replication) — decoded pixels must match
    # the fixtures' closed-form block math exactly
    import numpy as np

    from map_reduce_project_spark.operators.multimodal import (
        decode_jpeg_dc,
        gradient_jpeg_411_image,
        gradient_jpeg_440_image,
    )

    def fd(x):
        return x >> 16

    for doc_id in (0, 1, 2, 5, 6, 11, 37):
        for gen, dims, yf, cf in (
            (
                gradient_jpeg_411_image,
                lambda i: (8 * (1 + (i // 2) % 3), 32 * (1 + i % 2)),
                lambda i, bx, by: (i + 7 * bx + 19 * by) % 256,
                lambda i, bx, by: (bx // 4, by),
            ),
            (
                gradient_jpeg_440_image,
                lambda i: (16 * (1 + (i // 3) % 2), 8 * (1 + i % 3)),
                lambda i, bx, by: (i + 23 * bx + 9 * by) % 256,
                lambda i, bx, by: (bx, by // 2),
            ),
        ):
            _, payload = gen(doc_id)
            px = decode_jpeg_dc(payload)
            h, w = dims(doc_id)
            assert px.shape == (h, w, 3)
            is_411 = gen is gradient_jpeg_411_image
            for by in range(h // 8):
                for bx in range(w // 8):
                    yv = yf(doc_id, bx, by)
                    cx, cy = cf(doc_id, bx, by)
                    if is_411:
                        cb = (3 * doc_id + 13 * cx + 5 * cy) % 256 - 128
                        cr = (5 * doc_id + 11 * cx + 3 * cy) % 256 - 128
                    else:
                        cb = (3 * doc_id + 7 * cx + 17 * cy) % 256 - 128
                        cr = (5 * doc_id + 13 * cx + 27 * cy) % 256 - 128
                    want = [
                        min(255, max(0, yv + fd(91881 * cr + 32768))),
                        min(255, max(0, yv + fd(-22554 * cb - 46802 * cr + 32768))),
                        min(255, max(0, yv + fd(116130 * cb + 32768))),
                    ]
                    block = px[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
                    assert (block == np.array(want)).all(), (doc_id, bx, by)


def test_flac_lpc_multipartition_roundtrip():
    # LPC subframes with four Rice partitions of mixed parameters
    # including an ESCAPED verbatim-width partition: FLAC is lossless,
    # so decode must reproduce the melody formula bit-for-bit
    import numpy as np

    from map_reduce_project_spark.operators.multimodal import (
        decode_flac_constant,
        encode_flac_lpc_multipart,
        melody_flac_lpc_audio,
    )

    for doc_id in (0, 1, 7, 12, 99, 255):
        _, payload = melody_flac_lpc_audio(doc_id)
        got = decode_flac_constant(payload)
        n = 256 * (1 + doc_id % 2)
        want = np.array(
            [
                (doc_id % 800) + 2 * t + ((7 * t + doc_id) % 9) - 4
                for t in range(n)
            ]
        )
        assert np.array_equal(got, want), doc_id

    # adversarial residuals at the escape-width boundary (+-31 with
    # nb=6) and across partition edges
    samp = [0] * 256
    for t in range(256):
        samp[t] = (t % 2) * 31 - 15  # residual swings the full nb=6 range
    b = encode_flac_lpc_multipart(
        [samp], qlp=[1], shift=0, precision=2,
        k_per_part=[("esc", 7), 5, ("esc", 7), 5], part_order=2,
    )
    assert np.array_equal(decode_flac_constant(b), np.array(samp))


def test_mjpeg_random_roundtrip_property():
    """Randomized MJPEG AVI roundtrip: arbitrary block-constant gray
    values (the full 0..255 DC range — every Huffman DC size category
    0..8 and both EXTEND sign branches), random dims and frame counts.
    The fixed-id fixture tests can only reach the DC diffs the
    gradient formula produces; this drives the whole diff range,
    including the maximum-magnitude first-block diff (value-128)."""
    import random

    import numpy as np

    from map_reduce_project_spark.operators.multimodal import (
        decode_avi_frames,
        encode_avi_mjpeg,
        encode_jpeg_dc,
    )

    for seed in range(8):
        rng = random.Random(seed)
        bw = rng.randrange(1, 6)  # blocks wide
        bh = rng.randrange(1, 4)  # blocks high
        n_frames = rng.randrange(1, 5)
        w, h = 8 * bw, 8 * bh
        vals = [
            [[rng.randrange(256) for _ in range(bw)] for _ in range(bh)]
            for _ in range(n_frames)
        ]
        jpegs = []
        for fv in vals:
            gray = np.empty((h, w), dtype=np.uint8)
            for by in range(bh):
                for bx in range(bw):
                    gray[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = fv[by][bx]
            jpegs.append(encode_jpeg_dc(gray))
        frames = decode_avi_frames(encode_avi_mjpeg(jpegs, w, h))
        assert len(frames) == n_frames
        for fv, px in zip(vals, frames):
            assert px.shape == (h, w, 3)
            for by in range(bh):
                for bx in range(bw):
                    blk = px[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8, :]
                    assert (blk == fv[by][bx]).all(), (seed, by, bx)


def test_png_palette_and_grayscale_decode_round_trip():
    # round 7: indexed-color (type 3) at every legal palette depth
    # and 8-bit grayscale (type 0). The palette encoder is only the
    # test harness — the DECODER is the product — so each depth is
    # checked against the closed-form pixel formula, not just the
    # encoder round trip, and the pad bits of sub-byte scanlines
    # must never leak into the image.
    import struct
    import zlib

    import numpy as np

    from map_reduce_project_spark.operators.multimodal import (
        _PNG_SIG,
        _decode_png_pixels,
        _png_chunk,
        encode_palette_png,
        palette_png_image,
    )

    for doc_id in range(45):  # covers depths 2/4/8 x filter cycles
        _, b = palette_png_image(doc_id)
        px = _decode_png_pixels(b)
        w = 2 + doc_id % 7
        h = 2 + (doc_id // 7) % 5
        depth = {0: 4, 1: 8, 2: 2}[doc_id % 3]
        nc = 1 << depth
        xs = np.arange(w)
        ys = np.arange(h)
        idx = (doc_id + 3 * xs[None, :] + 5 * ys[:, None]) % nc
        i = np.arange(nc)
        pal = np.stack([i % 256, (7 * i) % 256, (13 * i) % 256], axis=1)
        assert px.shape == (h, w, 3)
        assert (px == pal[idx]).all(), doc_id

    # depth 1 (not in the gate generator's rotation, still a legal
    # tier): 1-bit checkerboard, width NOT a multiple of 8 so the
    # last byte carries pad bits
    idx = (np.add.outer(np.arange(3), np.arange(5)) % 2).astype(np.uint8)
    pal = np.array([[0, 0, 0], [255, 10, 20]], dtype=np.uint8)
    px = _decode_png_pixels(encode_palette_png(idx, pal, depth=1))
    assert (px == pal[idx]).all()

    # 8-bit grayscale replicates the gray channel into RGB
    g = np.arange(12, dtype=np.uint8).reshape(3, 4)
    raw = b"".join(b"\x00" + g[y].tobytes() for y in range(3))
    png = (
        _PNG_SIG
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 3, 8, 0, 0, 0, 0))
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )
    px = _decode_png_pixels(png)
    assert px.shape == (3, 4, 3) and all(
        (px[:, :, c] == g).all() for c in range(3)
    )

    # fail-loud tiers: gray-alpha (color type 4) still raises;
    # 16-bit grayscale became real in round 8 (high-byte strip)
    import pytest as _pytest

    bad = (
        _PNG_SIG
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 3, 8, 4, 0, 0, 0))
        + _png_chunk(b"IEND", b"")
    )
    with _pytest.raises(NotImplementedError):
        _decode_png_pixels(bad)
    g16 = (np.arange(12, dtype=np.uint16).reshape(3, 4) * 5000) % 65536
    stream = bytearray()
    for row in g16.astype(">u2"):
        stream.append(0)
        stream += row.tobytes()
    png_g16 = (
        _PNG_SIG
        + _png_chunk(
            b"IHDR", struct.pack(">IIBBBBB", 4, 3, 16, 0, 0, 0, 0)
        )
        + _png_chunk(b"IDAT", zlib.compress(bytes(stream)))
        + _png_chunk(b"IEND", b"")
    )
    gx = _decode_png_pixels(png_g16)
    want = (g16 >> 8).astype(np.uint8)
    assert all((gx[:, :, c] == want).all() for c in range(3))


def test_bmp_8bit_indexed_decode():
    # round 7: the BMP indexed tier (BGRX color table, biClrUsed=0
    # meaning 256, 4-byte row padding, bottom-up order) — checked
    # against the closed-form palette/index formulas, same discipline
    # as the PNG palette pin
    import struct

    import numpy as np

    from map_reduce_project_spark.operators.multimodal import (
        _decode_bmp_pixels,
    )

    w, h = 5, 3
    idx = (np.add.outer(np.arange(h), np.arange(w)) % 7).astype(np.uint8)
    pal = np.stack(
        [
            np.arange(256) % 256,
            (np.arange(256) * 7) % 256,
            (np.arange(256) * 13) % 256,
        ],
        axis=1,
    ).astype(np.uint8)
    tbl = b"".join(
        bytes([pal[i, 2], pal[i, 1], pal[i, 0], 0]) for i in range(256)
    )
    stride = (w + 3) & ~3
    rows = b"".join(
        idx[y].tobytes() + b"\x00" * (stride - w)
        for y in range(h - 1, -1, -1)
    )
    data_off = 14 + 40 + 1024
    bmp = (
        b"BM"
        + struct.pack("<IHHI", data_off + stride * h, 0, 0, data_off)
        + struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, 8, 0, stride * h, 2835, 2835, 0, 0
        )
        + tbl
        + rows
    )
    px = _decode_bmp_pixels(bmp)
    assert px.shape == (h, w, 3) and (px == pal[idx]).all()

    # 4-bit RLE etc. stay fail-loud
    import pytest as _pytest

    bad = bytearray(bmp)
    struct.pack_into("<H", bad, 28, 4)
    with _pytest.raises(NotImplementedError):
        _decode_bmp_pixels(bytes(bad))

    # round-8 ADVICE pins: a header truncated between 34 and 50 bytes
    # raises the decoder's ValueError contract (not struct.error), and
    # a BITMAPCOREHEADER (hdr_size=12, 3-byte RGB palette) fails loudly
    # instead of silently mis-decoding its palette
    with _pytest.raises(ValueError):
        _decode_bmp_pixels(bytes(bmp[:40]))
    core = bytearray(bmp)
    struct.pack_into("<I", core, 14, 12)
    with _pytest.raises(NotImplementedError):
        _decode_bmp_pixels(bytes(core))


def test_ivf_index_search_edge_cases(spark, sf0001, tmp_path):
    # round-7 self-audit pins: an EMPTY query batch returns an empty
    # correctly-typed frame (the numpy probe would otherwise die on a
    # zero-row matmul), and n_probe beyond the cell count degrades to
    # probing every cell
    from pyspark.sql import functions as F

    from map_reduce_project_spark.operators.similarity import (
        ivf_index_topk,
        write_ivf_index,
    )
    from map_reduce_project_spark.sources.io import read_table

    emb = read_table(spark, sf0001, "embeddings")
    path = str(tmp_path / "ivf")
    write_ivf_index(emb, path, n_centroids=8)
    empty = ivf_index_topk(
        spark, path, emb.where(F.lit(False)), k=3, n_probe=3
    )
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == [
        "query_id",
        "target_id",
        "cosine",
        "rank",
    ]
    wide = ivf_index_topk(spark, path, emb.limit(3), k=2, n_probe=99)
    assert wide.count() == 6  # 3 queries x top-2, all cells probed


def test_decimate_audio_factors_and_tail(spark):
    # factor 2 (gated) and the non-power-of-2 branch (factor 3):
    # floor-division semantics on negatives, tail samples dropped,
    # re-encoded rate divided
    import pandas as pd

    from map_reduce_project_spark.operators.multimodal import (
        _build_wav,
        _decode_wav_samples,
        decimate_audio,
    )

    samples = [100, -301, 5, 7, 9, -8, 3]
    src = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1],
                "modality": ["audio/wav"],
                "payload": [_build_wav(samples, rate=8000)],
            }
        )
    )
    out2 = decimate_audio(src, factor=2).collect()[0]
    r2, s2 = _decode_wav_samples(bytes(out2.payload))
    assert r2 == 4000
    assert s2 == [(100 - 301) >> 1, (5 + 7) >> 1, (9 - 8) >> 1]
    out3 = decimate_audio(src, factor=3).collect()[0]
    r3, s3 = _decode_wav_samples(bytes(out3.payload))
    assert r3 == 8000 // 3
    # python // floors toward -inf, matching numpy: (-196)//3 = -66
    assert s3 == [(100 - 301 + 5) // 3, (7 + 9 - 8) // 3] == [-66, 2]


def test_cdc_chunking_edit_locality(spark):
    # THE content-defined property — the reason CDC beats fixed-size
    # blocking for dedup: a one-token edit disturbs only the chunks
    # whose rolling window can see it, and every chunk fingerprint
    # outside that reach is IDENTICAL before and after the edit (so
    # a near-duplicate document still shares almost all its chunks
    # with the original). Fixed-size blocking provably fails this:
    # an insertion shifts every downstream block.
    import pandas as pd

    from map_reduce_project_spark.queries.dedup import (
        cdc_chunk_documents,
    )

    # unique tokens -> aperiodic content, so every chunk fingerprint
    # is distinct and the set comparison can't hide the edited chunk
    # behind a periodic twin
    toks = [f"t{i}" for i in range(400)]
    edited = list(toks)
    edited[200] = "EDITED"
    inserted = toks[:200] + ["INSERTED"] + toks[200:]
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1, 2],
                "text": [
                    " ".join(toks),
                    " ".join(edited),
                    " ".join(inserted),
                ],
            }
        )
    )
    pdf = cdc_chunk_documents(docs).toPandas()
    base = set(pdf[pdf.doc_id == 0].chunk_fp)
    for other, kind in ((1, "substitution"), (2, "insertion")):
        got = set(pdf[pdf.doc_id == other].chunk_fp)
        shared = len(base & got)
        # every chunk not overlapping the edit window must survive;
        # at ~16-token expected chunks over 400 tokens, the edit can
        # disturb at most a couple of chunks on each side
        assert shared >= len(base) - 4, (
            kind,
            shared,
            len(base),
        )
        assert shared < len(base)  # the edited chunk itself changed
    # and the edit-locality survives the share-count join: the
    # untouched chunks report n_docs_sharing >= 2
    sharing = pdf[pdf.doc_id == 0].set_index("chunk_fp")[
        "n_docs_sharing"
    ]
    assert (sharing >= 2).sum() >= len(base) - 4


def test_html_extract_semantics(spark):
    # round 8: crawl-pipeline stage zero — the hand fixture pins every
    # rule: script/style/comment removal, block segmentation, entity
    # decode AFTER tag strip (so &lt;tagged&gt; survives as literal
    # text), link-density pruning at the exact integer seam, short
    # pruning, in-order reassembly
    from map_reduce_project_spark.operators.text import html_extract

    html = (
        '<html><head><style>p {color: red}</style>'
        '<script type="text/javascript">var x = 1; alert("noise");'
        "</script></head><body>"
        "<!-- hidden boilerplate 42 -->"
        "<h1>Document number 42</h1>"
        '<div class="nav"><a href="/home">Home page</a> '
        '<a href="/about">About us</a></div>'
        "<p>Alpha beta gamma delta content <b>sentence</b> 42 "
        "&amp; more.</p>"
        "<p>ok 3</p>"
        '<div>Read more: <a href="/p/42">continue reading the full '
        "article</a></div>"
        "<li>&lt;tagged&gt; text with &quot;quotes&quot; and "
        "&#39;marks&#39; plus 3</li>"
        "</body></html>"
    )
    df = spark.createDataFrame([(1, html)], "doc_id long, html string")
    row = html_extract(df).collect()[0]
    assert row.extracted_text == (
        "Document number 42 Alpha beta gamma delta content sentence "
        '42 & more. <tagged> text with "quotes" and \'marks\' plus 3'
    )
    assert (row.n_kept, row.n_drop_short, row.n_drop_link) == (3, 1, 2)
    assert row.text_len == len(row.extracted_text)
    assert row.n_words == len(row.extracted_text.split(" "))

    # density seam is an EXACT integer comparison: anchor*100 == len*50
    # (density exactly 0.5) keeps the block; one char over drops it
    # tag strip replaces each tag with a space, so "aaaaaaaaa<a>..."
    # normalizes to "aaaaaaaaa bbbbbbbbbb" — 9+1+10 = 20 chars
    at_seam = "<p>aaaaaaaaa<a>bbbbbbbbbb</a></p>"  # 10 anchor / 20 text
    over = "<p>aaaaaaaa<a>bbbbbbbbbb</a></p>"  # 10 anchor / 19 text
    df2 = spark.createDataFrame(
        [(1, at_seam), (2, over)], "doc_id long, html string"
    )
    rows = {r.doc_id: r for r in html_extract(df2).collect()}
    assert rows[1].n_kept == 1 and rows[1].n_drop_link == 0
    assert rows[2].n_kept == 0 and rows[2].n_drop_link == 1

    # a doc whose every block is dropped yields the empty string
    # (and the split-of-empty 1-token artifact both engines share)
    r = html_extract(
        spark.createDataFrame(
            [(1, "<p>ok</p><div><a>Nav nav nav</a></div>")],
            "doc_id long, html string",
        )
    ).collect()[0]
    assert r.extracted_text == "" and r.n_kept == 0
    assert (r.n_drop_short, r.n_drop_link) == (1, 1)
    assert r.n_words == 1  # split('', ' ') == [''] in Spark AND DuckDB


def test_duplicate_spans_semantics(spark):
    # round 8: global exact-substring dedup (Lee et al. 2022 class) —
    # hand corpus pins keeper election, span merging, and the max_df
    # hot-gram prune
    from map_reduce_project_spark.operators.dedup import duplicate_spans

    # docs 1 and 2 share tokens "c d e f g" at positions 3..7 (doc 1)
    # and 1..5 (doc 2); with k=3, duplicated 3-grams are cde/def/efg.
    # Keeper = global (doc, pos) minimum -> doc 1 keeps, doc 2 excises
    # one merged span covering positions 1..5.
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g"),
            (2, "c d e f g x y"),
            (3, "p q r s t u v"),  # unique -> no spans
        ],
        "doc_id long, text string",
    )
    rows = duplicate_spans(docs, k=3).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.doc_id, r.span_start, r.span_end, r.n_tokens, r.n_grams) == (
        2, 1, 5, 5, 3,
    )

    # two DISJOINT shared regions in one doc merge into separate
    # spans (gap > k between excision positions)
    docs2 = spark.createDataFrame(
        [
            (1, "a b c m m m m m m m m m m a b c"),
            (2, "a b c z z z z z z z z z z a b c"),
        ],
        "doc_id long, text string",
    )
    got2 = {
        (r.doc_id, r.span_start, r.span_end, r.n_grams)
        for r in duplicate_spans(docs2, k=3).collect()
    }
    # "a b c" occurrences (1,1),(1,14),(2,1),(2,14): keeper (1,1).
    # Intra-doc "m m m"/"z z z" runs excise positions 5..11 (keeper
    # pos 4). In doc 1, excisions {5..11, 14} merge into ONE span
    # (14 - 11 = k -> windows touch); in doc 2 position 1 stands
    # alone (5 - 1 > k) and {5..11, 14} merge as in doc 1.
    assert got2 == {
        (1, 5, 16, 8),
        (2, 1, 3, 1),
        (2, 5, 16, 8),
    }

    # max_df prunes hot grams: "a b c" appears 4 times; max_df=3
    # drops it from candidates entirely — the doc-2 leading span and
    # both trailing a-b-c excisions disappear, the intra-doc m/z runs
    # (2 occurrences... each distinct m-m-m gram has 8) also exceed
    # max_df=3 and vanish, leaving nothing
    assert duplicate_spans(docs2, k=3, max_df=3).count() == 0
    # ...while max_df=7 prunes the 8-occurrence m/z runs but keeps
    # the 4-occurrence a-b-c gram: only its three non-keeper
    # occurrences are excised
    got3 = {
        (r.doc_id, r.span_start, r.span_end, r.n_grams)
        for r in duplicate_spans(docs2, k=3, max_df=7).collect()
    }
    assert got3 == {(1, 14, 16, 1), (2, 1, 3, 1), (2, 14, 16, 1)}


def _unigram_train_py(texts, n_rounds=2, max_piece_len=4):
    # pure-Python reference for unigram_train: brute-force enumerate
    # ALL segmentations per distinct word, apply the identical
    # objective (fewest pieces, max summed count, lexicographically
    # smallest seg), hard-EM recount between rounds
    from collections import Counter
    from functools import lru_cache

    wfreq = Counter(w for t in texts for w in t.split(" ") if w)

    def segs(word):
        @lru_cache(maxsize=None)
        def rec(i):
            if i == len(word):
                return [()]
            out = []
            for L in range(1, min(max_piece_len, len(word) - i) + 1):
                for rest in rec(i + L):
                    out.append((word[i : i + L],) + rest)
            return out
        return rec(0)

    counts = Counter()
    for w, f in wfreq.items():
        for i in range(len(w)):
            for L in range(1, min(max_piece_len, len(w) - i) + 1):
                counts[w[i : i + L]] += f

    best = {}
    for _ in range(n_rounds):
        best = {}
        for w in wfreq:
            cands = segs(w)
            m = min(len(s) for s in cands)
            cands = [s for s in cands if len(s) == m]
            scored = [
                (-sum(counts.get(p, 0) for p in s), "|".join(s), s)
                for s in cands
            ]
            scored.sort()
            best[w] = scored[0]
        counts = Counter()
        for w, (_, _, s) in best.items():
            for p in s:
                counts[p] += wfreq[w]
    return {
        w: (wfreq[w], len(s), seg, -negscore)
        for w, (negscore, seg, s) in best.items()
    }


def test_unigram_train_matches_python_reference(spark):
    # round 8: randomized corpora (fixed seeds — the draw is part of
    # the pin) against the brute-force reference, exercising splits
    # that shift between EM rounds
    import random

    from map_reduce_project_spark.operators.text import unigram_train

    for seed in (7, 23, 99):
        rng = random.Random(seed)
        vocab = [
            "".join(rng.choice("abcd") for _ in range(rng.randint(1, 7)))
            for _ in range(12)
        ]
        texts = [
            " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 9)))
            for _ in range(20)
        ]
        df = spark.createDataFrame([(t,) for t in texts], "text string")
        got = {
            r.word: (r.wfreq, r.n_pieces, r.seg, r.score)
            for r in unigram_train(df, n_rounds=2, max_piece_len=4).collect()
        }
        want = _unigram_train_py(texts, n_rounds=2, max_piece_len=4)
        assert got == want, (seed, got, want)


def test_unigram_train_empty_and_long_words(spark):
    from map_reduce_project_spark.operators.text import unigram_train

    # empty corpus -> empty result with the contract schema
    empty = spark.createDataFrame([], "text string")
    out = unigram_train(empty)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "word", "wfreq", "n_pieces", "seg", "score",
    ]

    # a word longer than 2*max_piece_len needs >= 3 pieces; EM must
    # still terminate and pick the minimal count
    df = spark.createDataFrame(
        [("abcdefghij abcd efghij",)], "text string"
    )
    rows = {r.word: r for r in unigram_train(df, max_piece_len=4).collect()}
    assert rows["abcdefghij"].n_pieces == 3
    assert rows["abcd"].n_pieces == 1


def _unigram_dp_py(texts, n_rounds=2, max_piece_len=4):
    # O(wlen x max_piece_len) reference for unigram_train on words too
    # long to enumerate: best[p] is the minimal (n_pieces, -score, seg)
    # for the prefix of length p, under the same objective and the
    # same hard-EM recount as _unigram_train_py
    from collections import Counter

    wfreq = Counter(w for t in texts for w in t.split(" ") if w)
    counts = Counter()
    for w, f in wfreq.items():
        for i in range(len(w)):
            for L in range(1, min(max_piece_len, len(w) - i) + 1):
                counts[w[i : i + L]] += f

    best = {}
    for _ in range(n_rounds):
        best = {}
        for w in wfreq:
            dp = [(0, 0, "")]
            for p in range(1, len(w) + 1):
                cands = []
                for L in range(1, min(max_piece_len, p) + 1):
                    n, neg, seg = dp[p - L]
                    piece = w[p - L : p]
                    cands.append((
                        n + 1,
                        neg - counts.get(piece, 0),
                        seg + ("|" if seg else "") + piece,
                    ))
                dp.append(min(cands))
            best[w] = dp[-1]
        counts = Counter()
        for w, (_, _, seg) in best.items():
            for piece in seg.split("|"):
                counts[piece] += wfreq[w]
    return {w: (wfreq[w], n, seg, -neg) for w, (n, neg, seg) in best.items()}


def test_unigram_dp_reference_matches_brute_force():
    # the DP reference is itself pinned to the brute-force enumerator
    # on words short enough to enumerate
    import random

    for seed in (3, 17):
        rng = random.Random(seed)
        vocab = [
            "".join(rng.choice("ab") for _ in range(rng.randint(1, 12)))
            for _ in range(10)
        ]
        texts = [
            " ".join(rng.choice(vocab) for _ in range(rng.randint(2, 6)))
            for _ in range(15)
        ]
        assert _unigram_dp_py(texts, 2, 3) == _unigram_train_py(texts, 2, 3)


def test_unigram_train_long_words_match_dp_reference(spark):
    # words of 20-300 characters over 2-3 letter alphabets: many
    # equal-count ties, so the (n_pieces, -score, seg) tie-break and
    # the per-prefix pruning are both exercised far past the lengths
    # the brute-force reference can enumerate
    import random

    from map_reduce_project_spark.operators.text import unigram_train

    for seed, alphabet in ((5, "ab"), (41, "abc")):
        rng = random.Random(seed)
        vocab = [
            "".join(rng.choice(alphabet) for _ in range(n))
            for n in [300] + [rng.randint(20, 120) for _ in range(7)]
        ]
        texts = [
            " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 4)))
            for _ in range(12)
        ] + [vocab[0]]
        df = spark.createDataFrame([(t,) for t in texts], "text string")
        got = {
            r.word: (r.wfreq, r.n_pieces, r.seg, r.score)
            for r in unigram_train(df, n_rounds=2, max_piece_len=4).collect()
        }
        want = _unigram_dp_py(texts, n_rounds=2, max_piece_len=4)
        assert got == want, (seed, alphabet)


def test_unigram_train_job_count_and_session_conf(spark):
    # the E-step runs in-row, so a 60-character word costs the same
    # jobs as a 5-character one, and training leaves the session's
    # shuffle and AQE settings as it found them
    import uuid

    from map_reduce_project_spark.operators.text import unigram_train

    sc = spark.sparkContext
    keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    before = {k: spark.conf.get(k) for k in keys}
    jobs = {}
    for longest in (5, 60):
        word = "ab" * (longest // 2) + "c" * (longest % 2)
        texts = ["ab ba abc", "ab " + word]
        df = spark.createDataFrame([(t,) for t in texts], "text string")
        group = f"unigram-jobs-{longest}-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "unigram_train job count")
        try:
            rows = unigram_train(df, n_rounds=2, max_piece_len=4).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert max(len(r.word) for r in rows) == longest
        jobs[longest] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs[5] == jobs[60] > 0, jobs
    assert {k: spark.conf.get(k) for k in keys} == before


def test_png_adam7_and_16bit_decode():
    # round 8: PNG closure tiers. Round trips exercise every pass
    # shape; the HAND-BUILT streams (filter-0 rows laid out straight
    # from spec 8.2) pin the decoder independently of the encoder, so
    # a mutually-cancelling encode/decode bug cannot hide.
    import struct
    import zlib

    import numpy as np
    import pytest as _pytest

    from map_reduce_project_spark.operators.multimodal import (
        _PNG_SIG,
        _decode_png_pixels,
        _png_chunk,
        encode_png,
        encode_png16,
        encode_png_adam7,
    )

    rng = np.random.RandomState(7)
    for h, w in [(1, 1), (3, 5), (8, 8), (9, 13), (4, 4), (2, 10)]:
        px = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
        assert (_decode_png_pixels(encode_png_adam7(px)) == px).all()
        px16 = rng.randint(0, 65536, (h, w, 3)).astype(np.uint16)
        dec = _decode_png_pixels(encode_png16(px16))
        assert (dec == (px16 >> 8).astype(np.uint8)).all()
        assert (_decode_png_pixels(encode_png(px)) == px).all()

    # encoder-independent Adam7 pin: 4x4, filter-0 rows in pass order
    w = h = 4
    img = (np.arange(48).reshape(4, 4, 3) * 5).astype(np.uint8)
    passes = [
        (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
        (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
    ]
    stream = bytearray()
    for x0, y0, xs, ys in passes:
        sub = img[y0::ys, x0::xs]
        if sub.size == 0:
            continue
        for row in sub:
            stream.append(0)
            stream += row.reshape(-1).tobytes()
    png = (
        _PNG_SIG
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1))
        + _png_chunk(b"IDAT", zlib.compress(bytes(stream)))
        + _png_chunk(b"IEND", b"")
    )
    assert (_decode_png_pixels(png) == img).all()

    # encoder-independent 16-bit pin: big-endian high-byte strip
    img16 = np.array(
        [[[65535, 0, 256], [1, 2, 3]], [[4096, 512, 65280], [7, 8, 9]]],
        dtype=np.uint16,
    )
    stream = bytearray()
    for row in img16.astype(">u2"):
        stream.append(0)
        stream += row.tobytes()
    png16 = (
        _PNG_SIG
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0))
        + _png_chunk(b"IDAT", zlib.compress(bytes(stream)))
        + _png_chunk(b"IEND", b"")
    )
    assert (
        _decode_png_pixels(png16) == (img16 >> 8).astype(np.uint8)
    ).all()

    # unknown interlace method stays fail-loud
    bad = bytearray(png)
    # IHDR data starts at offset 8 (sig) + 8 (len+tag); interlace is
    # its 13th byte
    bad[8 + 8 + 12] = 2
    with _pytest.raises(NotImplementedError):
        _decode_png_pixels(bytes(bad))


def test_excise_spans_semantics(spark):
    # round 8: excision applies duplicate_spans output — keeper doc
    # byte-identical, non-keeper loses exactly the flagged range;
    # docs with no spans pass through even when the span table is
    # empty for them
    from map_reduce_project_spark.operators.dedup import (
        duplicate_spans,
        excise_spans,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g"),
            (2, "c d e f g x y"),
            (3, "p q r s t u v"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in excise_spans(docs, duplicate_spans(docs, k=3)).collect()
    }
    assert out[1].clean_text == "a b c d e f g" and out[1].n_tokens_cut == 0
    assert out[2].clean_text == "x y"
    assert (out[2].n_tokens_before, out[2].n_tokens_after) == (7, 2)
    assert out[3].n_tokens_cut == 0

    # an entirely-duplicated non-keeper doc empties out (clean_text
    # '' — the downstream filter drops it); the keeper survives whole
    docs2 = spark.createDataFrame(
        [(1, "q w e r t"), (2, "q w e r t")], "doc_id long, text string"
    )
    out2 = {
        r.doc_id: r
        for r in excise_spans(docs2, duplicate_spans(docs2, k=3)).collect()
    }
    assert out2[1].clean_text == "q w e r t"
    assert out2[2].clean_text == "" and out2[2].n_tokens_after == 0


def test_unigram_apply_fallback_and_order(spark):
    # round 8: encoding joins the trained segmentation table onto the
    # corpus; unseen words fall back to one whole-word piece and
    # word order is preserved through the positional reassembly
    from map_reduce_project_spark.operators.text import unigram_apply

    segs = spark.createDataFrame(
        [("abcd", 2, "ab|cd"), ("xy", 1, "xy")],
        "word string, n_pieces long, seg string",
    )
    docs = spark.createDataFrame(
        [(1, "abcd xy abcd"), (2, "zz abcd")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in unigram_apply(docs, segs).collect()}
    assert out[1].encoded == "ab|cd xy ab|cd"
    assert (out[1].n_words, out[1].n_pieces) == (3, 5)
    assert out[2].encoded == "zz ab|cd"  # zz unseen -> whole word
    assert (out[2].n_words, out[2].n_pieces) == (2, 3)


def test_html_extract_links_resolution(spark):
    # round 8: href extraction + base resolution — absolute passes
    # through, root-relative joins host, other relative joins with
    # '/'; anchors without double-quoted hrefs are skipped; docs
    # without anchors contribute no rows
    from map_reduce_project_spark.operators.text import (
        html_extract_links,
    )

    html = (
        '<a href="/x">a</a> <a href="http://other.com/y">b</a> '
        '<a href="rel/z">c</a> <a name="no-href">d</a>'
    )
    df = spark.createDataFrame(
        [(1, html, "https://h.com"), (2, "<p>no links</p>", "https://h.com")],
        "doc_id long, html string, base string",
    )
    rows = sorted(
        html_extract_links(df, base_col="base").collect(),
        key=lambda r: (r.doc_id, r.link_pos),
    )
    assert [(r.doc_id, r.link_pos, r.resolved) for r in rows] == [
        (1, 1, "https://h.com/x"),
        (1, 2, "http://other.com/y"),
        (1, 3, "https://h.com/rel/z"),
    ]


def test_html_extract_links_review_pins(spark):
    # round-8 review pins: protocol-relative hrefs take the base's
    # scheme; scheme-only hrefs (mailto:) pass through; <area> tags
    # and data-href attributes do NOT match
    from map_reduce_project_spark.operators.text import (
        html_extract_links,
    )

    html = (
        '<a href="//cdn.example.com/lib.js">cdn</a> '
        '<a href="mailto:a@b.com">mail</a> '
        '<area href="/map">m</area> '
        '<a data-href="/tracked">t</a> '
        '<a class="x" href="/real">r</a>'
    )
    df = spark.createDataFrame(
        [(1, html, "https://h.com")], "doc_id long, html string, base string"
    )
    rows = sorted(
        html_extract_links(df, base_col="base").collect(),
        key=lambda r: r.link_pos,
    )
    assert [(r.link_pos, r.resolved) for r in rows] == [
        (1, "https://cdn.example.com/lib.js"),
        (2, "mailto:a@b.com"),
        (3, "https://h.com/real"),
    ]


def test_html_extract_links_base_with_path(spark):
    # round-9 ADVICE fix (RFC 3986): a base carrying a PATH (the
    # document's own URL is the natural base) must not leak that path
    # into root-relative hrefs — '/x' joins scheme://authority only;
    # plain-relative hrefs join the base DIRECTORY (last segment
    # dropped). Host-only bases behave exactly as before.
    from map_reduce_project_spark.operators.text import (
        html_extract_links,
    )

    html = '<a href="/x">a</a> <a href="rel">b</a>'
    df = spark.createDataFrame(
        [
            (1, html, "https://h.com/dir/page.html"),
            (2, html, "https://h.com"),
            (3, html, "https://h.com/"),
        ],
        "doc_id long, html string, base string",
    )
    rows = sorted(
        html_extract_links(df, base_col="base").collect(),
        key=lambda r: (r.doc_id, r.link_pos),
    )
    assert [(r.doc_id, r.link_pos, r.resolved) for r in rows] == [
        (1, 1, "https://h.com/x"),
        (1, 2, "https://h.com/dir/rel"),
        (2, 1, "https://h.com/x"),
        (2, 2, "https://h.com/rel"),
        (3, 1, "https://h.com/x"),
        (3, 2, "https://h.com/rel"),
    ]


def test_html_extract_anchor_tagname_anchored(spark):
    # round-9 ADVICE fix: the link-density anchor regex must anchor
    # the tag NAME — '<a[^>]*>' also matched <abbr>/<article>/<audio>,
    # swallowing everything up to the next </a> as anchor text and
    # over-dropping content blocks on real HTML.
    from map_reduce_project_spark.operators.text import html_extract

    html = (
        "<p><abbr>HTML</abbr> is a standard markup language for "
        'documents, see <a href="/x">ref</a> for details</p>'
    )
    df = spark.createDataFrame(
        [(1, html)], "doc_id long, html string"
    )
    row = html_extract(df).collect()[0]
    # with the tag name anchored, anchor text is just "ref" (3 chars)
    # against a ~70-char block: kept. The buggy regex counted ~60
    # chars of anchor text and dropped the block as link-dense.
    assert row.n_kept == 1 and row.n_drop_link == 0
    assert "standard markup language" in row.extracted_text


def test_unigram_train_rejects_nonpositive_rounds(spark):
    # round-9 ADVICE fix: n_rounds < 1 used to crash with
    # AttributeError (best=None) at the final join; now a clear
    # ValueError at entry.
    import pytest as _pytest

    from map_reduce_project_spark.operators.text import unigram_train

    df = spark.createDataFrame([(1, "ab ab")], "doc_id long, text string")
    for bad in (0, -1):
        with _pytest.raises(ValueError, match="n_rounds"):
            unigram_train(df, n_rounds=bad)
        # the per-position candidate slots assume pieces of >= 1 char
        with _pytest.raises(ValueError, match="max_piece_len"):
            unigram_train(df, max_piece_len=bad)


def test_gopher_line_rules_each_rule_fails_on_planted_doc(spark):
    # round 9: one planted violator per line-based rule, plus a clean
    # doc that passes all four
    from map_reduce_project_spark.operators.text import (
        gopher_line_rules,
    )

    bullets = "\n".join(["- item"] * 19 + ["prose line"])  # 95% bullet
    ellipsis = "\n".join(["thought..."] * 4 + ["prose line"] * 6)
    dups = "\n".join(["same line"] * 5 + ["u1", "u2", "u3", "u4", "u5"])
    dupchar = "\n".join(
        ["the very long repeated boilerplate sentence"] * 2 + ["ab"]
    )
    clean = "\n".join(["alpha", "beta", "gamma", "- one bullet"])
    df = spark.createDataFrame(
        [
            (1, bullets),
            (2, ellipsis),
            (3, dups),
            (4, dupchar),
            (5, clean),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in gopher_line_rules(df).collect()}
    assert not rows[1].pass_bullet_lines and rows[1].gopher_line_pass is False
    assert not rows[2].pass_ellipsis_lines
    # doc 3: 10 lines, 4 surplus copies -> 40% > 30%
    assert rows[3].n_dup_lines == 4 and not rows[3].pass_dup_lines
    # doc 4: surplus chars 43 of 88 -> 48% > 20%
    assert rows[4].dup_line_chars == 43 and not rows[4].pass_dup_line_chars
    r5 = rows[5]
    assert r5.gopher_line_pass and r5.n_lines == 4
    assert r5.n_bullet_lines == 1 and r5.n_dup_lines == 0


def test_gopher_line_rules_bullet_variants_and_empty(spark):
    from map_reduce_project_spark.operators.text import (
        gopher_line_rules,
    )

    df = spark.createDataFrame(
        [(1, "- a\n* b\n• c\n-no space\nplain"), (2, "")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in gopher_line_rules(df).collect()}
    # '-no space' is NOT a bullet ('- ' needs the space); '•c' IS
    # (the U+2022 form matches without requiring a space)
    assert rows[1].n_bullet_lines == 3
    assert rows[2].n_lines == 0 and rows[2].gopher_line_pass


def test_duplicate_spans_skew_paths_equivalent(spark):
    # round 9: the skew-robust aggregate+join formulation (candidate
    # AND verify stages) must be semantics-identical to the
    # count-window default on a mixed corpus (overlapping spans,
    # periodic runs, unique docs)
    from map_reduce_project_spark.operators.dedup import (
        duplicate_spans,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),
            (2, "x a b c d e y z"),
            (3, "m m m m m q r s"),
            (4, "m m m m m q r s"),
            (5, "totally unique words only here now"),
        ],
        "doc_id long, text string",
    )
    key = lambda r: (r.doc_id, r.span_start, r.span_end, r.n_tokens, r.n_grams)  # noqa: E731
    base = sorted(
        duplicate_spans(docs, k=3, skew_robust=False).collect(), key=key
    )
    robust = sorted(
        duplicate_spans(docs, k=3, skew_robust=True).collect(), key=key
    )
    assert [key(r) for r in base] == [key(r) for r in robust]
    assert len(base) > 0


def test_duplicate_spans_hot_gram_autoprobe(spark):
    # round 9 (verdict item): plant a 1e5-occurrence gram — the probe
    # must auto-select the aggregate path (no per-gram window in the
    # plan) and the result must still be exact: every non-keeper doc
    # excises exactly its planted span
    from pyspark.sql import functions as F

    from map_reduce_project_spark.operators.dedup import (
        duplicate_spans,
    )

    n = 100_000
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("hot1 hot2 hot3 u"),
            F.col("id").cast("string"),
            F.lit("a u"),
            F.col("id").cast("string"),
            F.lit("b u"),
            F.col("id").cast("string"),
            F.lit("c"),
        ).alias("text"),
    )
    res = duplicate_spans(docs, k=3)
    plan = res._jdf.queryExecution().optimizedPlan().toString()
    # the verify row_number window only exists on the non-robust path;
    # the probe must have flipped to the aggregate formulation
    assert "row_number" not in plan
    rows = res.collect()
    # keeper = (doc 0, pos 1); every other doc excises span [1, 3]
    assert len(rows) == n - 1
    assert all(
        (r.span_start, r.span_end, r.n_tokens, r.n_grams)
        == (1, 3, 3, 1)
        for r in rows[:50]
    )
    assert sorted(r.doc_id for r in rows)[:3] == [1, 2, 3]


def test_duplicate_spans_probe_exact_below_floor(spark):
    # a tiny skew_threshold forces fraction=1.0 (exact probe); an
    # 8-occurrence gram crosses it and the robust path still returns
    # the window path's answer
    from map_reduce_project_spark.operators.dedup import (
        duplicate_spans,
    )

    docs = spark.createDataFrame(
        [(i, "dup1 dup2 dup3 tail%d" % i) for i in range(8)],
        "doc_id long, text string",
    )
    key = lambda r: (r.doc_id, r.span_start, r.span_end)  # noqa: E731
    auto = sorted(
        duplicate_spans(docs, k=3, skew_threshold=4).collect(), key=key
    )
    window = sorted(
        duplicate_spans(docs, k=3, skew_robust=False).collect(), key=key
    )
    assert [key(r) for r in auto] == [key(r) for r in window]
    assert len(auto) == 7


def test_gopher_line_rules_crlf_equals_lf(spark):
    """CRLF regression pin (round-9 self-review): WET payloads are
    byte-verbatim, so the line split must treat '\\r\\n' and '\\n'
    identically — a bare-LF split leaves a trailing CR on every line,
    silently defeating the '...'-suffix rule and inflating every char
    count by one per line."""
    from map_reduce_project_spark.operators.text import (
        gopher_line_rules,
    )

    lines = [
        "a normal opening line of text",
        "trailing thought number one...",
        "trailing thought number two...",
        "shared footer line",
    ]
    df = spark.createDataFrame(
        [(1, "\n".join(lines)), (2, "\r\n".join(lines))],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in gopher_line_rules(df).collect()}
    lf, crlf = rows[1], rows[2]
    assert crlf.n_ellipsis_lines == lf.n_ellipsis_lines == 2
    assert crlf.line_chars == lf.line_chars
    assert crlf.asDict() == lf.asDict() | {"doc_id": 2}


def test_pil_backend_decodes_what_stub_tiers_cannot(spark):
    """Env-gated REAL-codec integration (round-12, verdict item 4):
    when Pillow is installed, the shipped ``pil_decode_backend``
    adapter must decode payloads whose stdlib stub tier raises the
    documented NotImplementedError — a progressive JPEG re-decoded
    bit-faithfully by the real library, a CMYK (4-component) JPEG the
    stub tier rejects outright, and a WebP no stdlib tier exists for
    — through the UNCHANGED mapInPandas operator with the identical
    output schema. Skips (does not pass vacuously) where Pillow is
    absent, e.g. the default test container."""
    PIL = pytest.importorskip("PIL.Image")
    import io

    import numpy as np

    from map_reduce_project_spark.operators.multimodal import (
        RESIZED_SCHEMA,
        decode_pixels,
        pil_decode_backend,
        resize_images,
    )

    src = PIL.new("RGB", (9, 7))
    px = np.arange(9 * 7 * 3, dtype=np.uint8).reshape(7, 9, 3)
    src.putdata([tuple(p) for p in px.reshape(-1, 3)])

    def save(mode_img, fmt, **kw) -> bytes:
        buf = io.BytesIO()
        mode_img.save(buf, fmt, **kw)
        return buf.getvalue()

    cmyk_jpeg = save(src.convert("CMYK"), "JPEG")
    webp = save(src, "WEBP", lossless=True)
    prog_jpeg = save(src, "JPEG", progressive=True, quality=95)

    # the stub tiers raise their documented errors on these payloads
    with pytest.raises(NotImplementedError):
        decode_pixels(cmyk_jpeg, "image/jpeg")
    with pytest.raises(NotImplementedError):
        decode_pixels(webp, "image/webp")

    # the real library decodes all three through the seam
    for payload, modality in (
        (cmyk_jpeg, "image/jpeg"),
        (webp, "image/webp"),
        (prog_jpeg, "image/jpeg"),
    ):
        out = decode_pixels(payload, modality, pil_decode_backend)
        assert out.dtype == np.uint8 and out.shape == (7, 9, 3)
    # lossless WebP must round-trip the exact pixels
    assert (decode_pixels(webp, "image/webp", pil_decode_backend) == px).all()

    # the DataFrame operator runs unchanged with the adapter in the
    # task closure: same schema as the stub path, real decoded bytes
    media = spark.createDataFrame(
        [(1, "image/webp", bytearray(webp)),
         (2, "image/jpeg", bytearray(cmyk_jpeg))],
        "doc_id long, modality string, payload binary",
    )
    rows = resize_images(
        media, 4, 4, decode_backend=pil_decode_backend
    ).collect()
    assert resize_images(media, 4, 4, decode_backend=pil_decode_backend).schema == RESIZED_SCHEMA
    assert sorted(r.doc_id for r in rows) == [1, 2]
    assert all(r.width == 4 and r.height == 4 for r in rows)
    # resized payloads are P6 PPM re-encodes of REAL pixels
    assert all(bytes(r.payload).startswith(b"P6\n4 4\n255\n") for r in rows)


def test_soundfile_backend_decodes_flac(spark):
    """Env-gated REAL-codec audio integration (round-12): when
    soundfile/libsndfile is installed, (a) the repo's own pure-python
    FLAC encodings decode IDENTICALLY through libsndfile and the
    stdlib tier — an external cross-verification of the whole
    integer codec (both are exact, so equality is bit-level), and
    (b) a libsndfile-written FLAC whose blocksize the stub tier
    documents as unsupported decodes through the shipped
    soundfile_decode_backend adapter while the stub error stays for
    the no-backend path. Skips where soundfile is absent."""
    sf = pytest.importorskip("soundfile")
    import io

    import numpy as np

    from map_reduce_project_spark.operators.multimodal import (
        decode_flac_constant,
        melody_flac_audio,
        soundfile_decode_backend,
        stereo_flac_audio,
        tone_flac_audio,
    )

    # (a) cross-verify our encoder+decoder against libsndfile
    for maker in (tone_flac_audio, melody_flac_audio, stereo_flac_audio):
        _, payload = maker(3)
        ours = decode_flac_constant(payload)
        theirs = soundfile_decode_backend(payload, "audio/flac")
        assert theirs is not None
        assert np.array_equal(ours, theirs), maker.__name__

    # (b) a real-world blocksize the fixture tier rejects decodes
    # through the adapter with the documented error gone
    samples = (np.arange(2048, dtype=np.int16) % 512) - 256
    buf = io.BytesIO()
    sf.write(buf, samples, 8000, format="FLAC", subtype="PCM_16")
    wild = buf.getvalue()
    with pytest.raises((NotImplementedError, ValueError)):
        decode_flac_constant(wild)
    out = decode_flac_constant(wild, soundfile_decode_backend)
    assert np.array_equal(out, samples)
