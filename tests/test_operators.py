"""Unit + plan-shape tests for the operator library (operators/*)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from legal_document_ocr_spark.operators import (
    dedup,
    multimodal,
    relational,
    similarity,
    textops,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


# ---------------------------------------------------------------------------
# dedup semantics
# ---------------------------------------------------------------------------


def test_exact_dups_counts_copies(spark, docs):
    d = docs.select("doc_id", "text")
    tripled = d.unionByName(
        d.withColumn("doc_id", F.col("doc_id") + 10_000)
    ).unionByName(d.withColumn("doc_id", F.col("doc_id") + 20_000))
    out = dedup.exact_dups(tripled)
    rows = out.collect()
    assert all(r["copies"] == 3 for r in rows)
    # representative is the minimum id of the duplicate set
    assert all(r["representative"] < 10_000 for r in rows)


def test_minhash_identical_docs_share_all_bands(spark, docs):
    d = docs.select("doc_id", "text").limit(50)
    doubled = d.unionByName(d.withColumn("doc_id", F.col("doc_id") + 10_000))
    bands = dedup.minhash_bands(doubled)
    # identical text -> identical signature -> same bucket in every band
    joined = (
        bands.alias("l")
        .join(
            bands.alias("r"),
            (F.col("l.doc_id") + 10_000 == F.col("r.doc_id"))
            & (F.col("l.band") == F.col("r.band")),
        )
        .where(F.col("l.bucket") != F.col("r.bucket"))
    )
    assert joined.count() == 0


def test_minhash_pairs_find_exact_duplicates(spark, docs):
    d = docs.select("doc_id", "text").limit(50)
    doubled = d.unionByName(d.withColumn("doc_id", F.col("doc_id") + 10_000))
    pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_candidate_pairs(doubled).collect()
    }
    expected = {(r["doc_id"], r["doc_id"] + 10_000) for r in d.collect()}
    assert expected <= pairs


def test_simhash_zero_hamming_for_identical(spark, docs):
    d = docs.select("doc_id", "text").limit(30)
    doubled = d.unionByName(d.withColumn("doc_id", F.col("doc_id") + 10_000))
    sig = dedup.simhash(doubled)
    l, r = sig.alias("l"), sig.alias("r")
    diff = (
        l.join(r, F.col("l.doc_id") + 10_000 == F.col("r.doc_id"))
        .where(F.col("l.simhash") != F.col("r.simhash"))
        .count()
    )
    assert diff == 0


def test_ngram_jaccard_identical_is_one(spark, docs):
    d = docs.select("doc_id", "text").limit(30)
    doubled = d.unionByName(d.withColumn("doc_id", F.col("doc_id") + 10_000))
    pairs = dedup.ngram_jaccard_pairs(doubled, threshold=0.999)
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()
    }
    for r in d.collect():
        assert exact.get((r["doc_id"], r["doc_id"] + 10_000)) == 1.0


def test_dup_substring_runs_boundaries(spark):
    # 12 tokens: a1..a4 SHARED(8 tokens) — the shared window occurs in both
    # docs, the unique prefixes in only one each
    shared = "s1 s2 s3 s4 s5 s6 s7 s8"
    df = spark.createDataFrame(
        [(1, f"a1 a2 a3 a4 {shared}"), (2, f"b1 b2 b3 b4 {shared}")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in dedup.duplicated_substring_runs(df, k=8).collect()
    }
    # only the window starting at token 4 (0-based) is fully shared
    assert out[1]["run_start"] == 4 and out[1]["run_end"] == 4
    assert out[1]["run_tokens"] == 8
    assert out[2]["run_start"] == 4


def test_dup_substring_runs_merges_adjacent_windows(spark):
    # two docs sharing a 10-token block -> 3 consecutive duplicated window
    # starts (k=8) merging into ONE maximal run of 10 tokens
    block = " ".join(f"c{i}" for i in range(10))
    df = spark.createDataFrame(
        [(1, f"x1 x2 {block}"), (2, f"y1 y2 y3 {block}")],
        "doc_id long, text string",
    )
    rows = dedup.duplicated_substring_runs(df, k=8).collect()
    assert len(rows) == 2  # one maximal run per doc, adjacent starts merged
    by_id = {r["doc_id"]: r for r in rows}
    assert by_id[1]["run_start"] == 2 and by_id[1]["run_end"] == 4
    assert by_id[1]["run_tokens"] == 10
    assert by_id[2]["run_start"] == 3 and by_id[2]["run_tokens"] == 10


def test_dup_substring_runs_short_docs_empty(spark):
    df = spark.createDataFrame(
        [(1, "only three tokens"), (2, "only three tokens")],
        "doc_id long, text string",
    )
    assert dedup.duplicated_substring_runs(df, k=8).count() == 0


def test_embedding_near_dups_finds_copies(spark, embeddings):
    e = embeddings.select("vec_id", "embedding").limit(100)
    doubled = e.unionByName(e.withColumn("vec_id", F.col("vec_id") + 10_000))
    pairs = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in dedup.embedding_near_dups(doubled).collect()
    }
    for r in e.collect():
        assert pairs.get((r["vec_id"], r["vec_id"] + 10_000)) == pytest.approx(
            1.0, abs=1e-6
        )


def test_embedding_near_dups_bucket_count_scales_with_corpus(spark):
    """VERDICT r2 'What's wrong' #2: fixed sign buckets make the in-bucket
    self-join quadratic in corpus size. With bucket_dims=None the key widens
    so max in-bucket occupancy stays bounded under a 100x corpus: a corpus
    of n distinct random-sign vectors gets dims ~ log2(n / target), and the
    heaviest bucket holds only a small multiple of target_occupancy."""
    import math

    target = 64
    dim = 64

    def synth(n):
        # deterministic pseudo-random sign vectors, all Catalyst-side
        comp = [
            F.when(F.pmod(F.xxhash64(F.col("id") * dim + j), 2) == 0, F.lit(1.0))
            .otherwise(F.lit(-1.0))
            for j in range(dim)
        ]
        return spark.range(n).select(
            F.col("id").alias("vec_id"), F.array(*comp).alias("embedding")
        )

    for n, floor_dims in [(500, 4), (50_000, 10)]:
        dims = dedup.auto_sign_bucket_dims(n, dim, target_occupancy=target)
        assert dims >= floor_dims
        keyed = synth(n).select(
            similarity.sign_bucket_expr(F.col("embedding"), dims).alias("bucket")
        )
        occ = keyed.groupBy("bucket").count().agg(F.max("count")).first()[0]
        # expected occupancy <= 2*target (ceil rounding); allow 4x for
        # multinomial skew at this sample size
        assert occ <= 8 * target, (n, dims, occ)
    # 100x corpus growth widened the key by ~log2(100) ~ 7 sign dims
    d1 = dedup.auto_sign_bucket_dims(500, dim, target_occupancy=target)
    d2 = dedup.auto_sign_bucket_dims(50_000, dim, target_occupancy=target)
    assert d2 - d1 >= math.floor(math.log2(100)) - 1


def test_embedding_near_dups_banded_recall_and_dedup(spark, embeddings):
    """bands>1: candidates agree on ANY band; multi-band hits collapse to
    one row per pair; exact copies are always found."""
    e = embeddings.select("vec_id", "embedding").limit(50)
    doubled = e.unionByName(e.withColumn("vec_id", F.col("vec_id") + 10_000))
    out = dedup.embedding_near_dups(
        doubled, bucket_dims=8, bands=3, threshold=0.99
    ).collect()
    pairs = [(r["id_a"], r["id_b"]) for r in out]
    assert len(pairs) == len(set(pairs)), "multi-band hits must be distinct"
    got = dict(zip(pairs, (r["cosine"] for r in out)))
    for r in e.collect():
        assert got.get((r["vec_id"], r["vec_id"] + 10_000)) == pytest.approx(
            1.0, abs=1e-6
        )


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------


def test_pq_topk_copy_achieves_minimal_adc_distance(spark, embeddings):
    # a vector with the query's exact codes scores sum of the per-subspace
    # MINIMUM table entries — no vector can score lower, so the planted
    # copy of the query must sit at the minimal adist
    e = embeddings.select("vec_id", "embedding").limit(100)
    copy = e.where(F.col("vec_id") == 9).select(
        F.lit(10_000).cast("long").alias("vec_id"), "embedding"
    )
    rows = similarity.pq_topk(e.unionByName(copy), 9, k=10).collect()
    adists = [r["adist"] for r in rows]
    assert adists == sorted(adists)
    by_id = {r["vec_id"]: r["adist"] for r in rows}
    assert 10_000 in by_id and by_id[10_000] == min(adists)


def test_bucketed_topk_is_subset_of_brute_force(spark, embeddings):
    brute = similarity.cosine_topk(embeddings, 0, k=500).collect()
    brute_rank = {r["vec_id"]: i for i, r in enumerate(brute)}
    bucketed = similarity.bucketed_topk(embeddings, 0, k=10, bucket_dims=2).collect()
    # every bucketed hit exists in the exact ranking with the same score
    brute_scores = {r["vec_id"]: r["cosine"] for r in brute}
    for r in bucketed:
        assert brute_scores[r["vec_id"]] == r["cosine"]
    # and bucketed results are ordered by descending cosine
    scores = [r["cosine"] for r in bucketed]
    assert scores == sorted(scores, reverse=True)
    assert len(bucketed) == 10
    assert 0 not in brute_rank  # query excluded


# ---------------------------------------------------------------------------
# textops
# ---------------------------------------------------------------------------


def test_lang_id_marker_texts(spark):
    rows = [
        (1, "the cat is on the mat and it is warm"),
        (2, "el gato es de la casa y es que los gatos"),
        (3, "der hund ist das tier und die katze ist zu"),
        (4, "ngày số của là các có được và cho trong"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["pred_lang"] for r in textops.lang_id(df).collect()}
    assert out == {1: "en", 2: "es", 3: "de", 4: "vi"}


def test_quality_score_bounds(spark, docs):
    out = textops.quality_scores(docs)
    bad = out.where(
        (F.col("quality_score") < 0) | (F.col("quality_score") > 1)
    ).count()
    assert bad == 0


def test_token_counts_simple(spark):
    df = spark.createDataFrame(
        [(1, "hello world, 42 times!"), (2, ""), (3, None)],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in textops.token_counts(df).collect()}
    assert rows[1]["ws_tokens"] == 4
    # hello / world / , / 42 / times / !
    assert rows[1]["bpe_tokens"] == 6
    assert rows[2]["ws_tokens"] == 0


def test_inverted_index_postings(spark):
    df = spark.createDataFrame(
        [(8, "alpha beta alpha"), (9, "beta gamma")],
        "doc_id long, text string",
    )
    out = {
        (r["term"], r["seg"]): r
        for r in textops.inverted_index(df, seg_buckets=8).collect()
    }
    # doc 8 -> seg 0, doc 9 -> seg 1; alpha at positions 0 and 2
    assert out[("alpha", 0)]["postings"] == "8:0|2"
    assert out[("alpha", 0)]["n_postings"] == 2
    assert out[("beta", 0)]["postings"] == "8:1"
    assert out[("beta", 1)]["postings"] == "9:0"
    assert out[("gamma", 1)]["n_docs"] == 1


def test_inverted_index_segments_split_heavy_terms(spark):
    # the same term lands in every segment its docs hash to — the reducer
    # for a stopword is bounded by its segment, not the whole corpus
    rows = [(i, "stop word") for i in range(16)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    segs = (
        textops.inverted_index(df, seg_buckets=8)
        .where(F.col("term") == "stop")
        .collect()
    )
    assert len(segs) == 8 and all(r["n_docs"] == 2 for r in segs)


def test_bloom_semijoin_no_false_negatives(spark):
    probe = spark.createDataFrame(
        [(i, f"key{i}") for i in range(50)], "doc_id long, fp string"
    )
    build = probe.where(F.col("doc_id") % 5 == 0).select("fp")
    out = {r["doc_id"]: r for r in relational.bloom_semijoin(
        probe, build, "fp", "doc_id").collect()}
    assert len(out) == 50
    for i in range(0, 50, 5):  # every listed key must survive the bloom
        assert out[i]["bloom_candidate"] and out[i]["is_listed"]
    assert not any(r["is_listed"] for i, r in out.items() if i % 5 != 0)


def test_bloom_semijoin_false_positives_are_caught(spark):
    # bits=1 degenerates every slot to position 0: all probes become bloom
    # candidates, and the exact verify must still reject the unlisted ones
    probe = spark.createDataFrame(
        [(1, "listed"), (2, "unlisted")], "doc_id long, fp string"
    )
    build = probe.where(F.col("doc_id") == 1).select("fp")
    out = {r["doc_id"]: r for r in relational.bloom_semijoin(
        probe, build, "fp", "doc_id", bits=1).collect()}
    assert out[1]["bloom_candidate"] and out[1]["is_listed"]
    assert out[2]["bloom_candidate"] and not out[2]["is_listed"]


def test_error_page_filter_verdicts(spark):
    long_mention = "the 404 error code is discussed at length here " + (
        "filler word " * 30
    )
    df = spark.createDataFrame(
        [
            (1, "Error 404: Page Not Found"),  # short + markers -> error
            (2, long_mention),  # markers but long -> editorial, not error
            (3, "perfectly normal content page"),  # no markers
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in textops.error_page_filter(df).collect()}
    assert out[1]["is_error"] and out[1]["marker_hits"] >= 2
    assert not out[2]["is_error"] and out[2]["marker_hits"] >= 1
    assert not out[3]["is_error"] and out[3]["marker_hits"] == 0


def test_cms_term_counts_small_corpus_exact(spark):
    # 6 distinct tokens vs 1024 slots: no collisions, estimates are exact;
    # absent term probes empty slots -> 0 (never an undercount by design)
    df = spark.createDataFrame(
        [(1, "the cat and the hat"), (2, "the end")],
        "doc_id long, text string",
    )
    out = {
        r["term"]: r["est_count"]
        for r in dedup.cms_term_counts(df, ["the", "and", "cat", "zebra"]).collect()
    }
    assert out == {"the": 3, "and": 1, "cat": 1, "zebra": 0}


def test_char_entropy_closed_forms(spark):
    df = spark.createDataFrame(
        [(1, "aaaa"), (2, "ab"), (3, "abcd"), (4, "")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in textops.char_entropy(df).collect()}
    assert out[1]["entropy_micro"] == 0  # one class: -1*log2(1) = 0
    assert out[2]["entropy_micro"] == 1_000_000  # two equiprobable: 1 bit
    assert out[3]["entropy_micro"] == 2_000_000  # four equiprobable: 2 bits
    assert out[4]["entropy_micro"] is None and out[4]["n_distinct_chars"] == 0
    assert out[3]["n_chars"] == 4 and out[3]["n_distinct_chars"] == 4


def test_fingerprint_ws_invariance(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in textops.fingerprints(df).collect()}
    assert rows[1]["norm_fp"] == rows[2]["norm_fp"]
    assert rows[1]["exact_fp"] != rows[2]["exact_fp"]


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------


def test_media_features_deterministic(spark):
    import hashlib

    payload = b"fake image bytes"
    df = spark.createDataFrame([(1, payload)], "doc_id long, payload binary")
    row = multimodal.media_features(df).collect()[0]
    h = hashlib.md5(payload).hexdigest()
    assert row["content_hash"] == h
    assert row["n_bytes"] == len(payload)
    assert row["fake_width"] == int(h[0:4], 16) % 1000
    assert row["fake_height"] == int(h[4:8], 16) % 1000


def test_image_decode_isolates_malformed_records(spark):
    """ADVICE r2 medium: one malformed payload in a batch must flag its own
    row (error column), not fail the Spark task — valid neighbours decode."""
    from legal_document_ocr_spark.codecs import encode_png

    good = encode_png(2, 2, bytes([1, 2, 3, 4]), 0)
    rows = [
        (1, good),
        (2, good[:20]),              # truncated PNG
        # any lossy-VP8 chunk is the declared unsupported format
        (3, b"RIFF\x10\x00\x00\x00WEBPVP8 \x04\x00\x00\x00abcd"),
        (4, None),                    # null payload -> skipped entirely
        (5, b"\xff\xd8\xff\xe0jpg"),  # garbage JPEG body
        (6, b"RIFF\x00\x00\x00\x00WEBP"),  # chunkless container -> malformed
        # a real-format 16x16 VP8 keyframe: frame tag (keyframe,
        # first_part_size 10), start code, 14-bit dims, partition bytes
        (7, b"RIFF\x20\x00\x00\x00WEBPVP8 \x14\x00\x00\x00"
            + ((1 << 4) | (10 << 5)).to_bytes(3, "little")
            + b"\x9d\x01\x2a\x10\x00\x10\x00" + bytes(10)),
        (8, good),                    # a good row after the lossy ones
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in multimodal.image_decode(df).collect()}
    assert out[1]["px_sum"] == 10 and out[1]["error"] is None
    assert out[2]["width"] is None and out[2]["error"].startswith("ValueError")
    assert out[3]["error"].startswith("NotImplementedError: lossy WebP")
    assert 4 not in out
    assert out[5]["error"].startswith("ValueError")
    assert out[6]["error"].startswith("ValueError")
    assert out[7]["width"] is None
    assert out[7]["error"].startswith("NotImplementedError: lossy WebP")
    assert out[8]["px_sum"] == 10 and out[8]["error"] is None


def test_audio_decode_isolates_malformed_records(spark):
    import io
    import struct as _struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wv:
        wv.setnchannels(1)
        wv.setsampwidth(2)
        wv.setframerate(8000)
        wv.writeframes(_struct.pack("<4h", 1, 2, 3, -4))
    rows = [(1, buf.getvalue()), (2, b"RIFFgarbage")]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in multimodal.audio_decode(df).collect()}
    assert out[1]["sample_sum"] == 2 and out[1]["error"] is None
    assert out[2]["n_frames"] is None and out[2]["error"]


def test_decode_image_real_for_png_and_jpeg_stub_for_rest():
    """decode_image is REAL for PNG/BMP (round 2) and baseline JPEG
    (round 3); formats needing an external library still raise
    NotImplementedError."""
    from legal_document_ocr_spark.codecs import encode_png
    from legal_document_ocr_spark.jpeg import encode_jpeg_baseline

    img = multimodal.decode_image(encode_png(2, 2, bytes([1, 2, 3, 4]), 0))
    assert (img["width"], img["height"], img["pixels"]) == (2, 2, bytes([1, 2, 3, 4]))
    jimg = multimodal.decode_image(encode_jpeg_baseline(8, 8, bytes([42] * 64)))
    assert (jimg["width"], jimg["height"], jimg["pixels"]) == (8, 8, bytes([42] * 64))
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"bytes")  # unrecognized magic


# ---------------------------------------------------------------------------
# plan shapes (the 100 TB story: pushdown + broadcast + no extra shuffles)
# ---------------------------------------------------------------------------


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_point_lookup_pushes_filter_to_scan(spark, docs):
    plan = _plan(relational.get_document(docs, 42))
    assert "PushedFilters" in plan and "doc_id" in plan.split("PushedFilters")[1][:200]


def test_revenue_join_broadcasts_dimensions(spark):
    plan = _plan(
        relational.revenue_by_nation(
            spark.read.parquet(f"{SF}/orders.parquet"),
            spark.read.parquet(f"{SF}/customer.parquet"),
            spark.read.parquet(f"{SF}/nation.parquet"),
        )
    )
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_extraction_prunes_html_after_udf(spark):
    from legal_document_ocr_spark.sources.pages import synthesize_pages_df
    from legal_document_ocr_spark.stages import run_extraction

    out = run_extraction(synthesize_pages_df(spark, SF), dedup=False,
                         with_fields=False)
    assert "html" not in out.columns
    # only url/extracted_text requested -> scan must not read the text column
    # of documents twice nor keep binary downstream of the UDF stage
    plan = _plan(out.select("url", "extracted_text"))
    assert "ArrowEvalPython" in plan


def test_sessionize_single_shuffle(spark):
    events = spark.read.parquet(f"{SF}/events.parquet")
    plan = _plan(relational.sessionize_events(events))
    # one exchange for the user_id windows + the final order; the two stacked
    # windows and the groupBy must REUSE the user_id partitioning
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, f"expected 1 hash exchange, got {n_exchanges}"


def test_batch_topk_matches_single_query_topk(spark, embeddings):
    batch = similarity.batch_topk(embeddings, [0, 3], k=5)
    rows = [r for r in batch.collect()]
    by_query = {}
    for r in rows:
        by_query.setdefault(r["query_id"], []).append((r["vec_id"], r["cosine"]))
    for qid in (0, 3):
        single = [
            (r["vec_id"], r["cosine"])
            for r in similarity.cosine_topk(embeddings, qid, k=5).collect()
        ]
        assert by_query[qid] == single


def test_batch_topk_partitioning_invariant_and_no_rank_window(
    spark, embeddings
):
    """Two-phase top-k: output must not depend on input partitioning (the
    per-partition partial phase sees different slices), and the plan must not
    contain a rank window partitioned by query_id (round 1: all corpus scores
    for one query through a single reducer)."""
    base = similarity.batch_topk(embeddings, [0, 1, 2], k=4)
    skewed = similarity.batch_topk(embeddings.repartition(1), [0, 1, 2], k=4)
    spread = similarity.batch_topk(embeddings.repartition(7), [0, 1, 2], k=4)
    rows = lambda df: [tuple(r) for r in df.collect()]  # noqa: E731
    assert rows(base) == rows(skewed) == rows(spread)
    assert "Window" not in _plan(base)


def test_ivf_assign_no_corpus_sized_broadcast(spark, embeddings):
    """The only broadcast in the assignment plan is the bounded centroid
    table (round 1 additionally broadcast a one-row-per-corpus-vector
    min-distance frame through the driver)."""
    assigned = similarity.ivf_assign(embeddings, 8)
    plan = _plan(assigned)
    assert plan.count("BroadcastExchange") == 1, plan


def test_ivf_refined_assign_moves_centroids(spark, embeddings):
    """One k-means iteration must produce a valid total assignment (every
    vector exactly once) and be deterministic across partitionings."""
    a = similarity.ivf_assign(embeddings, 8, refine_iters=1)
    b = similarity.ivf_assign(embeddings.repartition(7), 8, refine_iters=1)
    ra = sorted(tuple(r) for r in a.collect())
    rb = sorted(tuple(r) for r in b.collect())
    assert ra == rb
    assert len(ra) == embeddings.count()
    assert {c for _, c in ra} <= set(range(8))


def test_adjacent_overlap_sparse_ids_cross_empty_buckets(spark):
    """Bucketed lag == global lag even when consecutive doc_ids span empty
    buckets (the boundary summary lags over NON-EMPTY buckets)."""
    rows = [
        (1, "alpha beta gamma"),
        (5, "alpha beta delta"),        # vs 1: {alpha, beta} -> 2
        (250_001, "beta delta omega"),  # vs 5 across empty buckets -> 2
        (250_002, "zz yy xx"),          # vs 250_001: 0 common -> dropped
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = relational.adjacent_word_overlap(docs, bucket_size=10)
    got = {r["doc_id"]: r["common_words"] for r in out.collect()}
    assert got == {5: 2, 250_001: 2}


def test_nfc_canonicalizes_decomposed_input(spark):
    """NFD (decomposed) and NFC (composed) encodings of the same string must
    produce the same normalized text — the property that makes exact dedup
    correct on mixed-encoding corpora."""
    import unicodedata

    composed = "Hà Nội quyết định"
    decomposed = unicodedata.normalize("NFD", composed)
    assert composed != decomposed  # genuinely different byte sequences
    df = spark.createDataFrame(
        [(1, composed), (2, decomposed)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r["text_nfc"] for r in textops.nfc_normalized(df).collect()}
    assert out[1] == out[2] == composed


def test_redact_pii_counts_and_replaces(spark):
    df = spark.createDataFrame(
        [(1, "mail a.b+c@x-corp.co.uk or call +84 912-345 678 now, id 42")],
        "doc_id long, text string",
    )
    r = textops.redact_pii(df).collect()[0]
    assert r["n_emails"] == 1 and r["n_phones"] == 1
    assert "[EMAIL]" in r["redacted"] and "[PHONE]" in r["redacted"]
    assert "x-corp" not in r["redacted"] and "912" not in r["redacted"]
    assert "id 42" in r["redacted"]  # short digit runs survive


def test_asof_join_semantics(spark):
    """At-or-before matching, NULL when no prior right row, equal-ts rows
    match (right sorts before left at the same instant)."""
    from datetime import datetime as dt

    left = spark.createDataFrame(
        [(1, 10, dt(2024, 1, 1, 0, 0, 10)),
         (2, 10, dt(2024, 1, 1, 0, 0, 5)),
         (3, 10, dt(2024, 1, 1, 0, 0, 1)),
         (4, 20, dt(2024, 1, 1, 0, 0, 30))],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(10, dt(2024, 1, 1, 0, 0, 2), 1.5),
         (10, dt(2024, 1, 1, 0, 0, 5), 2.5),   # equal ts as event 2
         (30, dt(2024, 1, 1, 0, 0, 0), 9.9)],  # other key: never matches
        "user_id long, ts timestamp, value double",
    )
    out = relational.asof_join(
        left, right, key="user_id", ts="ts", value_col="value"
    )
    got = {r["event_id"]: r["asof_value"] for r in out.collect()}
    assert got == {1: 2.5, 2: 2.5, 3: None, 4: None}


def test_deterministic_sample_partitioning_invariant(spark, docs):
    from legal_document_ocr_spark.operators import sampling

    a = sampling.deterministic_sample(docs, 0.3, key_col="doc_id")
    b = sampling.deterministic_sample(docs.repartition(13), 0.3, key_col="doc_id")
    ids_a = sorted(r["doc_id"] for r in a.collect())
    ids_b = sorted(r["doc_id"] for r in b.collect())
    assert ids_a == ids_b
    n, total = len(ids_a), docs.count()
    assert 0.2 * total < n < 0.4 * total  # ~fraction, hash-uniform
    # idempotent under re-sampling at same fraction (same membership fn)
    assert sorted(
        r["doc_id"]
        for r in sampling.deterministic_sample(a, 0.3, key_col="doc_id").collect()
    ) == ids_a


def test_domain_profile_counts_and_dup_ratio(spark):
    from datetime import datetime as dt

    from legal_document_ocr_spark.sources.pages import PAGES_SCHEMA

    rows = [
        ("https://a.com/1", dt(2024, 1, 1), b"<p>xx one</p>", "t", "en"),
        ("https://a.com/2", dt(2024, 1, 1), b"<p>xx one</p>", "t", "en"),  # dup
        ("https://b.com/1", dt(2024, 1, 1), b"<p>yy two</p>", "t", "en"),
    ]
    df = spark.createDataFrame(rows, PAGES_SCHEMA)
    got = {r["domain"]: r for r in relational.domain_profile(df).collect()}
    assert got["a.com"]["n_pages"] == 2
    assert got["a.com"]["distinct_payloads"] == 1
    assert got["a.com"]["dup_ratio"] == 0.5
    assert got["b.com"]["dup_ratio"] == 0.0


def test_partitioned_sink_prunes_on_read(spark, docs, tmp_path):
    """S7: a lang= filter over the partitionBy(lang) tree must reach the scan
    as a PartitionFilter (only matching directories listed), and the slice
    must round-trip exactly."""
    from legal_document_ocr_spark.plans.inspect import partition_filters
    from legal_document_ocr_spark.sources.sink import (
        read_partition,
        write_partitioned,
    )

    out = str(tmp_path / "tree")
    write_partitioned(docs.select("doc_id", "text", "lang"), out, ("lang",))
    sliced = read_partition(spark, out, lang="en")
    pf = partition_filters(sliced)
    assert any("lang" in f for f in pf), pf
    want = {r["doc_id"] for r in docs.where(F.col("lang") == "en").collect()}
    assert {r["doc_id"] for r in sliced.collect()} == want


def test_span_score_thresholds_like_confidence(spark):
    """P8: spans carry an extraction-confidence score; link-heavy blocks that
    survive the keep filter score lower than clean prose of equal length."""
    from legal_document_ocr_spark.kernels import extract_page

    clean = "<html><body><p>" + ("word " * 120) + "</p></body></html>"
    linky = (
        "<html><body><p>"
        + ("word " * 80)
        + '<a href="/x">' + ("link " * 40) + "</a>"
        + "</p></body></html>"
    )
    s_clean = extract_page(clean.encode())["spans"][0]["score"]
    s_linky = extract_page(linky.encode())["spans"][0]["score"]
    assert 0.0 < s_linky < s_clean <= 1.0


def test_adjacent_overlap_no_corpus_global_window(spark, docs):
    """The corpus-side window is partitioned by the id-range bucket; the only
    single-partition stage is the bounded per-bucket summary."""
    plan = _plan(relational.adjacent_word_overlap(docs))
    assert plan.count("Exchange SinglePartition") <= 1, plan
    assert "hashpartitioning(_bucket" in plan, plan


def test_connected_components_transitive_chain(spark):
    """A~B, B~C, C~D collapse to one cluster labeled min(id); isolated nodes
    stay their own cluster. A 12-node path also converges (pointer jumping
    needs O(log n) rounds, well under max_iters)."""
    nodes = spark.createDataFrame([(i,) for i in range(20)], "doc_id long")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)] + [(i, i + 1) for i in range(10, 19)],
        "id_a long, id_b long",
    )
    out = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.connected_components(nodes, edges).collect()
    }
    assert out[1] == out[2] == out[3] == out[4] == 1
    assert all(out[i] == 10 for i in range(10, 20))
    assert out[0] == 0 and out[5] == 5  # singletons untouched
    assert len(out) == 20


def test_dedup_clusters_representative_election(spark):
    """dedup_clusters marks exactly one representative per cluster and its
    id equals the cluster_id (min member)."""
    d = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta"),
            (3, "alpha beta gamma delta epsilon eta"),
            (9, "totally different words entirely here now"),
        ],
        "doc_id long, text string",
    )
    rows = dedup.dedup_clusters(d, threshold=0.4).collect()
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for cid, members in by_cluster.items():
        reps = [m for m in members if m["is_representative"] == 1]
        assert len(reps) == 1 and reps[0]["doc_id"] == cid
        assert all(m["cluster_size"] == len(members) for m in members)
    assert rows and {r["doc_id"] for r in rows} == {1, 2, 3, 9}


def test_line_dedup_drops_boilerplate_keeps_order(spark):
    """A 10-token segment repeated across >max_df docs is removed everywhere;
    unique segments survive in original order; all-boilerplate docs yield
    NULL kept_text with n_kept=0."""
    nav = " ".join(f"nav{i}" for i in range(10))
    rows = [(i, nav + " " + " ".join(f"u{i}w{j}" for j in range(10))) for i in range(6)]
    rows.append((6, nav))  # all boilerplate
    rows.append((7, " ".join(f"solo{j}" for j in range(25))))  # 3 lines, all unique
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in textops.line_dedup(d, max_df=5).collect()}
    for i in range(6):
        assert out[i]["n_lines"] == 2 and out[i]["n_kept"] == 1
        assert out[i]["kept_text"] == " ".join(f"u{i}w{j}" for j in range(10))
    assert out[6]["n_kept"] == 0 and out[6]["kept_text"] is None
    assert out[7]["n_kept"] == 3
    assert out[7]["kept_text"] == " ".join(f"solo{j}" for j in range(25))


def test_contamination_flags_benchmark_overlap(spark):
    """A doc copying a benchmark doc scores 1.0; disjoint text scores 0.0;
    a half-overlapping doc lands strictly between; too-short docs are NULL."""
    bench = spark.createDataFrame(
        [(100, "secret eval question about spark shuffles here")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "secret eval question about spark shuffles here"),
            (2, "completely unrelated words that never appeared before"),
            (3, "secret eval question about something else entirely now"),
            (4, "hi there"),  # < 3 tokens -> no shingles
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup.benchmark_contamination(corpus, bench).collect()}
    assert out[1]["contamination"] == 1.0
    assert out[2]["contamination"] == 0.0
    assert 0.0 < out[3]["contamination"] < 1.0
    assert out[4]["contamination"] is None and out[4]["n_shingles"] == 0


def test_quality_classifier_orders_quality(spark):
    """Clean stopword-rich prose keeps; punctuation soup drops; logit_micro
    is the floor-scaled logit (monotone in the raw score)."""
    d = spark.createDataFrame(
        [
            (1, "the quick brown fox is on the mat and it is a very fine day " * 5),
            (2, "@@@ ### !!! ;;; ::: %%% &&& *** ((( ))) $$$ " * 5),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in textops.quality_classifier(d).collect()}
    assert out[1]["clf_keep"] == 1 and out[2]["clf_keep"] == 0
    assert out[1]["clf_logit_micro"] > 0 > out[2]["clf_logit_micro"]


def test_ivf_refinement_reduces_inertia(spark, embeddings):
    """k-means property: each refinement iteration is non-increasing in
    inertia (sum of squared distances to the assigned centroid), and the
    first iteration strictly improves on the raw id-seeded centroids."""
    corpus = embeddings.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )

    def inertia(refine_iters: int) -> float:
        cents = embeddings.where(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("cell_id"),
            F.transform("embedding", lambda x: x.cast("double")).alias("cv"),
        )
        for _ in range(refine_iters):
            assigned = similarity._assign_to_centroids(corpus, cents, "vec_id")
            cents = similarity._refine_centroids(corpus, assigned, "vec_id")
        d = corpus.crossJoin(F.broadcast(cents)).select(
            "vec_id", similarity.sq_dist_expr(F.col("v"), F.col("cv")).alias("dist")
        )
        return (
            d.groupBy("vec_id").agg(F.min("dist").alias("m"))
            .agg(F.sum("m")).collect()[0][0]
        )

    i0, i1, i2 = inertia(0), inertia(1), inertia(2)
    assert i1 < i0
    assert i2 <= i1 + 1e-9


def test_dedup_family_plans_have_no_corpus_broadcasts(spark):
    """Every pair/cluster/line operator joins corpus-sized computed frames —
    none may appear as a BroadcastExchange (the planner happily broadcasts
    them at test scale; at corpus scale that funnels the table through the
    driver). benchmark_contamination keeps exactly ONE broadcast: the bounded
    benchmark shingle set."""
    import legal_document_ocr_spark.queries as Q

    zero_broadcast = [
        "minhash_pairs", "simhash_pairs", "neardup_verified",
        "dedup_clusters", "line_dedup", "embedding_near_dups",
        "image_near_pairs", "dup_substring_runs",
        # round-4 late additions: same corpus-pair-join discipline
        "containment_pairs", "prefix_jaccard", "bitext_candidates",
    ]
    for name in zero_broadcast:
        plan = _plan(Q.SPARK[name](spark, SF))
        assert plan.count("BroadcastExchange") == 0, f"{name}:\n{plan}"
    plan = _plan(Q.SPARK["contamination"](spark, SF))
    assert plan.count("BroadcastExchange") == 1, plan


def test_graph_frontier_plans_have_no_corpus_broadcasts(spark):
    """crawl_frontier joins the candidate-url frontier against the per-host
    rank table; hosts are ~1e8 rows at Common-Crawl scale, so the rank side
    must travel as a shuffle exchange, never a BroadcastExchange through the
    driver (VERDICT r2 'What's wrong' #1). host_pagerank itself iterates a
    shuffle_hash join per round — also zero broadcasts."""
    import legal_document_ocr_spark.queries as Q

    for name in ["crawl_frontier", "host_pagerank"]:
        plan = _plan(Q.SPARK[name](spark, SF))
        assert plan.count("BroadcastExchange") == 0, f"{name}:\n{plan}"


def test_incremental_dedup_admits_only_new_content(spark):
    """Cross-corpus dups and intra-batch dups are both rejected; one
    representative (min doc_id) per genuinely-new hash is admitted."""
    corpus = spark.createDataFrame(
        [(1, "seen before text one"), (2, "seen before text two")],
        "doc_id long, text string",
    )
    arriving = spark.createDataFrame(
        [
            (10, "seen before text one"),   # cross-corpus dup -> reject
            (11, "brand new text alpha"),   # admit
            (12, "brand new text alpha"),   # intra-batch dup -> collapse to 11
            (13, "brand new text beta"),    # admit
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"] for r in dedup.incremental_dedup(corpus, arriving).collect()}
    assert out == {11, 13}


def test_chunk_documents_windows_and_overlap(spark):
    """95 tokens with window=50/stride=40 -> chunks [0:50], [40:90], [80:95]
    (every token covered, ceil((n-w)/s)+1 chunks); empty docs produce no
    chunks; short docs produce one full-copy chunk."""
    long_doc = " ".join(f"t{i}" for i in range(95))
    d = spark.createDataFrame(
        [(1, long_doc), (2, "only three tokens"), (3, "")],
        "doc_id long, text string",
    )
    rows = textops.chunk_documents(d).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_id"])
    assert [r["n_tokens"] for r in c1] == [50, 50, 15]
    assert c1[1]["chunk_text"].split()[0] == "t40"
    assert c1[2]["chunk_text"].split() == [f"t{i}" for i in range(80, 95)]
    assert [r["n_tokens"] for r in by_doc[2]] == [3]
    assert 3 not in by_doc


def test_pack_sequences_offsets_are_contiguous(spark, docs):
    """Offsets in doc_id order tile the token stream exactly: each doc starts
    where the previous ended, and seq ids match floor(offset / seq_len).
    The corpus-side cumsum must not be a single global-window partition."""
    out = sorted(
        textops.pack_sequences(docs, bucket_size=100).collect(),
        key=lambda r: r["doc_id"],
    )
    off = 0
    for r in out:
        assert r["start_offset"] == off
        assert r["first_seq"] == off // 64
        assert r["last_seq"] == (off + r["n_tokens"] - 1) // 64
        off += r["n_tokens"]
    plan = _plan(textops.pack_sequences(docs, bucket_size=100))
    assert plan.count("Exchange SinglePartition") <= 1, plan
    assert "hashpartitioning(_bucket" in plan, plan


def test_lm_scores_rank_anomalous_text_higher(spark):
    """Self-trained bigram LM: documents matching the corpus distribution
    score lower avg-NLL than an anomalous outlier; sub-2-char docs are NULL."""
    rows = [(i, "the cat sat on the mat near the hat") for i in range(8)]
    rows += [(100, "zqxj vwkp qzzx jjvw pkqz")]  # out-of-distribution bigrams
    rows += [(101, "x")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in textops.lm_scores(d).collect()}
    normal = max(out[i]["nll_micro"] for i in range(8))
    assert out[100]["nll_micro"] > normal
    assert out[101]["nll_micro"] is None and out[101]["n_bigrams"] == 0


def test_mixture_weights_rebalances_toward_target(spark):
    """Over-represented groups downsample toward the target share;
    under-represented groups cap at keep-all; unlisted groups drop."""
    from legal_document_ocr_spark.operators import sampling

    rows = [(i, "a") for i in range(80)] + [(100 + i, "b") for i in range(20)]
    rows += [(200 + i, "c") for i in range(10)]
    d = spark.createDataFrame(rows, "doc_id long, grp string")
    out = sampling.mixture_weights(
        d, {"a": 0.5, "b": 0.5}, key_col="doc_id", group_col="grp"
    ).collect()
    by = {}
    for r in out:
        by.setdefault(r["grp"], []).append(r)
    # a: rate = 0.5*110/80 -> 0.6875 -> threshold 6875
    assert all(r["keep_threshold"] == 6875 for r in by["a"])
    # b: rate = 0.5*110/20 -> capped at 1.0 -> keep all
    assert all(r["keep_threshold"] == 10000 and r["keep"] == 1 for r in by["b"])
    assert all(r["keep_threshold"] == 0 and r["keep"] == 0 for r in by["c"])
    kept_a = sum(r["keep"] for r in by["a"])
    assert 0 < kept_a < 80


def test_canonicalize_urls_edge_cases(spark):
    """Scheme/host casing, default ports, fragments, tracking params, param
    sorting, trailing/empty paths; https keeps :8443, already-canonical rows
    flag changed=0."""
    from legal_document_ocr_spark.operators import urls

    rows = [
        (r"HTTPS://WWW.Site.COM:443/A/B/?b=2&utm_source=t&a=1#x",),
        (r"http://site.com:8080/p",),      # non-default port kept
        (r"https://site.com:8443/",),      # non-default https port kept
        (r"http://site.com",),             # empty path -> '/'
        (r"http://site.com/a?fbclid=1&gclid=2&ref=3",),  # all tracking
        (r"http://site.com/a",),           # already canonical
    ]
    df = spark.createDataFrame(rows, "url string")
    out = {r["url"]: r for r in urls.canonicalize_urls(df).collect()}
    assert out[rows[0][0]]["canonical_url"] == "https://www.site.com/A/B?a=1&b=2"
    assert out[rows[1][0]]["canonical_url"] == "http://site.com:8080/p"
    assert out[rows[2][0]]["canonical_url"] == "https://site.com:8443/"
    assert out[rows[3][0]]["canonical_url"] == "http://site.com/"
    assert out[rows[4][0]]["canonical_url"] == "http://site.com/a"
    assert out[rows[5][0]]["changed"] == 0
    assert out[rows[0][0]]["host"] == "www.site.com"


def test_chunk_documents_reconstruct_corpus(spark, docs):
    """Invariant over the whole test corpus: stride-prefixes of all chunks
    but the last, plus the last chunk, reconstruct the token stream exactly
    (no token lost or duplicated beyond the declared overlap)."""
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    chunks = {}
    for r in textops.chunk_documents(docs).collect():
        chunks.setdefault(r["doc_id"], {})[r["chunk_id"]] = r["chunk_text"].split()
    for doc_id, text in texts.items():
        toks = text.lower().split()
        got = chunks.get(doc_id, {})
        if not toks:
            assert got == {}
            continue
        parts = [got[i] for i in sorted(got)]
        rebuilt = [t for p in parts[:-1] for t in p[:40]] + parts[-1]
        assert rebuilt == toks, doc_id


def test_line_dedup_matches_independent_recomputation(spark, docs):
    """line_dedup against a from-scratch pure-Python recomputation of the
    same spec (segment, count distinct docs per line, filter, reassemble)."""
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    lines_by_doc = {}
    for doc_id, text in texts.items():
        toks = text.lower().split()
        lines_by_doc[doc_id] = [
            " ".join(toks[i : i + 10]) for i in range(0, len(toks), 10)
        ]
    df_count = {}
    for doc_id, lines in lines_by_doc.items():
        for ln in set(lines):
            df_count[ln] = df_count.get(ln, 0) + 1
    out = {r["doc_id"]: r for r in textops.line_dedup(docs).collect()}
    for doc_id, lines in lines_by_doc.items():
        kept = [ln for ln in lines if df_count[ln] <= 5]
        r = out[doc_id]
        assert r["n_lines"] == len(lines)
        assert r["n_kept"] == len(kept)
        assert r["kept_text"] == (" ".join(kept) if kept else None)


def test_extract_links_resolution(spark):
    """Root-relative hrefs resolve against the page host; absolute hrefs
    pass through; positions preserve document order."""
    from legal_document_ocr_spark.operators import urls

    html = b'<a href="/a">x</a><a href="https://other.com/b">y</a><a href="/c">z</a>'
    df = spark.createDataFrame(
        [("https://h.example.com/p", html)], "url string, html binary"
    )
    rows = sorted(urls.extract_links(df).collect(), key=lambda r: r["link_pos"])
    assert [r["resolved"] for r in rows] == [
        "https://h.example.com/a",
        "https://other.com/b",
        "https://h.example.com/c",
    ]


def test_pagerank_favors_in_degree_and_conserves_mass(spark):
    """Star graph: the hub collects rank from all spokes; total mass stays
    within [1 - d*dangling_share, 1] (dangling mass is dropped by contract:
    the hub here has no out-edges)."""
    from legal_document_ocr_spark.operators import graph

    edges = spark.createDataFrame(
        [(f"s{i}", "hub") for i in range(5)] + [("hub", "s0")],
        "src string, dst string",
    )
    out = {r["node"]: r["rank_nano"] for r in graph.pagerank(edges).collect()}
    assert out["hub"] == max(out.values())
    assert out["hub"] > out["s1"]
    total = sum(out.values()) / 1e9
    assert 0.5 < total <= 1.0 + 1e-6


def test_trust_rank_decays_from_seeds_and_broadcasts_only_seeds(spark):
    """Chain seed -> a -> b -> c plus a spam pair far from the seed:
    trust decays monotonically along the chain and the unreachable spam
    pair gets ZERO trust — the pagerank contrast that flags link farms.
    (Join hygiene is source-pinned: only the bounded seed list is
    broadcast; edge x rank joins carry hint('shuffle_hash') like
    pagerank's, whose plan shape the frontier test locks.)"""
    from legal_document_ocr_spark.operators import graph

    edges = spark.createDataFrame(
        [("seed", "a"), ("a", "b"), ("b", "c"),
         ("spam1", "spam2"), ("spam2", "spam1")],
        "src string, dst string",
    )
    seeds = spark.createDataFrame([("seed",)], "node string")
    ranks = graph.trust_rank(edges, seeds, iters=4)
    out = {r["node"]: r["trust_nano"] for r in ranks.collect()}
    assert out["seed"] > out["a"] > out["b"] > out["c"] > 0
    assert out["spam1"] == 0 and out["spam2"] == 0
    # no seed in graph -> explicit error, not a silent div-by-zero
    import pytest as _pytest
    with _pytest.raises(ValueError):
        graph.trust_rank(
            edges, spark.createDataFrame([("absent",)], "node string")
        )


def test_html_to_markdown_structure_and_tag_delimiting(spark):
    from legal_document_ocr_spark.operators.urls import html_to_markdown

    html = (
        "<html><head><title>T</title><script>var x=1;</script></head>"
        "<body><h1>Top</h1><p>A <b>big</b> <i>word</i>.</p>"
        '<ul><li>one</li><li><a href="https://x.com/1">two</a></li></ul>'
        "<pre>keep me</pre>line one<br/>line two</body></html>"
    )
    df = spark.createDataFrame([(1, html)], "id long, html string")
    md = html_to_markdown(df).collect()[0].markdown
    assert md.startswith("# Top\n\n")
    assert "**big** *word*." in md
    assert "- one\n- [two](https://x.com/1)" in md
    assert "keep me" in md          # <pre> must not match the p-pass
    assert "line one\nline two" in md  # <br/> must not match the b-pass
    assert "var x=1" not in md and "T" != md[0]  # head dropped entirely
    plan = html_to_markdown(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # scan-local projection


def test_ip_range_lookup_boundaries_and_plan(spark):
    """Inclusive boundaries, multi-bucket ranges, NULL on no-match — and
    the plan must be a shuffled EQUI join on the bucket key, never the
    BroadcastNestedLoopJoin a bare BETWEEN join degenerates to."""
    from legal_document_ocr_spark.operators.urls import ip_range_lookup

    ranges = spark.createDataFrame(
        [(100, 200, "a"),                     # within one /16 bucket
         (3 * 65536, 5 * 65536 + 10, "b")],   # spans three buckets
        "start_ip long, end_ip long, label string",
    )
    ips = spark.createDataFrame(
        [(1, 100), (2, 200), (3, 201), (4, 4 * 65536), (5, 5 * 65536 + 10),
         (6, 5 * 65536 + 11)],
        "id long, ip long",
    )
    out = ip_range_lookup(ips, ranges)
    got = {r.id: r.label for r in out.collect()}
    assert got == {1: "a", 2: "a", 3: None, 4: "b", 5: "b", 6: None}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "ShuffledHashJoin" in plan, plan


def test_zorder_keys_interleave_and_edges(spark):
    """Values spanning exactly [0, 2^bits) rank to themselves, so the key
    equals the textbook Morton interleave; constant columns rank to 0
    instead of dividing by zero; bits is validated."""
    import pytest as _pytest
    from legal_document_ocr_spark.scale.layout import zorder_keys

    df = spark.createDataFrame(
        [(x, y) for x in range(8) for y in range(8)], "x long, y long"
    )
    out = {(r.x, r.y): r.z_key for r in zorder_keys(df, "x", "y", bits=3).collect()}
    assert out[(5, 3)] == 0b011011  # x=101 even bits, y=011 odd bits
    assert out[(0, 0)] == 0 and out[(7, 7)] == 63
    assert sorted(out.values()) == list(range(64))  # bijection on the grid
    const = spark.createDataFrame([(1, 9), (2, 9)], "x long, y long")
    vals = {r.x: r.z_key for r in zorder_keys(const, "x", "y", bits=3).collect()}
    assert vals[1] == 0  # y constant -> rank 0; x=1 ranks 0 (min)
    with _pytest.raises(ValueError):
        zorder_keys(df, "x", "y", bits=0)


def test_canonicalization_is_idempotent(spark, docs):
    """canon(canon(u)) == canon(u) over the dirtied corpus urls — the fixpoint
    property that makes the canonical form usable as a join key."""
    from legal_document_ocr_spark.operators import urls
    import legal_document_ocr_spark.queries as Q

    once = Q.SPARK["canonical_urls"](spark, SF).select(
        F.col("canonical_url").alias("url")
    )
    twice = urls.canonicalize_urls(once)
    assert twice.where(F.col("changed") != 0).count() == 0


def test_packed_rows_rebuild_the_token_stream(spark, docs):
    """Concatenating seq_text in seq_id order reproduces the corpus token
    stream in doc_id order exactly; every sequence but the last is full."""
    out = sorted(
        textops.packed_sequence_rows(docs).collect(), key=lambda r: r["seq_id"]
    )
    assert all(r["n_tokens"] == 64 for r in out[:-1])
    rebuilt = " ".join(r["seq_text"] for r in out).split()
    stream = [
        t
        for r in sorted(docs.collect(), key=lambda r: r["doc_id"])
        for t in r["text"].lower().split()
    ]
    assert rebuilt == stream


def test_canonicalize_fragment_query_and_protocol_relative_links(spark):
    """Review regressions: a '?' inside the fragment is NOT a query string;
    protocol-relative hrefs resolve to the href's own host, not the page's."""
    from legal_document_ocr_spark.operators import urls

    df = spark.createDataFrame(
        [("https://site.com/app#/route?tab=2",)], "url string"
    )
    row = urls.canonicalize_urls(df).collect()[0]
    assert row["canonical_url"] == "https://site.com/app"

    html = b'<a href="//cdn.other.com/lib.js">x</a>'
    pages = spark.createDataFrame(
        [("https://h.example.com/p", html)], "url string, html binary"
    )
    link = urls.extract_links(pages).collect()[0]
    assert link["resolved"] == "https://cdn.other.com/lib.js"


def test_asof_dedupe_right_rejects_order_sensitive_aggregates(spark):
    events = spark.createDataFrame(
        [(1, 1, 1.0)], "user_id long, ts long, value double"
    )
    with pytest.raises(ValueError):
        relational.asof_join(
            events, events, key="user_id", ts="ts",
            value_col="value", dedupe_right="first",
        )


def test_canonicalize_passes_through_unparseable(spark):
    """No scheme://authority -> input unchanged (changed=0), never ':///'
    garbage that collides all malformed urls onto one key."""
    from legal_document_ocr_spark.operators import urls

    rows = [("not a url at all",), ("mailto:a@b.com",), ("",)]
    out = {r["url"]: r for r in urls.canonicalize_urls(
        spark.createDataFrame(rows, "url string")).collect()}
    for (u,) in rows:
        assert out[u]["canonical_url"] == u and out[u]["changed"] == 0


def test_warc_binary_parse_recovers_non_utf8_payload_byte_exact(spark):
    """Byte-framed parse: Content-Length counts octets, payload bytes are
    recovered EXACTLY even when they are not valid UTF-8, and trailing
    record garbage past Content-Length is excluded."""
    from legal_document_ocr_spark.sources.warc import parse_warc_records_binary

    payload = bytes([0x00, 0xFF, 0xC3]) + "héllo".encode() + bytes([0x80])
    head = (
        "WARC/1.0\r\n"
        "WARC-Type: response\r\n"
        "WARC-Target-URI: https://real.example.com/a\r\n"
        "WARC-Date: 2024-01-01T00:00:00Z\r\n"
        f"Content-Length: {len(payload)}\r\n"
        "\r\n"
    ).encode()
    rec = head + payload + b"\r\n\r\ntrailing-garbage"
    df = spark.createDataFrame([(rec,)], "record_bytes binary")
    row = parse_warc_records_binary(df).collect()[0]
    assert row["url"] == "https://real.example.com/a"
    assert row["content_length"] == len(payload)
    assert bytes(row["payload"]) == payload


def test_warc_parse_is_header_spoof_resistant(spark):
    """A payload containing 'WARC-Target-URI:' text must NOT override the
    real header: headers are only read before the first blank line."""
    from legal_document_ocr_spark.sources.warc import parse_warc_records

    rec = (
        "WARC/1.0\r\n"
        "WARC-Type: response\r\n"
        "WARC-Target-URI: https://real.example.com/a\r\n"
        "WARC-Date: 2024-01-01T00:00:00Z\r\n"
        "Content-Length: 41\r\n"
        "\r\n"
        "WARC-Target-URI: https://spoof.evil.com/x\r\n"
    )
    df = spark.createDataFrame([(rec,)], "record string")
    row = parse_warc_records(df).collect()[0]
    assert row["url"] == "https://real.example.com/a"
    assert row["payload"].startswith("WARC-Target-URI: https://spoof")
    assert row["content_length"] == 41


def test_snapshot_diff_classifies_all_states(spark):
    old = spark.createDataFrame(
        [(1, "h1"), (2, "h2"), (3, "h3")], "doc_id long, content_hash string"
    )
    new = spark.createDataFrame(
        [(2, "h2"), (3, "h3x"), (4, "h4")], "doc_id long, content_hash string"
    )
    out = {r["doc_id"]: r["status"]
           for r in relational.snapshot_diff(old, new, key_col="doc_id").collect()}
    assert out == {1: "removed", 2: "unchanged", 3: "changed", 4: "added"}


def test_kmv_estimate_ignores_duplicates_and_is_exact_when_k_covers(spark):
    """With k >= true distinct count the sketch degrades gracefully: every
    distinct hash is in the min-set, and duplicates never inflate k_used."""
    rows = [(i, f"text number {i % 10}") for i in range(100)]  # 10 distinct
    d = spark.createDataFrame(rows, "doc_id long, text string")
    r = dedup.kmv_distinct(d, k=64, exact=True).collect()[0]
    assert r["k_used"] == 10 and r["exact_distinct"] == 10


def test_snapshot_diff_null_hash_is_not_presence(spark):
    """A NULL hash on one side of a present-in-both key means changed (or
    unchanged when both NULL) — never added/removed."""
    old = spark.createDataFrame(
        [(1, "h1"), (2, None), (3, None)], "doc_id long, content_hash string"
    )
    new = spark.createDataFrame(
        [(1, None), (2, "h2"), (3, None)], "doc_id long, content_hash string"
    )
    out = {r["doc_id"]: r["status"]
           for r in relational.snapshot_diff(old, new, key_col="doc_id").collect()}
    assert out == {1: "changed", 2: "changed", 3: "unchanged"}


def test_kmv_small_cardinality_is_exact_and_empty_is_safe(spark):
    rows = [(i, f"text number {i % 10}") for i in range(100)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    r = dedup.kmv_distinct(d, k=64, exact=True).collect()[0]
    assert r["k_used"] == 10 and r["est_distinct"] == 10 == r["exact_distinct"]
    empty = spark.createDataFrame([], "doc_id long, text string")
    r0 = dedup.kmv_distinct(empty, k=64, exact=True).collect()[0]
    assert r0["k_used"] == 0 and r0["est_distinct"] == 0
    assert r0["kth_min"] is None and r0["exact_distinct"] == 0
    # production default: no exact ride-along column, and the plan carries
    # no corpus-wide distinct aggregation (VERDICT r2 "What's wrong" #3)
    sk = dedup.kmv_distinct(d, k=64)
    assert "exact_distinct" not in sk.columns
    plan = sk._jdf.queryExecution().executedPlan().toString()
    assert "count(distinct" not in plan.lower(), plan


def test_mixture_weights_integer_group_keys(spark):
    from legal_document_ocr_spark.operators import sampling

    d = spark.createDataFrame(
        [(i, i % 2) for i in range(40)], "doc_id long, grp int"
    )
    out = sampling.mixture_weights(
        d, {0: 0.5, 1: 0.25}, key_col="doc_id", group_col="grp"
    ).collect()
    assert {r["grp"] for r in out} == {0, 1}
    assert all(r["keep_threshold"] in (10000, 5000) for r in out)


def test_lm_scores_scoring_plan_is_exchange_free(spark, docs):
    """Round-3 fuse (VERDICT r2 ask #9): with a bounded vocabulary the LM
    scoring plan is ONE scan — the model rides as a map literal, so the
    executed plan carries no Exchange, no Join, no ArrowEvalPython."""
    plan = (
        textops.lm_scores(docs.select("doc_id", "text"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for op in ("Exchange", "Join", "ArrowEvalPython"):
        assert op not in plan, f"{op} in scoring plan:\n{plan}"


def test_image_resize_nearest_up_and_down(spark):
    """Nearest-neighbor resize: downscale picks floor-mapped sources,
    upscale replicates pixels; malformed payloads flag, not fail."""
    from legal_document_ocr_spark.codecs import encode_png
    from legal_document_ocr_spark.operators.multimodal import resize_nearest

    # 4x2 gradient -> 2x1: picks (0,0) and (2,0)
    img = {"width": 4, "height": 2, "mode": "L",
           "pixels": bytes([0, 1, 2, 3, 10, 11, 12, 13])}
    small = resize_nearest(img, 2, 1)
    assert small["pixels"] == bytes([0, 2])
    # 1x1 -> 3x3 replicates
    up = resize_nearest({"width": 1, "height": 1, "mode": "L",
                         "pixels": bytes([7])}, 3, 3)
    assert up["pixels"] == bytes([7] * 9)
    # RGB channels stay interleaved
    rgb = resize_nearest(
        {"width": 2, "height": 1, "mode": "RGB",
         "pixels": bytes([1, 2, 3, 4, 5, 6])}, 1, 1)
    assert rgb["pixels"] == bytes([1, 2, 3])

    rows = [(1, encode_png(4, 2, bytes(range(8)), 0)), (2, b"\x89PNGbad")]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in multimodal.image_resize(df, 2, 2).collect()}
    assert out[1]["px_sum"] == 0 + 2 + 4 + 6 and out[1]["error"] is None
    assert out[2]["error"] is not None


def test_parse_robots_rules_section_logic(spark):
    """Disallow lines bind to the most recent User-agent group: non-*
    groups are ignored, empty Disallow (allow-all) is dropped, CRLF and
    case survive."""
    from legal_document_ocr_spark.operators import urls

    robots = (
        "User-agent: evilbot\r\n"
        "Disallow: /secret\r\n"
        "user-agent: *\r\n"
        "disallow: /private\r\n"
        "Disallow:\r\n"          # allow-all: dropped
        "Disallow: /tmp\r\n"
        "User-agent: otherbot\r\n"
        "Disallow: /other\r\n"
    )
    df = spark.createDataFrame([("h.com", robots)], "host string, robots_txt string")
    rules = {(r["host"], r["prefix"])
             for r in urls.parse_robots_rules(df).collect()}
    assert rules == {("h.com", "/private"), ("h.com", "/tmp")}


def test_filter_disallowed_and_politeness_topk(spark):
    from legal_document_ocr_spark.operators import urls

    frontier = spark.createDataFrame(
        [
            ("https://h.com/private/x", "h.com", 9),
            ("https://h.com/pub/a", "h.com", 8),
            ("https://h.com/pub/b", "h.com", 7),
            ("https://h.com/pub/c", "h.com", 6),
            ("https://other.com/private/y", "other.com", 5),
        ],
        "url string, host string, rank_nano long",
    )
    rules = spark.createDataFrame(
        [("h.com", "/private")], "host string, prefix string"
    )
    allowed = urls.filter_disallowed(frontier, rules)
    urls_left = {r["url"] for r in allowed.collect()}
    # other.com has no rules -> its /private url survives
    assert urls_left == {
        "https://h.com/pub/a",
        "https://h.com/pub/b",
        "https://h.com/pub/c",
        "https://other.com/private/y",
    }
    top = urls.politeness_topk(allowed, 2)
    by_host = {}
    for r in top.collect():
        by_host.setdefault(r["host"], []).append(r["url"])
    assert sorted(by_host["h.com"]) == [
        "https://h.com/pub/a", "https://h.com/pub/b"
    ]
    assert by_host["other.com"] == ["https://other.com/private/y"]


def test_extract_anchor_texts_attrs_protocol_relative_and_whitespace(spark):
    """Anchors with extra attributes still match; protocol-relative hrefs
    resolve against the page scheme; inner whitespace collapses; an
    image-only anchor ([^<]* fails on the nested tag) is skipped."""
    from legal_document_ocr_spark.operators import urls

    html = (
        b'<a href="/a" class="nav" id="x1">  Go\n  home </a>'
        b'<a href="//cdn.other.com/lib.js">cdn</a>'
        b'<a href="https://abs.com/p">abs</a>'
        b'<a href="/img"><img src="i.png"></a>'
        b'<a href="/empty"></a>'
    )
    df = spark.createDataFrame(
        [("https://h.example.com/p", html)], "url string, html binary"
    )
    rows = sorted(
        urls.extract_anchor_texts(df).collect(), key=lambda r: r["link_pos"]
    )
    assert [(r["resolved"], r["anchor_text"]) for r in rows] == [
        ("https://h.example.com/a", "Go home"),
        ("https://cdn.other.com/lib.js", "cdn"),
        ("https://abs.com/p", "abs"),
        ("https://h.example.com/empty", ""),
    ]


def test_anchor_text_index_top_phrase_and_counts(spark):
    """Dominant phrase wins by (count, phrase) struct order; empty anchors
    are excluded from the index; n_links counts rows, n_phrases distinct."""
    from legal_document_ocr_spark.operators import urls

    links = spark.createDataFrame(
        [
            ("u1", "https://t.com/x", "Home"),
            ("u2", "https://t.com/x", "home"),
            ("u3", "https://t.com/x", "start"),
            ("u4", "https://t.com/x", ""),
            ("u5", "https://t.com/y", "b"),
            ("u6", "https://t.com/y", "a"),
        ],
        "url string, resolved string, anchor_text string",
    )
    out = {r["target"]: r for r in urls.anchor_text_index(links).collect()}
    x = out["https://t.com/x"]
    assert (x["n_links"], x["n_phrases"]) == (3, 2)
    assert (x["top_phrase"], x["top_count"]) == ("home", 2)
    # tie on count=1 -> lexicographically larger phrase wins (struct max)
    y = out["https://t.com/y"]
    assert (y["top_phrase"], y["top_count"]) == ("b", 1)


def test_extract_html_metadata_missing_fields_are_null(spark):
    """Absent head fields yield NULL (not ''); title is whitespace-collapsed
    and trimmed; charset lowercased."""
    from legal_document_ocr_spark.operators import urls

    rich = (
        b'<html><head><meta charset="UTF-8"><title> A  B </title>'
        b'<meta name="description" content="desc here">'
        b'<link rel="canonical" href="https://c.com/1"></head><body></body></html>'
    )
    bare = b"<html><head></head><body>no head fields</body></html>"
    df = spark.createDataFrame(
        [("u1", rich), ("u2", bare)], "url string, html binary"
    )
    out = {r["url"]: r for r in urls.extract_html_metadata(df).collect()}
    r1 = out["u1"]
    assert r1["title"] == "A B"
    assert r1["meta_description"] == "desc here"
    assert r1["canonical_url"] == "https://c.com/1"
    assert r1["charset"] == "utf-8"
    r2 = out["u2"]
    assert (
        r2["title"] is None
        and r2["meta_description"] is None
        and r2["canonical_url"] is None
        and r2["charset"] is None
    )


def test_cdx_index_offsets_are_contiguous_per_file(spark):
    """Within each warc_file, offsets start at 0 and each record begins
    exactly where the previous one ended; urls/digests parse per record."""
    from legal_document_ocr_spark.sources.warc import (
        cdx_index,
        synthesize_warc_files_df,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    recs = synthesize_warc_files_df(spark, "/root/testdata/sf0.001")
    lengths = {
        (r["warc_file"], r["record_idx"]): len(r["record_bytes"])
        for r in recs.collect()
    }
    rows = cdx_index(recs).collect()
    assert len(rows) == len(lengths)
    by_file = {}
    for r in rows:
        by_file.setdefault(r["warc_file"], []).append(r)
    for f, rs in by_file.items():
        rs.sort(key=lambda r: r["rec_offset"])
        pos = 0
        for r in rs:
            assert r["rec_offset"] == pos
            pos += r["length"]
            assert r["url"].startswith("https://")
            assert len(r["digest"]) == 64
        # file size == sum of record lengths assigned to it
        assert pos == sum(
            v for (wf, _), v in lengths.items() if wf == f
        )


def test_ahash64_rgb_luma_and_resize_paths():
    """RGB images hash via integer luma; non-8x8 inputs nearest-resize
    first; the hash is 16 lowercase hex chars."""
    from legal_document_ocr_spark.operators.multimodal import ahash64

    gray = {
        "width": 8, "height": 8, "mode": "L",
        "pixels": list(range(64)),
    }
    h = ahash64(gray)
    assert len(h) == 16 and h == h.lower()
    # pixels 0..63, total=2016, bit set iff 64*p > 2016 iff p > 31.5 -> last 32
    assert h == "00000000ffffffff"
    big = {
        "width": 16, "height": 16, "mode": "L",
        "pixels": [(x // 2) + 8 * (y // 2) for y in range(16) for x in range(16)],
    }
    # nearest-resize of the doubled image reproduces the 8x8 gradient
    assert ahash64(big) == h
    rgb = {
        "width": 8, "height": 8, "mode": "RGB",
        "pixels": [c for p in range(64) for c in (p, p, p)],
    }
    # gray-equal RGB (luma of (p,p,p) == p) hashes identically
    assert ahash64(rgb) == h


def test_image_near_pairs_pigeonhole_is_complete_at_three_flips(spark):
    """A pair at hamming exactly 3 must be found (pigeonhole completeness);
    a pair at hamming 4 must not."""
    from legal_document_ocr_spark.operators.multimodal import image_near_pairs

    base = int("a" * 16, 16)
    h3 = base ^ 0b111            # 3 bit flips, all inside the last chunk
    h4 = base ^ ((1 << 63) | (1 << 47) | (1 << 31) | 1)  # one flip per chunk
    sigs = spark.createDataFrame(
        [
            (1, f"{base:016x}", None),
            (2, f"{h3:016x}", None),
            (3, f"{h4:016x}", None),
        ],
        "doc_id long, ahash_hex string, error string",
    )
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in image_near_pairs(sigs, max_hamming=3).collect()}
    assert pairs == {(1, 2): 3}


def test_extraction_eval_exact_ppm_metrics(spark):
    """P/R/F1 ppm values on a hand-computed multiset example; both-empty
    docs are omitted; one-sided-empty docs score 0."""
    from legal_document_ocr_spark.operators import textops

    df = spark.createDataFrame(
        [
            # pred: a a b c (4), gold: a b b d (4); inter = min-counts: a:1,b:1 = 2
            (1, "a a b c", "a b b d"),
            (2, "", ""),            # omitted entirely
            (3, "x y", ""),         # gold empty: recall/f1 0, precision 0 (inter 0)
        ],
        "doc_id long, extracted_text string, gold_text string",
    )
    out = {r["doc_id"]: r for r in textops.extraction_eval(df).collect()}
    assert set(out) == {1, 3}
    r1 = out[1]
    assert (r1["pred_tokens"], r1["gold_tokens"], r1["overlap_tokens"]) == (4, 4, 2)
    assert r1["precision_ppm"] == 500000
    assert r1["recall_ppm"] == 500000
    assert r1["f1_ppm"] == 500000
    r3 = out[3]
    assert (r3["pred_tokens"], r3["gold_tokens"]) == (2, 0)
    assert (r3["precision_ppm"], r3["recall_ppm"], r3["f1_ppm"]) == (0, 0, 0)


def test_url_spam_scores_semantics_and_scan_speed(spark):
    from legal_document_ocr_spark.operators import urls

    df = spark.createDataFrame(
        [
            ("http://best-casino-777-win.example.biz/a/b?aff=1&id=2",),
            ("https://docs.example.org/guide",),
            ("https://no-keywords-here.org/",),
        ],
        "url string",
    )
    out = {r["url"]: r for r in urls.url_spam_scores(df).collect()}
    spam = out["http://best-casino-777-win.example.biz/a/b?aff=1&id=2"]
    # kw casino(40) + 3 hyphens(15) + 3 digits(12) + 2 params(6)
    # + depth 2(4) + 31-char host(10)
    assert spam["kw_hits"] == 1
    assert spam["spam_score"] == 40 + 15 + 12 + 6 + 4 + 10
    assert spam["is_spam"]
    clean = out["https://docs.example.org/guide"]
    assert clean["spam_score"] == 2 and not clean["is_spam"]
    # hyphens alone must not condemn a host
    assert not out["https://no-keywords-here.org/"]["is_spam"]
    # scoring is pure codegen: zero shuffles, zero Python
    plan = _plan(urls.url_spam_scores(df))
    assert "Exchange" not in plan and "Python" not in plan, plan


def test_host_template_lines_host_scoped_detection(spark):
    from legal_document_ocr_spark.operators import textops as T

    nav = "site nav home about contact subscribe newsletter terms privacy a"
    body = [
        "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "one two three four five six seven eight nine ten",
        "red orange yellow green blue indigo violet gray black white",
        "north south east west up down left right in out",
    ]
    rows = [(i, "hosta", f"{nav} {body[i]}") for i in range(3)]
    rows.append((3, "hosta", body[3]))
    # hostb shares the SAME nav text but only on 1 of 3 pages — below frac
    rows += [(10, "hostb", f"{nav} {body[0]}"), (11, "hostb", body[1]),
             (12, "hostb", body[2])]
    df = spark.createDataFrame(rows, "doc_id long, host string, text string")
    out = T.host_template_lines(df)
    got = {(r["host"], r["line"]): r for r in out.collect()}
    assert ("hosta", nav) in got
    r = got[("hosta", nav)]
    assert (r["n_docs"], r["host_docs"], r["frac_micro"]) == (3, 4, 750000)
    # same line under hostb is 1/3 of pages — host-scoped, so NOT a template
    assert ("hostb", nav) not in got
    # unique body lines never reach min_docs
    assert all(line == nav for (_, line) in got)
    # per-host doc counts are corpus-sized (one row per host): never broadcast
    plan = _plan(out)
    assert plan.count("BroadcastExchange") == 0, plan


def test_recrawl_priority_change_rate_model(spark):
    from legal_document_ocr_spark.operators import urls

    rows = []
    for e in range(4):
        rows.append(("https://a.org/p", e, f"h{e}"))          # changes every epoch
        rows.append(("https://b.org/p", e, "h2" if e >= 2 else "h0"))  # once, at 2
        rows.append(("https://c.org/p", e, "h0"))             # never
    rows.append(("https://d.org/p", 0, "h0"))                 # single observation
    df = spark.createDataFrame(rows, "url string, epoch long, content_hash string")
    out = {r["url"]: r for r in urls.recrawl_priority(df).collect()}
    a, b, c, d = (out[f"https://{h}.org/p"] for h in "abcd")
    assert (a["n_changes"], a["change_rate_micro"], a["stale_epochs"]) == (3, 1000000, 0)
    assert (b["n_changes"], b["change_rate_micro"], b["stale_epochs"]) == (1, 333333, 1)
    assert b["priority_micro"] == 333333
    assert (c["n_changes"], c["change_rate_micro"], c["stale_epochs"]) == (0, 0, 3)
    assert c["priority_micro"] == 0
    assert (d["n_obs"], d["change_rate_micro"], d["priority_micro"]) == (1, 0, 0)
    assert a["host"] == "a.org"
    # the lag window and the per-url aggregate share ONE url-hash exchange
    plan = _plan(urls.recrawl_priority(df))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_registrable_domain_psl_semantics(spark):
    from legal_document_ocr_spark.operators import urls

    hosts = [
        ("www.example.co.uk", "example.co.uk"),
        ("a.b.example.co.uk", "example.co.uk"),
        ("blog.site.com", "site.com"),
        ("foo.blogspot.com", "foo.blogspot.com"),  # built-in PSL exception
        ("blogspot.com", "blogspot.com"),          # bare suffix -> .com rule
        ("user.github.io", "user.github.io"),
        ("deep.sub.site.weird", "site.weird"),     # unknown TLD: last 2 labels
        ("localhost", "localhost"),                # dotless passthrough
    ]
    df = spark.createDataFrame([(h,) for h, _ in hosts], "host string")
    out = df.select(
        "host",
        urls.registrable_domain_expr(F.col("host")).alias("rd"),
    )
    got = {r["host"]: r["rd"] for r in out.collect()}
    for h, want in hosts:
        assert got[h] == want, (h, got[h], want)
    assert "Exchange" not in _plan(out)


def test_host_page_cap_matches_single_window_and_bounds(spark):
    from legal_document_ocr_spark.operators import urls

    # skewed input: megahost with 200 pages, small host with 3
    rows = [("big.org", f"https://big.org/p/{i}") for i in range(200)]
    rows += [("small.org", f"https://small.org/p/{i}") for i in range(3)]
    df = spark.createDataFrame(rows, "host string, url string")
    capped = urls.host_page_cap(df, 5).collect()
    single = urls.host_page_cap(df, 5, salt_buckets=1).collect()
    assert sorted(map(tuple, capped)) == sorted(map(tuple, single))
    per_host = {}
    for r in capped:
        per_host.setdefault(r["host"], []).append(r["url"])
    assert len(per_host["big.org"]) == 5
    assert sorted(per_host["small.org"]) == [f"https://small.org/p/{i}" for i in range(3)]
    # deterministic: the kept set is the md5-rank prefix, not arrival order
    import hashlib
    want = sorted(
        (u for h, u in rows if h == "big.org"),
        key=lambda u: hashlib.md5(u.encode()).hexdigest(),
    )[:5]
    assert sorted(per_host["big.org"]) == sorted(want)


def test_grouped_quantiles_exact_small_distribution(spark):
    df = spark.createDataFrame(
        [("a", v) for v in [1, 2, 2, 3, 10]] + [("b", v) for v in [7, 7]],
        "src string, val long",
    )
    out = {
        r["src"]: r
        for r in relational.grouped_quantiles(df, "src", "val").collect()
    }
    a = out["a"]
    # n=5: p50 needs cum>=3 -> 2; p90 needs cum>=5 -> 10; p99 needs cum>=5 -> 10
    assert (a["n_rows"], a["q_500000"], a["q_900000"], a["q_990000"]) == (5, 2, 10, 10)
    b = out["b"]
    assert (b["n_rows"], b["q_500000"], b["q_990000"]) == (2, 7, 7)
    # sketch groupBy + grp-window + final agg: exactly two hash exchanges
    plan = _plan(relational.grouped_quantiles(df, "src", "val"))
    assert plan.count("Exchange hashpartitioning") == 2, plan


# ---------------------------------------------------------------------------
# round-3 late additions: gopher rules / repetition, mojibake, shards, HLL,
# HITS
# ---------------------------------------------------------------------------


def test_gopher_rules_thresholds(spark):
    """A clean 60-word prose doc passes; short, bullet-heavy and
    symbol-heavy docs each fail the specific rule that targets them."""
    clean = " ".join(
        ["the quick brown fox jumps over that lazy dog with glee be"] * 6
    )
    short = "the of and"
    # exactly 10 tokens per repeat -> every 10-token line starts with '-'
    bullets = " ".join(["- item one of the list to have with that"] * 6)
    symbols = " ".join(["the count ### of ### and ### that ### have ###"] * 6)
    df = spark.createDataFrame(
        [(1, clean), (2, short), (3, bullets), (4, symbols)],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in textops.gopher_rules(df).collect()}
    assert rows[1].gopher_pass
    assert not rows[2].gopher_pass          # word count < 50
    assert rows[2].n_words == 3
    assert not rows[3].gopher_pass          # every line starts with '-'
    assert rows[3].frac_bullet_lines == 1.0
    assert not rows[4].gopher_pass          # symbol ratio way over 0.1
    assert rows[4].symbol_ratio > 0.1
    assert rows[1].n_stop_hits >= 2


def test_gopher_repetition_detects_self_concat(spark):
    """A doc made of one 10-token line repeated 4x: every line segment is a
    duplicate (frac 1.0) and the top bigram covers a large char share; a
    all-distinct-token doc has zero duplicate lines."""
    line = "a b c d e f g h i j"
    rep = " ".join([line] * 4)
    uniq = " ".join(f"tok{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, rep), (2, uniq)], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in textops.gopher_repetition(df).collect()}
    assert rows[1].n_lines == 4
    assert rows[1].dup_line_frac == 1.0
    assert rows[1].dup_line_char_frac == 1.0
    assert rows[1].top_bigram_char_frac > 0.1
    assert rows[2].dup_line_frac == 0.0
    assert rows[2].top_bigram_char_frac == pytest.approx(
        2 * len("tok0 tok1") / len(uniq), abs=1e-4
    ) or rows[2].top_bigram_char_frac > 0.0  # every bigram occurs once


def test_gopher_repetition_empty_and_single_token(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, "solo")], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in textops.gopher_repetition(df).collect()}
    assert rows[1].n_lines == 0 and rows[1].dup_line_frac == 0.0
    assert rows[2].n_lines == 1 and rows[2].top_bigram_char_frac == 0.0


def test_mojibake_flags_damaged_not_clean(spark):
    damaged = ("caf" + chr(0xC3) + chr(0xA9) + " cr" + chr(0xC3) + chr(0xA8)
               + "me br" + chr(0xC3) + chr(0xBB) + "l" + chr(0xC3) + chr(0xA9) + "e")
    clean = "plain ascii prose with no damage at all " * 3
    one_hit = "mostly clean text but " + chr(0xC3) + chr(0xA9) + " once " * 20
    df = spark.createDataFrame(
        [(1, damaged), (2, clean), (3, one_hit)], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in textops.mojibake_stats(df).collect()}
    assert rows[1].mojibake_hits == 4 and rows[1].is_mojibake
    assert rows[2].mojibake_hits == 0 and not rows[2].is_mojibake
    assert rows[3].mojibake_hits == 1 and not rows[3].is_mojibake  # single hit


def test_shard_assign_balances_and_covers(spark, docs):
    """Offsets are a permutation layout: start offsets are distinct, every
    shard below the last holds within one max-doc of the target, and the
    union of (start, start+n) spans exactly sum(n_tokens)."""
    out = textops.shard_assign(docs, tokens_per_shard=500).collect()
    total = sum(r.n_tokens for r in out)
    ends = {r.start_offset + r.n_tokens for r in out}
    starts = {r.start_offset for r in out}
    assert len(starts) == len(out)
    assert max(ends) == total
    by_shard = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r)
    max_doc = max(r.n_tokens for r in out)
    last = max(by_shard)
    for s, rows in by_shard.items():
        if s == last:
            continue
        fill = sum(r.n_tokens for r in rows)
        # a shard stops growing only once its 500-token budget is crossed
        assert fill + max_doc >= 500, (s, fill)


def test_hll_estimate_within_error_and_dup_insensitive(spark, docs):
    """Register sketch lands within ~3 standard errors (1.04/sqrt(256) ~
    6.5%) of the true cardinality and is untouched by exact duplicates."""
    d = docs.select("doc_id", "text")
    est1 = dedup.hll_distinct(d).collect()[0]
    doubled = d.unionByName(d.withColumn("doc_id", F.col("doc_id") + 50_000))
    est2 = dedup.hll_distinct(doubled).collect()[0]
    true_n = d.select("text").distinct().count()
    assert est1.est_distinct == est2.est_distinct  # dup-insensitive
    assert abs(est1.est_distinct - true_n) / true_n < 0.2
    assert est1.m == 256 and 0 < est1.n_registers_set <= 256


def test_hits_star_graph_semantics(spark):
    """On a star a->hub_target (all sources point at one sink plus a chain),
    the sink dominates authority and the pointers dominate hubs."""
    edges = spark.createDataFrame(
        [("a", "z"), ("b", "z"), ("c", "z"), ("z", "a")],
        "src string, dst string",
    )
    from legal_document_ocr_spark.operators import graph

    rows = {r.node: r for r in graph.hits(edges).collect()}
    assert rows["z"].auth_nano > rows["a"].auth_nano
    assert rows["a"].hub_nano > rows["z"].hub_nano
    assert rows["a"].hub_nano == rows["b"].hub_nano == rows["c"].hub_nano
    # L1-normalized emit: totals are ~1e9 (floor rounding loses < n units)
    assert abs(sum(r.hub_nano for r in rows.values()) - 1_000_000_000) < 10
    assert abs(sum(r.auth_nano for r in rows.values()) - 1_000_000_000) < 10


def test_round3_late_plans_have_no_corpus_broadcasts(spark):
    """gopher_repetition joins two corpus-sized per-doc aggregates back on
    doc_id; host_hits iterates edges x scores joins — all shuffle_hash,
    never BroadcastExchange (the 100 TB driver-funnel trap). shard_assign
    keeps exactly ONE broadcast: the bounded bucket-offset table."""
    import legal_document_ocr_spark.queries as Q

    for name in ["gopher_repetition", "host_hits"]:
        plan = _plan(Q.SPARK[name](spark, SF))
        assert plan.count("BroadcastExchange") == 0, f"{name}:\n{plan}"
    plan = _plan(Q.SPARK["shard_assign"](spark, SF))
    assert plan.count("BroadcastExchange") == 1, plan
    # gopher_rules / mojibake_stats are single-scan codegen: no KEY shuffle
    # of any kind before the collect (the only permitted exchange is
    # ensure_parallelism's round-robin fan-out, a no-op at real widths)
    for name in ["gopher_rules", "mojibake_stats"]:
        plan = _plan(Q.SPARK[name](spark, SF))
        assert "hashpartitioning" not in plan, plan
        assert "rangepartitioning" not in plan, plan
        assert plan.count("BroadcastExchange") == 0, plan


def test_bm25_ranks_tf_and_rarity(spark):
    """A doc repeating a query term outscores a single mention; a doc
    matching a RARE term outscores one matching a common term with the
    same tf; non-matching docs are absent."""
    df = spark.createDataFrame(
        [
            (1, "data data data filler filler filler"),
            (2, "data filler filler filler filler filler"),
            (3, "rareword filler filler filler filler filler"),
            (4, "filler filler filler filler filler filler"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in textops.bm25_scores(df, ["data", "rareword"]).collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1].score_micro > rows[2].score_micro      # tf saturating gain
    assert rows[3].score_micro > rows[2].score_micro      # idf: rare > common
    assert rows[1].n_terms_matched == 1 and rows[1].dl == 6


def test_pmi_promotes_exclusive_pairs(spark):
    """Tokens that ONLY occur together get the top PMI; a pair of
    high-frequency independent tokens scores lower."""
    glue = " ".join(["alpha beta"] * 6)          # alpha/beta always adjacent
    noise = " ".join(["the of the of the of"] * 6)
    mixed = " ".join(["the alpha of beta the of"] * 3)
    df = spark.createDataFrame(
        [(1, glue), (2, noise), (3, mixed)], "doc_id long, text string"
    )
    out = textops.pmi_collocations(df, min_count=5, top_k=10).collect()
    ranks = {r.bigram: i for i, r in enumerate(out)}
    assert "alpha beta" in ranks
    assert ranks["alpha beta"] < ranks.get("the of", 99)
    top = out[0]
    assert top.pmi_micro >= out[-1].pmi_micro    # ordered


def test_c4_rules(spark):
    sentences = "one. two! three? and some more text here now"
    brace = "clean text with a { brace inside it somewhere here"
    lorem = "this page is lorem ipsum placeholder content entirely here"
    js = "please enable javascript to view this site content here"
    df = spark.createDataFrame(
        [(1, sentences), (2, brace), (3, lorem), (4, js)],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in textops.c4_filters(df).collect()}
    assert rows[1].c4_keep and rows[1].n_sentences == 3
    assert rows[2].has_brace and not rows[2].c4_keep
    assert rows[3].has_lorem and not rows[3].c4_keep
    assert rows[4].has_javascript and not rows[4].c4_keep
    assert rows[1].frac_terminal_lines == 0.0  # 10-token line ends in "now"


def test_bm25_pmi_plan_hygiene(spark):
    """bm25 broadcasts ONLY the bounded df/totals tables (2 broadcasts);
    PMI joins vocabulary-sized unigram counts twice — shuffle_hash, plus one
    1-row total broadcast."""
    import legal_document_ocr_spark.queries as Q

    plan = _plan(Q.SPARK["bm25_scores"](spark, SF))
    assert plan.count("BroadcastExchange") == 2, plan
    plan = _plan(Q.SPARK["pmi_collocations"](spark, SF))
    assert plan.count("BroadcastExchange") == 1, plan
    plan = _plan(Q.SPARK["c4_filters"](spark, SF))
    # the only permitted exchange is ensure_parallelism's narrow-input
    # round-robin fan-out (a no-op at real input widths) — never a
    # key shuffle for this scan-only battery
    assert "hashpartitioning" not in plan, plan
    assert "rangepartitioning" not in plan, plan
    assert plan.count("BroadcastExchange") == 0, plan


def test_hll_by_source_matches_per_group_truth(spark, docs):
    """Per-group estimates track each group's true distinct count (small
    groups hit the linear-counting branch -> near-exact), and a group's
    estimate is independent of other groups' contents."""
    out = {r.source: r.est_distinct for r in
           dedup.hll_distinct_by(docs.select("source", "text"), "source", "text").collect()}
    truth = {r.source: r.c for r in
             docs.groupBy("source").agg(F.count_distinct("text").alias("c")).collect()}
    assert set(out) == set(truth)
    for src, est in out.items():
        assert abs(est - truth[src]) <= max(2, 0.15 * truth[src]), (src, est, truth[src])


def test_parse_crawl_delay_sections_and_min(spark):
    """The * section's delay applies; a decoy section's delay does not;
    duplicate declarations resolve to the minimum; hosts without a * delay
    emit no row."""
    from legal_document_ocr_spark.operators import urls

    robots = spark.createDataFrame(
        [
            ("a.com", "User-agent: evilbot\nCrawl-delay: 99\nUser-agent: *\nCrawl-delay: 5\nCrawl-delay: 2"),
            ("b.com", "User-agent: *\nDisallow: /x"),
            ("c.com", "User-agent: *\ncrawl-DELAY:   7"),
        ],
        "host string, robots_txt string",
    )
    rows = {r.host: r.delay_sec for r in urls.parse_crawl_delay(robots).collect()}
    assert rows == {"a.com": 2, "c.com": 7}


def test_crawl_schedule_slots_and_offsets(spark):
    from legal_document_ocr_spark.operators import urls

    frontier = spark.createDataFrame(
        [
            ("a.com", "https://a.com/1", 30),
            ("a.com", "https://a.com/2", 20),
            ("a.com", "https://a.com/3", 10),
            ("b.com", "https://b.com/1", 5),
        ],
        "host string, url string, rank_nano long",
    )
    delays = spark.createDataFrame(
        [("a.com", 4)], "host string, delay_sec long"
    )
    rows = {r.url: r for r in urls.crawl_schedule(frontier, delays).collect()}
    assert rows["https://a.com/1"].slot == 1
    assert rows["https://a.com/1"].fetch_offset_sec == 0
    assert rows["https://a.com/3"].slot == 3
    assert rows["https://a.com/3"].fetch_offset_sec == 8     # (3-1)*4
    assert rows["https://b.com/1"].fetch_offset_sec == 0     # default delay
    # delay table rides as ShuffledHashJoin, never a broadcast
    plan = _plan(urls.crawl_schedule(frontier, delays))
    assert plan.count("BroadcastExchange") == 0, plan


def test_dom_stats_depth_and_density(spark):
    """Nesting depth counts element nesting only (void tags and unmatched
    closes don't corrupt it); link/script censuses count OPENING tags; the
    text ratio is chars-outside-tags over total."""
    from legal_document_ocr_spark.operators import urls

    html = (
        "<html><head><meta charset=x><script>var t;</script></head>"
        "<body><div><div><p>deep text</p></div></div>"
        "<a href=1>x</a><a href=2>y</a></body></html>"
    )
    df = spark.createDataFrame(
        [("u1", bytearray(html.encode())), ("u2", bytearray(b"no tags at all"))],
        "url string, html binary",
    )
    rows = {r.url: r for r in urls.dom_stats(df).collect()}
    r = rows["u1"]
    assert r.max_depth == 5          # html > body > div > div > p
    assert r.n_links == 2 and r.n_scripts == 1
    assert r.n_void == 1
    assert 0.0 < r.text_markup_ratio < 1.0
    r2 = rows["u2"]
    assert r2.n_tags == 0 and r2.max_depth == 0
    assert r2.text_markup_ratio == 1.0
    plan = _plan(urls.dom_stats(df))
    assert "Exchange" not in plan, plan


def test_revisit_dedup_first_capture_wins(spark):
    """Earliest (ts, url, file, offset) capture of a digest is the response;
    later captures become revisits pointing at it; distinct digests never
    cross-link."""
    from legal_document_ocr_spark.sources.warc import revisit_dedup

    caps = spark.createDataFrame(
        [
            ("u1", 100, "f1", 0, "d_a"),
            ("u1", 200, "f2", 50, "d_a"),   # recrawl, same payload
            ("u2", 150, "f1", 900, "d_a"),  # mirror url, same payload
            ("u3", 100, "f1", 300, "d_b"),  # different payload
        ],
        "url string, ts_epoch long, warc_file string, rec_offset long, digest string",
    )
    rows = {(r.url, r.ts_epoch): r for r in revisit_dedup(caps).collect()}
    assert rows[("u1", 100)].kind == "response"
    assert rows[("u1", 100)].orig_file is None
    assert rows[("u1", 200)].kind == "revisit"
    assert rows[("u1", 200)].orig_file == "f1"
    assert rows[("u1", 200)].orig_offset == 0
    assert rows[("u2", 150)].kind == "revisit"
    assert rows[("u3", 100)].kind == "response"
    plan = _plan(revisit_dedup(caps))
    assert plan.count("BroadcastExchange") == 0, plan  # firsts is corpus-sized
    assert "Window" not in plan, plan                  # argmin, never a window


def test_shard_assign_order_invariant(spark, docs):
    """Input partitioning/row order cannot change the layout: the md5 rank
    fully determines offsets."""
    a = textops.shard_assign(docs, tokens_per_shard=500)
    b = textops.shard_assign(
        docs.orderBy(F.col("doc_id").desc()).repartition(7), tokens_per_shard=500
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_hll_order_invariant(spark, docs):
    """Register merge is commutative: reversed/differently-partitioned input
    gives the identical sketch."""
    d = docs.select("text")
    e1 = dedup.hll_distinct(d).collect()[0]
    e2 = dedup.hll_distinct(
        d.orderBy(F.col("text").desc()).repartition(11)
    ).collect()[0]
    assert tuple(e1) == tuple(e2)


def test_bm25_scores_positive(spark, docs):
    from legal_document_ocr_spark import queries as Q

    rows = Q.SPARK["bm25_scores"](spark, "/root/testdata/sf0.001").collect()
    assert rows and all(r.score_micro > 0 for r in rows)
    assert all(1 <= r.n_terms_matched <= 4 for r in rows)


def test_curation_pipeline_stages_compose(spark):
    """Capstone composition invariants on the doubled corpus: exact dedup
    halves the rule-gated set, decontamination only removes, output shard
    offsets tile the surviving token mass exactly, and the plan's only
    broadcasts are the bounded benchmark-shingle set and the bucket-offset
    table."""
    import legal_document_ocr_spark.queries as Q

    out = Q.SPARK["curation_pipeline"](spark, SF).collect()
    assert out
    # doubled corpus: every survivor doc_id is an original (min-id rep)
    assert all(r.doc_id < 100000 for r in out)
    total = sum(r.n_tokens for r in out)
    assert max(r.start_offset + r.n_tokens for r in out) == total
    assert len({r.start_offset for r in out}) == len(out)
    # the plan text repeats persisted subtrees (InMemoryRelation lineage), so
    # assert the PROPERTY, not a node count: no broadcast ever builds on the
    # corpus doc_id key — every doc_id join is ShuffledHashJoin; the only
    # BroadcastHashJoin keys are the bounded benchmark-shingle string and
    # shard_assign's bucket id
    plan = _plan(Q.SPARK["curation_pipeline"](spark, SF))
    for line in plan.splitlines():
        if "BroadcastHashJoin" in line:
            assert "doc_id" not in line.split("BroadcastHashJoin")[1][:40], line


def test_robots_precedence_rfc9309(spark):
    """Longest matching prefix wins; Allow wins equal-length ties; no match
    -> 'none'; decoy sections never contribute directives."""
    from legal_document_ocr_spark.operators import urls

    robots = spark.createDataFrame(
        [(
            "a.com",
            "User-agent: evilbot\nAllow: /\n"
            "User-agent: *\nDisallow: /docs\nAllow: /docs/pub\n"
            "Disallow: /tie\nAllow: /tie",
        )],
        "host string, robots_txt string",
    )
    frontier = spark.createDataFrame(
        [
            ("https://a.com/docs/private/x", "a.com"),   # /docs wins -> disallow
            ("https://a.com/docs/pub/y", "a.com"),       # longer allow wins
            ("https://a.com/tie/z", "a.com"),            # equal length -> allow
            ("https://a.com/open", "a.com"),             # no rule -> none
        ],
        "url string, host string",
    )
    d = urls.parse_robots_directives(robots)
    rows = {r.url: r for r in urls.robots_precedence_filter(frontier, d).collect()}
    assert rows["https://a.com/docs/private/x"].verdict == "disallow"
    assert rows["https://a.com/docs/pub/y"].verdict == "allow"
    assert rows["https://a.com/docs/pub/y"].rule_prefix == "/docs/pub"
    assert rows["https://a.com/tie/z"].verdict == "allow"
    assert rows["https://a.com/open"].verdict == "none"
    assert rows["https://a.com/open"].rule_prefix is None
    plan = _plan(urls.robots_precedence_filter(frontier, d))
    assert plan.count("BroadcastExchange") == 0, plan  # host-keyed rules shuffle


def test_resolve_redirects_chains_cycles_and_gaps(spark):
    from legal_document_ocr_spark.operators import urls

    edges = spark.createDataFrame(
        [
            ("a", "b"), ("b", "c"), ("c", "d"),   # 3-hop chain to terminal d
            ("x", "y"), ("y", "x"),               # 2-cycle: never resolves
            ("s", "s"),                           # self-redirect: a 1-cycle
            ("g", "offsite"),                     # dst outside node list
        ],
        "src string, dst string",
    )
    nodes = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("d",), ("x",), ("y",), ("g",), ("lone",)],
        "url string",
    )
    rows = {
        r.url: r
        for r in urls.resolve_redirects(edges, nodes, max_iters=6).collect()
    }
    assert rows["a"].final_url == "d" and rows["a"].hops == 3
    assert rows["b"].final_url == "d" and rows["b"].hops == 2
    assert rows["d"].hops == 0 and rows["d"].resolved == 1
    assert rows["lone"].final_url == "lone" and rows["lone"].resolved == 1
    # a redirect landing outside the caller's node set is still a terminal
    assert rows["g"].final_url == "offsite" and rows["g"].resolved == 1
    assert rows["offsite"].hops == 0
    # cycles come back unresolved instead of looping forever
    assert rows["x"].resolved == 0 and rows["y"].resolved == 0
    assert rows["s"].resolved == 0  # a self-redirect is a 1-cycle


def test_dsir_weights_direction_and_empty_doc(spark):
    from legal_document_ocr_spark.operators import sampling

    docs = spark.createDataFrame(
        [
            (1, "alpha alpha beta"),
            (2, "gamma delta gamma"),
            (3, "alpha beta alpha"),
            (4, "   "),
        ],
        "doc_id long, text string",
    )
    target = docs.where("doc_id in (1, 3)")  # alpha/beta is the target domain
    rows = {
        r.doc_id: r for r in sampling.dsir_log_weights(docs, target).collect()
    }
    # docs matching the target profile score strictly above off-domain docs
    assert rows[1].log_weight_micro > rows[2].log_weight_micro
    assert rows[3].log_weight_micro > rows[2].log_weight_micro
    assert rows[4].n_tokens == 0 and rows[4].log_weight_micro is None
    # content-addressed: same text -> same weight regardless of doc_id
    assert rows[1].log_weight_micro == rows[3].log_weight_micro


def test_script_mix_dominance_and_ratios(spark):
    from legal_document_ocr_spark.operators import textops

    docs = spark.createDataFrame(
        [
            (1, "hello world"),
            (2, "数据处理"),            # Han only
            (3, "ab Привет"),  # 2 latin, 6 cyr
            (4, "abc 中文字"),              # 3 latin, 3 han: tie
            (5, "1234 ..."),                            # no scripted chars
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in textops.script_mix(docs).collect()}
    assert rows[1].dominant_script == "latin"
    assert rows[2].dominant_script == "han" and rows[2].n_han == 4
    assert rows[3].dominant_script == "cyrillic" and rows[3].n_latin == 2
    assert rows[4].dominant_script == "latin"  # tie -> SCRIPT_CLASSES order
    assert rows[5].dominant_script == "none"
    assert rows[1].latin_ratio_micro == 10 * 1000000 // 11


def test_robust_outliers_median_mad(spark):
    from legal_document_ocr_spark.operators import relational

    # group a: values 10,10,10,100 -> med 10, mad 0, any deviation flags
    # group b: 1..7 -> med 4, mad 2 (devs 3,2,1,0,1,2,3), |7-4|=3 <= 6
    rows_in = [("a", v) for v in (10, 10, 10, 100)] + [
        ("b", v) for v in range(1, 8)
    ]
    df = spark.createDataFrame(rows_in, "grp string, val long")
    out = relational.robust_outliers(df, "grp", "val").collect()
    a = [r for r in out if r.grp == "a"]
    b = [r for r in out if r.grp == "b"]
    assert all(r.med == 10 and r.mad == 0 for r in a)
    assert sorted(r.is_outlier for r in a) == [0, 0, 0, 1]
    assert all(r.med == 4 and r.mad == 2 for r in b)
    assert all(r.is_outlier == 0 for r in b)


def test_text_density_blocks_classification_and_plan(spark):
    from legal_document_ocr_spark.operators import urls

    html = (
        '<html><body><nav><a href="/">Home</a> <a href="/a">About</a></nav>'
        "<main><p>"
        + "real content text here. " * 20
        + '</p></main><footer><a href="/p">Privacy</a></footer></body></html>'
    ).encode("utf-8")
    pages = spark.createDataFrame([("u1", bytearray(html))], "url string, html binary")
    df = urls.text_density_blocks(pages.withColumn("html", F.col("html")))
    rows = sorted(df.collect(), key=lambda r: r.block_idx)
    flags = [r.is_content for r in rows]
    # nav and footer are boilerplate; the long <p> block is content
    assert flags[1] == 0 and flags[-1] == 0
    assert any(f == 1 for f in flags)
    content = [r for r in rows if r.is_content == 1]
    assert all(r.link_density_micro < 333333 for r in content)
    # the whole scoring pipeline is array HOFs on the row: NO shuffle
    plan = _plan(df)
    assert "Exchange" not in plan, plan


def test_incremental_near_dups_planted_and_plan(spark):
    from legal_document_ocr_spark.operators import dedup

    base = "the quick brown fox jumps over the lazy dog again and again"
    corpus = spark.createDataFrame(
        [(100, base), (101, "completely different words live here today now")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (1, base + " extra"),                      # near-dup of 100
            (2, "unrelated fresh content nobody wrote before in corpus x"),
            (3, "ab"),                                 # < k tokens: no bands
        ],
        "doc_id long, text string",
    )
    out = dedup.incremental_near_dups(batch, corpus)
    rows = {r.doc_id: r for r in out.collect()}
    assert rows[1].is_neardup == 1 and rows[1].best_match_id == 100
    assert rows[1].best_jaccard_micro >= 500000
    assert rows[2].is_neardup == 0
    assert rows[3].n_candidates == 0 and rows[3].best_match_id is None
    plan = _plan(out)
    assert "BroadcastExchange" not in plan, plan  # corpus side never broadcast


def test_bpe_train_merges_greedy_fold(spark):
    from legal_document_ocr_spark.operators import textops

    # 'aaab' x3 + 'ab' x2: round 1 pairs — (a,a): 2*3=6, (a,b): 3+2=5
    # -> merge (a,a). Round 2 vocab: aaab=[aa,a,b], ab=[a,b]:
    # pairs (aa,a)=3, (a,b)=5 -> merge (a,b). Round 3: aaab=[aa,ab],
    # ab=[ab]: (aa,ab)=3 -> merge (aa,ab).
    docs = spark.createDataFrame(
        [(1, "aaab aaab ab"), (2, "aaab ab")],
        "doc_id long, text string",
    )
    rows = textops.bpe_train_merges(docs, n_merges=3).collect()
    got = [(r.merge_rank, r.left_sym, r.right_sym, r.pair_count) for r in rows]
    assert got == [(1, "a", "a", 6), (2, "a", "b", 5), (3, "aa", "ab", 3)]


def test_bpe_fold_matches_python_reference(spark):
    """The Spark array-fold merge application == the greedy left-to-right
    Python reference over adversarial overlap cases (a==b runs, abab
    chains, merged-symbol re-pairing)."""
    from legal_document_ocr_spark.operators import textops

    words = [
        "aaaa", "aaab", "abab", "ababa", "ba", "bbb", "abba",
        "aabb", "baaab", "a", "b", "ab",
    ]
    # one doc per word, each word once: pair counts == vocab pair counts
    docs = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)], "doc_id long, text string"
    )

    def py_fold(syms, a, b):
        acc = []
        for x in syms:
            if acc and acc[-1] == a and x == b:
                acc[-1] = a + b
            else:
                acc.append(x)
        return acc

    def py_train(words, n_merges):
        vocab = {w: list(w) for w in words}
        merges = []
        for rank in range(1, n_merges + 1):
            counts: dict = {}
            for w, syms in vocab.items():
                for i in range(len(syms) - 1):
                    counts[(syms[i], syms[i + 1])] = (
                        counts.get((syms[i], syms[i + 1]), 0) + 1
                    )
            if not counts:
                break
            (a, b), cnt = min(
                counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            merges.append((rank, a, b, a + b, cnt))
            vocab = {w: py_fold(s, a, b) for w, s in vocab.items()}
        return merges

    got = [
        (r.merge_rank, r.left_sym, r.right_sym, r.merged, r.pair_count)
        for r in textops.bpe_train_merges(docs, n_merges=4).collect()
    ]
    assert got == py_train(words, 4)


def test_resolve_redirects_matches_python_walk(spark):
    """Pointer doubling == the naive per-node chain walk on a seeded
    acyclic functional graph with gaps and long chains."""
    import random

    from legal_document_ocr_spark.operators import urls

    rng = random.Random(42)
    n = 120
    succ = {}
    for i in range(1, n):
        if rng.random() < 0.8:  # 20% terminals; edges only point downward
            succ[i] = rng.randrange(0, i)
    edges = spark.createDataFrame(
        [(f"u{s}", f"u{d}") for s, d in succ.items()], "src string, dst string"
    )
    nodes = spark.createDataFrame(
        [(f"u{i}",) for i in range(n)], "url string"
    )
    got = {
        r.url: (r.final_url, r.hops, r.resolved)
        for r in urls.resolve_redirects(edges, nodes).collect()
    }
    for i in range(n):
        cur, hops = i, 0
        while cur in succ:
            cur, hops = succ[cur], hops + 1
        assert got[f"u{i}"] == (f"u{cur}", hops, 1), i


def test_reciprocal_links_flags_and_plan(spark):
    from legal_document_ocr_spark.operators import graph

    edges = spark.createDataFrame(
        [
            ("a", "b"), ("b", "a"),            # farm pair
            ("a", "b"),                        # duplicate edge collapses
            ("c", "a"),                        # one-way
            ("d", "d"),                        # self-loop excluded
            ("c", "e"), ("e", "c"),            # c: 1 of 2 reciprocated
        ],
        "src string, dst string",
    )
    rows = {r.host: r for r in graph.reciprocal_links(edges).collect()}
    assert rows["a"].n_out == 1 and rows["a"].is_link_farm == 1
    assert rows["b"].is_link_farm == 1
    assert rows["c"].n_out == 2 and rows["c"].n_mutual == 1
    assert rows["c"].mutual_ratio_micro == 500000 and rows["c"].is_link_farm == 1
    assert "d" not in rows  # self-loop-only host has no real out-links
    plan = _plan(graph.reciprocal_links(edges))
    assert "BroadcastExchange" not in plan, plan


def test_parse_http_response_header_spoof_and_missing(spark):
    from legal_document_ocr_spark.sources.warc import parse_http_response

    crlf = "\r\n"
    good = (
        "HTTP/1.1 200 OK" + crlf
        + "Content-Type: text/html; charset=UTF-8" + crlf + crlf
        + "body here" + crlf
        + "Content-Type: text/plain"  # body must NOT spoof headers
    )
    no_charset = (
        "HTTP/1.0 404 Not Found" + crlf
        + "Content-Type: application/pdf" + crlf + crlf
        + "x"
    )
    df = spark.createDataFrame(
        [(1, good), (2, no_charset)], "id long, payload string"
    )
    rows = {r.id: r for r in parse_http_response(df).collect()}
    assert rows[1].status_code == 200 and rows[1].charset == "utf-8"
    assert rows[1].content_type == "text/html"
    assert rows[1].body.startswith("body here")
    assert rows[2].status_code == 404 and rows[2].charset is None
    assert rows[2].content_type == "application/pdf"


def test_parse_x_robots_directives_and_expiry(spark):
    from legal_document_ocr_spark.sources.warc import parse_x_robots

    crlf = "\r\n"
    head = "HTTP/1.1 200 OK" + crlf + "Content-Type: text/html" + crlf
    decoy_body = crlf + "X-Robots-Tag: noindex, nofollow" + crlf  # body decoy
    cases = [
        (1, head + "X-Robots-Tag: noindex" + crlf + decoy_body),
        # multi-line union + UA prefix reads as plain directive
        (2, head + "X-Robots-Tag: googlebot: noindex" + crlf
            + "X-Robots-Tag: NOFOLLOW" + crlf + crlf + "x"),
        (3, head + "X-Robots-Tag: none" + crlf + crlf),  # implies both
        # token anchoring: 'nonoindexing' must not match
        (4, head + "X-Robots-Tag: nonoindexing" + crlf + crlf),
        (5, head + "X-Robots-Tag: unavailable_after: Tue, 03 Feb 2024"
            " 12:00:00 GMT" + crlf + crlf),
        (6, head + "X-Robots-Tag: unavailable_after: not a date"
            + crlf + crlf),
        (7, head + crlf + decoy_body),  # header absent entirely
    ]
    df = spark.createDataFrame(cases, "id long, payload string")
    rows = {r.id: r for r in parse_x_robots(df).collect()}
    assert (rows[1].noindex, rows[1].nofollow) == (1, 0)
    assert (rows[2].noindex, rows[2].nofollow) == (1, 1)
    assert (rows[3].noindex, rows[3].nofollow) == (1, 1)
    assert (rows[4].noindex, rows[4].nofollow) == (0, 0)
    assert rows[5].unavailable_after == 1706961600  # 2024-02-03T12:00Z
    assert rows[6].unavailable_after is None  # malformed -> NULL, no fail
    assert (rows[7].noindex, rows[7].nofollow) == (0, 0)
    plan = parse_x_robots(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # scan-local, no shuffle


def test_parse_cache_policy_precedence_and_nulls(spark):
    from legal_document_ocr_spark.sources.warc import parse_cache_policy

    crlf = "\r\n"
    head = "HTTP/1.1 200 OK" + crlf + "Date: 01 Jan 2024 00:00:00 GMT" + crlf
    cases = [
        # no-cache beats max-age; s-maxage decoy never feeds max_age
        (1, head + "Cache-Control: max-age=600, no-cache" + crlf
            + "Cache-Control: s-maxage=777" + crlf + crlf),
        # Expires - Date fallback (1h)
        (2, head + "Expires: 01 Jan 2024 01:00:00 GMT" + crlf + crlf),
        # stale-on-arrival clamps at 0
        (3, head + "Expires: 31 Dec 2023 00:00:00 GMT" + crlf + crlf),
        # no freshness info at all -> ttl NULL (greatest(NULL,0) trap)
        (4, head + crlf + "body"),
        # malformed Expires -> NULL, never a task failure
        (5, head + "Expires: soon" + crlf + crlf),
        # body decoy must not leak past the head-only scan
        (6, head + crlf + "Cache-Control: max-age=99999"),
    ]
    df = spark.createDataFrame(cases, "id long, payload string")
    rows = {r.id: r for r in parse_cache_policy(df).collect()}
    assert rows[1].ttl_sec == 0 and rows[1].max_age == 600
    assert rows[2].ttl_sec == 3600
    assert rows[3].ttl_sec == 0
    assert rows[4].ttl_sec is None and rows[4].fresh_until is None
    assert rows[5].ttl_sec is None and rows[5].expires_epoch is None
    assert rows[6].max_age is None and rows[6].ttl_sec is None


def test_detect_truncation_framing_edges(spark):
    from legal_document_ocr_spark.sources.warc import detect_truncation

    crlf = "\r\n"
    cases = [
        (1, "HTTP/1.1 200 OK" + crlf + "Content-Length: 10"
            + crlf + crlf + "xxxxx"),           # 5 < 10 -> truncated
        (2, "HTTP/1.1 200 OK" + crlf + "Content-Length: 3"
            + crlf + crlf + "xxxxx"),           # over-delivery, delta -2
        (3, "HTTP/1.1 200 OK" + crlf + "Content-Length: 10" + crlf),
        # ^ no blank-line separator at all -> body_bytes 0, truncated
        (4, "HTTP/1.1 200 OK" + crlf + "Content-Length: 0"
            + crlf + crlf),                     # empty body, exact
    ]
    df = spark.createDataFrame(cases, "id long, payload string")
    rows = {r.id: r for r in detect_truncation(df).collect()}
    assert (rows[1].truncated, rows[1].delta_bytes) == (1, 5)
    assert (rows[2].truncated, rows[2].delta_bytes) == (0, -2)
    assert (rows[3].body_bytes, rows[3].truncated) == (0, 1)
    assert (rows[4].body_bytes, rows[4].truncated) == (0, 0)


def test_soft404_precision_pins(spark):
    from legal_document_ocr_spark.operators.urls import soft404

    long_body = "lorem ipsum dolor " * 20 + "this page was not found once"
    cases = [
        (1, "<html><title>404 Not Found</title><body>"
            + "word " * 100 + "</body></html>", 200),  # title wins even long
        (2, "<html><title>News</title><body>" + long_body
            + "</body></html>", 200),  # mention past 200 chars: clean
        (3, "<html><title>Oops</title><body>Sorry, nothing was found."
            + "</body></html>", 200),  # thin + early body phrase
        (4, "<html><title>404 Not Found</title><body>gone</body></html>",
            404),  # true 404 never flags
        (5, "<html><body></body></html>", 200),  # empty: no crash, clean
    ]
    df = spark.createDataFrame(cases, "id long, html string, status_code int")
    rows = {r.id: r for r in soft404(df).collect()}
    assert [rows[i].soft404 for i in (1, 2, 3, 4, 5)] == [1, 0, 1, 0, 0]
    assert rows[5].n_tokens == 0 and rows[5].title == ""


def test_readability_edges_and_known_value(spark):
    from legal_document_ocr_spark.operators.textops import readability

    df = spark.createDataFrame(
        [
            (1, "The cat sat."),      # 3 words, 1 sentence, 3 syllables
            (2, ""),                  # no words -> NULL score
            (3, "!!! ??"),            # punctuation only
            (4, "word"),              # fragment: sentence floor of 1
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in readability(df).collect()}
    # 206.835 - 1.015*3/1 - 84.6*3/3 = 119.19
    assert rows[1].flesch_micro == 119190000
    assert (rows[1].n_words, rows[1].n_sentences, rows[1].n_syllables) == (
        3, 1, 3)
    assert rows[2].flesch_micro is None and rows[2].n_syllables == 0
    assert rows[3].flesch_micro is None and rows[3].n_sentences == 2
    assert rows[4].n_sentences == 1 and rows[4].flesch_micro is not None


def test_paywall_detect_signals_and_decoys(spark):
    from legal_document_ocr_spark.operators.urls import paywall_detect

    cases = [
        (1, '<html><input type="password"></html>'),
        (2, "<html><body>Subscribe to <b>continue</b> reading.</body>"),
        # ^ markup splitting the phrase must not hide it (stripped match)
        (3, '<html>{"isAccessibleForFree": false}</html>'),
        (4, "<html>The password manager and a free account of events."
            "</html>"),  # prose decoy: no form, no CTA phrase
        (5, '<html><input type="text" placeholder="password hint">'),
        # ^ not a password INPUT TYPE
    ]
    df = spark.createDataFrame(cases, "id long, html string")
    rows = {r.id: r for r in paywall_detect(df).collect()}
    assert [rows[i].gated for i in (1, 2, 3, 4, 5)] == [1, 1, 1, 0, 0]
    assert rows[1].has_password_input == 1
    assert rows[2].paywall_phrase == 1
    assert rows[3].jsonld_gated == 1


def test_session4_plans_have_no_corpus_broadcasts(spark):
    """Session-4 operators that join corpus-sized computed frames: the
    per-host stats table (hosts ~1e8 at crawl scale), the redirect pointer
    table, the batch-vs-corpus band tables, the link-farm edge reversal
    and the BPE vocab (multi-GB at web scale) must all travel as shuffle
    exchanges. dsir_weights / source_divergence keep exactly ONE broadcast
    each: the bounded 1024-bucket log-ratio table."""
    import legal_document_ocr_spark.queries as Q

    from legal_document_ocr_spark.operators import dedup

    for name in [
        "host_length_outliers",
        "redirect_chains",
        "link_farms",
        "bpe_fertility",
    ]:
        plan = _plan(Q.SPARK[name](spark, SF))
        assert plan.count("BroadcastExchange") == 0, f"{name}:\n{plan}"
    # incremental_neardup: assert the OPERATOR plan (the registry query's
    # planted-batch synthesis joins two raw-table scans, which may broadcast
    # legitimately); batch/corpus here are plain scans
    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    op = dedup.incremental_near_dups(
        d.where("doc_id % 10 = 0"), d.where("doc_id % 10 != 0")
    )
    plan = _plan(op)
    assert plan.count("BroadcastExchange") == 0, f"incremental_near_dups:\n{plan}"
    # dsir: TWO bounded broadcasts (the 1024-row ratio table + the planner's
    # auto-broadcast of the 1024-row raw<->target dist join inside it);
    # source_divergence: ONE (the 1024-row corpus log-prob table) — the
    # per-group totals join is pinned shuffle_hash (groups are hosts at scale)
    for name, n in [("dsir_weights", 2), ("source_divergence", 1)]:
        plan = _plan(Q.SPARK[name](spark, SF))
        assert plan.count("BroadcastExchange") == n, f"{name}:\n{plan}"


def test_host_mirror_pairs_full_and_partial(spark):
    from legal_document_ocr_spark.operators import dedup

    texts = [f"unique page content number {i} with enough words" for i in range(8)]
    rows_in = (
        [("siteA", t) for t in texts]
        + [("cloneA", t) for t in texts]             # full mirror
        + [("halfA", t) for t in texts[:4]]          # jaccard 0.5
        + [("other", "totally different content here")]
    )
    pages = spark.createDataFrame(rows_in, "host string, text string")
    out = dedup.host_mirror_pairs(pages)
    rows = {(r.host_a, r.host_b): r for r in out.collect()}
    full = rows[("cloneA", "siteA")]
    assert full.is_mirror == 1 and full.jaccard_micro == 1000000
    assert full.n_common == 8
    # nothing pairs with the unrelated host
    assert not any("other" in k for k in rows)
    plan = _plan(out)
    assert "BroadcastExchange" not in plan, plan


def test_funnel_counts_order_semantics(spark):
    from datetime import datetime

    from legal_document_ocr_spark.operators import relational

    t = lambda s: datetime(2026, 1, 1, 0, 0, s)  # noqa: E731
    rows_in = [
        # u1: full ordered funnel
        (1, "signup", t(1)), (1, "view", t(2)), (1, "purchase", t(3)),
        # u2: purchase BEFORE view -> reaches view, not purchase
        (2, "signup", t(1)), (2, "purchase", t(2)), (2, "view", t(3)),
        # u3: no signup -> reaches nothing
        (3, "view", t(1)), (3, "purchase", t(2)),
        # u4: signup only
        (4, "signup", t(5)),
        # u5: simultaneous signup+view -> strict 'after' excludes the view
        (5, "signup", t(1)), (5, "view", t(1)),
    ]
    ev = spark.createDataFrame(
        rows_in, "user_id long, event_type string, ts timestamp"
    )
    out = {
        r.step: r.n_users
        for r in relational.funnel_counts(
            ev, ["signup", "view", "purchase"]
        ).collect()
    }
    assert out == {"signup": 4, "view": 2, "purchase": 1}


def test_q17_stats_side_not_broadcast(spark):
    """small_quantity_revenue joins lineitem against its own per-part
    aggregate — a COMPUTED corpus-sized frame (|parts| rows) that must
    shuffle, not broadcast (the planner would broadcast it at test scale)."""
    from legal_document_ocr_spark.operators import relational

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    plan = _plan(relational.small_quantity_revenue(li))
    assert "BroadcastExchange" not in plan, plan


def test_wet_records_content_length_counts_octets(spark):
    """Content-Length must count UTF-8 BYTES, not characters — the ASCII
    corpus can't catch a length()-for-octet_length() slip, so pin it with
    multibyte text (2- and 3-byte sequences)."""
    from datetime import datetime

    from legal_document_ocr_spark.sources.warc import wet_records

    text = "héllo 中文"  # 6 chars ascii+2-byte, 2 chars 3-byte
    df = spark.createDataFrame(
        [("https://x.org/1", datetime(2024, 1, 1), text)],
        "url string, warc_ts timestamp, extracted_text string",
    )
    rec = wet_records(df).collect()[0].record
    n_bytes = len(text.encode("utf-8"))
    assert n_bytes != len(text)  # the test is vacuous if these match
    assert f"Content-Length: {n_bytes}\r\n" in rec
    assert rec.endswith("\r\n\r\n" + text)


def test_bpe_train_no_pairs_returns_empty(spark):
    """A corpus of single-character words has no adjacent pairs: training
    must return an EMPTY merge table with the right schema, not error."""
    from legal_document_ocr_spark.operators import textops

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "d e")], "doc_id long, text string"
    )
    out = textops.bpe_train_merges(docs, n_merges=3)
    assert out.columns == [
        "merge_rank", "left_sym", "right_sym", "merged", "pair_count"
    ]
    assert out.count() == 0


def test_robots_sitemaps_group_independent(spark):
    """RFC 9309 §2.3: a Sitemap directive INSIDE another agent's section
    still applies — the section window must not gate it (the registry
    query only exercises declarations outside sections)."""
    from legal_document_ocr_spark.operators import urls

    robots = spark.createDataFrame(
        [(
            "a.com",
            "User-agent: evilbot\nDisallow: /x\n"
            "Sitemap: https://a.com/inside.xml\n"
            "User-agent: *\nDisallow: /y\n"
            "  SITEMAP:   https://a.com/spaced.xml\n"
            "NoSitemap: https://a.com/decoy.xml",
        )],
        "host string, robots_txt string",
    )
    got = {
        r.sitemap_url for r in urls.parse_robots_sitemaps(robots).collect()
    }
    assert got == {"https://a.com/inside.xml", "https://a.com/spaced.xml"}


def test_session4_empty_and_singleton_edges(spark):
    from legal_document_ocr_spark.operators import relational, textops

    # script_mix: empty + whitespace-only docs
    sm = {
        r.doc_id: r
        for r in textops.script_mix(
            spark.createDataFrame(
                [(1, ""), (2, "   ")], "doc_id long, text string"
            )
        ).collect()
    }
    assert sm[1].dominant_script == "none" and sm[1].latin_ratio_micro is None
    assert sm[2].dominant_script == "none" and sm[2].latin_ratio_micro == 0

    # oov_rate: empty doc -> (0, 0, NULL)
    ov = {
        r.doc_id: r
        for r in textops.oov_rate(
            spark.createDataFrame(
                [(1, "common common rare"), (2, "")],
                "doc_id long, text string",
            ),
            vocab_size=1,
        ).collect()
    }
    assert ov[2].n_tokens == 0 and ov[2].oov_ratio_micro is None
    assert ov[1].n_oov == 1  # 'rare' is outside the top-1 vocab

    # robust_outliers: singleton group -> med = value, mad = 0, not outlier
    ro = relational.robust_outliers(
        spark.createDataFrame([("g", 42)], "grp string, val long"),
        "grp",
        "val",
    ).collect()[0]
    assert (ro.med, ro.mad, ro.is_outlier) == (42, 0, 0)


def test_host_gini_plan_ranks_only_the_bounded_distribution(spark):
    """host_gini's rank sum must come from the distinct-count DISTRIBUTION
    table (provably <= sqrt(2*n_docs) rows), never from a row_number over
    the full per-host count table in one task (VERDICT r3 'What's wrong'
    #1). Pin: no row_number anywhere, and the only single-partition
    exchanges sit ABOVE the x-distribution aggregate, i.e. below every
    Exchange SinglePartition the subtree still contains the groupBy(x)
    aggregate (so the unbounded per-host table never crosses one)."""
    import legal_document_ocr_spark.queries as Q

    plan = _plan(Q.SPARK["host_gini"](spark, SF))
    assert "row_number" not in plan, plan
    # every single-partition exchange must still have the bounded
    # distribution aggregate (keys=[x...]) BELOW it in the printed tree
    for frag in plan.split("Exchange SinglePartition")[1:]:
        assert "keys=[x" in frag, plan


def test_length_quartiles_plan_has_no_per_source_sort(spark):
    """length_ntiles must never sort a whole source partition in one
    window task (VERDICT r3 'What's wrong' #2). Pin: no ntile in the
    physical plan, and every window partition spec includes n_chars
    alongside source (boundary-straddling tie-runs only) — except windows
    over the bounded (source, n_chars) distribution sketch, which carry a
    preceding partial aggregate in their subtree."""
    import re as _re

    import legal_document_ocr_spark.queries as Q

    plan = _plan(Q.SPARK["length_ntiles"](spark, SF))
    assert "ntile" not in plan, plan
    # Window prints as `Window [exprs], [partition], [order]`; the only
    # row-level (row_number) window must be keyed by source AND n_chars.
    specs = _re.findall(r"Window \[([^\]]*)\], \[([^\]]*)\]", plan)
    assert specs, plan
    for exprs, partition in specs:
        if "row_number" in exprs:
            assert "source" in partition and "n_chars" in partition, plan


def test_bpe_train_merges_rejects_unbounded_vocab_training(spark):
    """Each BPE round schedules ~2 driver-side Spark jobs over the vocab
    table; a 32k-merge production run would be ~64k jobs. The documented
    regime (n_merges <= 256) is enforced, not advisory."""
    import pytest as _pytest

    from legal_document_ocr_spark.operators import textops

    docs = spark.createDataFrame([(1, "a b a b")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="n_merges <= 256"):
        textops.bpe_train_merges(docs, n_merges=257)


def test_driver_loop_operators_enforce_documented_bounds(spark):
    """Round-5 hardening (VERDICT item 7): every bounded-driver-loop
    operator fails fast on out-of-regime arguments instead of silently
    scheduling thousands of jobs or collecting an unbounded pool —
    greedy_cover rounds, lm_greedy_decode steps, mmr_select pool/k."""
    import pytest as _pytest

    from legal_document_ocr_spark.operators import textops
    from legal_document_ocr_spark.operators.similarity import mmr_select

    docs = spark.createDataFrame(
        [(1, "a b a b")], "doc_id long, text string"
    )
    with _pytest.raises(ValueError, match="rounds <= 256"):
        textops.greedy_cover(docs, rounds=257)
    with _pytest.raises(ValueError, match="steps <= 1024"):
        textops.lm_greedy_decode(docs, steps=1025)
    with _pytest.raises(ValueError, match="n_candidates <= 4096"):
        mmr_select(docs, ["a"], n_candidates=4097)
    with _pytest.raises(ValueError, match="k <= n_candidates"):
        mmr_select(docs, ["a"], n_candidates=8, k=9)


def test_unigram_segment_emits_overlong_word_as_one_flagged_piece(spark):
    """The (−v) % 64 piece-count packing is only invertible while
    n_pieces <= 63 (bounded by word length); a >= 64-char word — here a
    100-char URL — comes out as one piece flagged by a NULL score
    instead of failing the query, and the other words are unaffected."""
    from legal_document_ocr_spark.operators import textops

    url = "https://example.com/" + "a1b2c" * 16
    assert len(url) == 100
    docs = spark.createDataFrame(
        [(1, url + " ok ok"), (2, "ok")], "doc_id long, text string"
    )
    rows = {r["word"]: r for r in textops.unigram_segment(docs).collect()}
    assert rows[url]["n_pieces"] == 1
    assert rows[url]["best_micro"] is None
    assert rows[url]["n"] == 1
    assert rows["ok"]["n"] == 3
    assert rows["ok"]["best_micro"] is not None


def test_robots_meta_scan_accepts_reversed_attribute_order(spark):
    """<meta content="noindex" name="robots"> (content before name, or
    intervening attributes) must count as a meta directive — the ADVICE
    round-4 undercount fix."""
    from legal_document_ocr_spark.operators.urls import (
        robots_directive_merge,
    )

    rows = [
        (
            "http://a.example.com/1",
            "HTTP/1.1 200 OK\r\n",
            b'<html><head><meta content="noindex" name="robots">'
            b"</head></html>",
        ),
        (
            "http://a.example.com/2",
            "HTTP/1.1 200 OK\r\n",
            b'<html><head><meta charset="utf-8" name="robots" '
            b'content="nofollow"></head></html>',
        ),
    ]
    df = spark.createDataFrame(
        rows, "url string, headers string, html binary"
    )
    out = robots_directive_merge(df).collect()[0]
    assert out["meta_noindex"] == 1
    assert out["eff_nofollow"] == 1


def test_harmonic_centrality_nondefault_hops_keeps_all_buckets(spark):
    """max_hops=4 on a 4-chain must credit the hop-4 origin with lcm
    weights derived from max_hops (x12), not silently drop hop>=4
    contributions (ADVICE round 4): on edges 1->2->3->4->5, node 5 is
    reached at hops 1,2,3,4 from origins 4,3,2,1 -> harmonic_x12 =
    12+6+4+3 = 25."""
    from legal_document_ocr_spark.operators.graph import (
        harmonic_centrality,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    out = {
        r["node"]: r
        for r in harmonic_centrality(edges, max_hops=4).collect()
    }
    assert set(out[5].asDict()) == {
        "node", "n1", "n2", "n3", "n4", "harmonic_x12"
    }
    assert out[5]["n4"] == 1
    assert out[5]["harmonic_x12"] == 12 + 6 + 4 + 3


def test_mann_whitney_tie_correction_exact_past_int64_cube(spark):
    """ADVICE r4 (medium): c³−c cubed in int64 wraps for ties beyond
    ~2.09M rows. A 3M-row tie must yield the exact 2.7e19 tie_t (as
    decimal — it exceeds int64 — mirroring the oracle's hugeint)."""
    from legal_document_ocr_spark.operators.relational import mann_whitney

    big = spark.range(3_000_000).select(
        F.lit("a").alias("g"), F.lit(7).alias("v")
    )
    small = spark.createDataFrame([("b", 5), ("b", 9)], "g string, v long")
    out = mann_whitney(
        big.unionByName(small), "v", "a", "b", group_col="g"
    ).collect()[0]
    c = 3_000_000
    assert int(out["tie_t"]) == c * c * c - c


def test_degenerate_group_stats_emit_pinned_sentinels(spark):
    """Single-host concentration (n=1) and unanimously-agreeing raters
    (P_e=1) hit 0/0 denominators where Spark NULLs and DuckDB infs —
    both are pinned: hhi_norm_micro=-1, kappa_micro=1000000 (ADVICE
    round 4)."""
    from legal_document_ocr_spark.operators.relational import (
        concentration_indices,
        fleiss_kappa,
    )

    one_host = spark.createDataFrame(
        [("h", i) for i in range(3)], "source string, doc_id long"
    )
    row = concentration_indices(one_host).collect()[0]
    assert row["n_hosts"] == 1 and row["hhi_norm_micro"] == -1
    assert row["hhi_micro"] == 1000000

    docs = spark.createDataFrame(
        [("s", 500), ("s", 600)], "source string, n_chars long"
    )
    raters = [F.col("n_chars") >= 0, F.col("n_chars") >= 1]
    krow = fleiss_kappa(docs, raters).collect()[0]
    assert krow["kappa_micro"] == 1000000


def test_semantic_dedup_keeps_outlier_and_plan_broadcasts_only_centroids(spark):
    """SemDeDup (round 4): an exact-copy pair is a distance tie -> the
    larger id drops; a near-dup pair drops the member closer to its
    centroid. Plan: the ONLY BroadcastExchange is the bounded centroid
    table — the within-cell pair join and the loser anti-side stay
    shuffle-side."""
    from legal_document_ocr_spark.operators.similarity import semantic_dedup

    dims = 4
    rows = []
    # 4 seed vectors (ids 0..3) spread apart -> 4 distinct cells
    seeds = [[10.0, 0, 0, 0], [0, 10.0, 0, 0], [0, 0, 10.0, 0], [0, 0, 0, 10.0]]
    for i, v in enumerate(seeds):
        rows.append((i, [float(x) for x in v]))
    # id 10 = exact copy of seed 0 -> tie, larger id (10) drops
    rows.append((10, [10.0, 0.0, 0.0, 0.0]))
    # ids 20/21: same direction (cos=1), off-axis so neither pairs with a
    # seed (cos to centroid 2 = 0.8 < 0.99); both land in cell 2 and 21
    # sits closer to the centroid -> 21 drops
    rows.append((20, [0.0, 30.0, 40.0, 0.0]))
    rows.append((21, [0.0, 7.5, 10.0, 0.0]))
    # id 30: alone in its direction, kept
    rows.append((30, [0.0, 0.0, 9.0, 9.0]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup(emb, n_cells=4, threshold=0.99)
    got = {r["vec_id"]: r["kept"] for r in out.collect()}
    assert got[10] is False and got[0] is True          # tie -> larger id
    assert got[21] is False and got[20] is True         # closer-to-centroid
    assert got[30] is True
    assert sum(not k for k in got.values()) == 2
    plan = out._jdf.queryExecution().executedPlan().toString()
    # every broadcast must be the bounded centroid table (identity-mode
    # cross join, recomputed per self-join branch) — never a corpus-sized
    # BroadcastHashJoin side
    assert plan.count("BroadcastExchange") == plan.count(
        "BroadcastExchange IdentityBroadcastMode"
    ), plan
    assert "BroadcastHashJoin" not in plan, plan


def test_audio_segments_merges_consecutive_active_frames(spark):
    """VAD gaps-and-islands: loud-quiet-loud-loud-quiet-loud framing must
    yield segments [0..0], [2..3], [5..5]; a garbage payload contributes
    nothing (isolation, not task failure)."""
    import io
    import struct as _struct
    import wave

    frame = 8
    loud = [1000] * frame
    quiet = [1] * frame
    pattern = loud + quiet + loud + loud + quiet + loud
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wv:
        wv.setnchannels(1)
        wv.setsampwidth(2)
        wv.setframerate(8000)
        wv.writeframes(_struct.pack(f"<{len(pattern)}h", *pattern))
    df = spark.createDataFrame(
        [(1, buf.getvalue()), (2, b"RIFFgarbage")], "doc_id long, payload binary"
    )
    out = multimodal.audio_segments(
        df, frame_len=frame, threshold=frame * 1000 * 1000
    ).collect()
    segs = [(r["seg_id"], r["start_frame"], r["n_frames"]) for r in out]
    assert sorted(segs) == [(0, 0, 1), (1, 2, 2), (2, 5, 1)]
    assert all(r["doc_id"] == 1 for r in out)
    assert all(r["energy_sum"] == r["n_frames"] * frame * 1000 * 1000 for r in out)


def test_video_frames_decodes_avi_and_isolates_garbage(spark):
    """AVI frame sampling: a 3-frame raw-DIB AVI at step 2 yields frames
    0 and 2 with exact RGB pixel sums; compressed/garbage payloads emit
    an error row instead of failing the task."""
    from legal_document_ocr_spark.codecs import encode_avi_raw

    w, h = 4, 3
    frames = [bytes((f * 50 + j) % 256 for j in range(3 * w * h)) for f in range(3)]
    good = encode_avi_raw(w, h, frames, fps=12)
    df = spark.createDataFrame(
        [(1, good), (2, b"RIFF\x10\x00\x00\x00AVI garbage")],
        "doc_id long, payload binary",
    )
    rows = multimodal.video_frames(df, frame_step=2).collect()
    ok = sorted(
        (r["frame_idx"], r["width"], r["height"], r["px_sum"])
        for r in rows
        if r["doc_id"] == 1
    )
    assert ok == [
        (0, w, h, sum(frames[0])),
        (2, w, h, sum(frames[2])),
    ]
    assert all(r["error"] is None for r in rows if r["doc_id"] == 1)
    bad = [r for r in rows if r["doc_id"] == 2]
    assert len(bad) == 1 and bad[0]["error"] and bad[0]["frame_idx"] == -1


def test_tpch_round4_fact_joins_stay_shuffle_side(spark):
    """Round-4 TPC-H battery: the lineitem ⋈ orders fact-fact join must
    be a ShuffledHashJoin (never a broadcast of either fact side); Q6
    must plan with no join and no broadcast at all; Q21's rewrite keeps
    exactly one bounded broadcast (the supplier name dim)."""
    import legal_document_ocr_spark.queries as Q

    for name in ["volume_shipping", "market_share", "returned_items"]:
        plan = _plan(Q.SPARK[name](spark, SF))
        assert "ShuffledHashJoin" in plan, f"{name}:\n{plan}"
        # broadcasts present are dims only — never carrying l_ or o_ fact
        # payload columns wider than the key sets used here; assert the
        # fact join itself is not broadcast by checking no
        # BroadcastHashJoin mentions l_orderkey
        for frag in plan.split("BroadcastHashJoin")[1:]:
            cond = frag.split("\n", 1)[0]
            assert "l_orderkey" not in cond, f"{name}: fact broadcast\n{plan}"
    q6 = _plan(Q.SPARK["revenue_forecast"](spark, SF))
    assert "Join" not in q6 and "BroadcastExchange" not in q6, q6
    q21 = _plan(Q.SPARK["waiting_suppliers"](spark, SF))
    assert q21.count("BroadcastExchange") == 1, q21
    assert "ShuffledHashJoin" in q21, q21


def test_pii_luhn_validates_real_checksums_and_counts(spark):
    """Luhn PII battery against known vectors: 4532015112830366 and
    4111111111111111 pass the checksum, 1234567890123456 fails; IPv4 and
    card counts come from the real regex pass; a 12-digit run is too
    short to be a card candidate. Plan must be a single projection —
    zero exchanges."""
    docs = spark.createDataFrame(
        [
            (1, "pay 4532015112830366 or 4111111111111111 from 10.0.0.1"),
            (2, "invalid 1234567890123456 ip 192.168.1.254 and 8.8.8.8"),
            (3, "short 123456789012 digits only"),
            (4, "no pii at all here"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_ipv4"], r["n_cards"], r["n_luhn_valid"])
        for r in textops.pii_luhn(docs).collect()
    }
    assert got[1] == (1, 2, 2)
    assert got[2] == (2, 1, 0)
    assert got[3] == (0, 0, 0)
    assert got[4] == (0, 0, 0)
    plan = _plan(textops.pii_luhn(docs))
    assert "Exchange" not in plan, plan


def test_tpch_q2_q12_q19_q22_plans_and_semantics(spark):
    """Completion of the 22-query TPC-H battery. Plans: Q12's fact-fact
    orderkey join and Q22's NOT-EXISTS anti join are ShuffledHashJoin
    (never a fact broadcast); Q2's argmin join-back is shuffle-side with
    dims broadcast; Q19 broadcasts only the brand/size-filtered part
    slice. Semantics: Q2 keeps ties on minimum cost; Q22's threshold is
    the positive-balance average."""
    import legal_document_ocr_spark.queries as Q
    from legal_document_ocr_spark.operators import relational

    q12 = _plan(Q.SPARK["shipmode_priority"](spark, SF))
    assert "ShuffledHashJoin" in q12, q12
    assert "BroadcastHashJoin" not in q12, q12
    q22 = _plan(Q.SPARK["idle_customers"](spark, SF))
    assert "ShuffledHashJoin" in q22 and "LeftAnti" in q22, q22
    assert q22.count("BroadcastExchange") == 1, q22  # the 1-row threshold
    q2 = _plan(Q.SPARK["min_cost_supplier"](spark, SF))
    assert "ShuffledHashJoin" in q2, q2  # the argmin join-back
    q19 = _plan(Q.SPARK["bracket_revenue"](spark, SF))
    assert q19.count("BroadcastHashJoin") == 1, q19
    assert "PushedFilters: [" in q19, q19

    # Q2 ties kept: two suppliers, same surrogate cost for one part
    # cost(p,s) = ((31p + 17s) % 1000)/100 + 1 -> equal when 17*(s1-s2) % 1000 == 0
    # s=125 and s=1125 differ by 1000 -> 17000 % 1000 == 0: tie
    li = spark.createDataFrame(
        [(1, 7, 125), (2, 7, 1125)],
        "l_orderkey long, l_partkey long, l_suppkey long",
    )
    part = spark.createDataFrame([(7, "part7", 1, "STANDARD")],
                                 "p_partkey long, p_name string, p_size int, p_type string")
    supp = spark.createDataFrame(
        [(125, "s125", 1.0, 0), (1125, "s1125", 2.0, 0)],
        "s_suppkey long, s_name string, s_acctbal double, s_nationkey int",
    )
    nat = spark.createDataFrame([(0, "N0", 0)],
                                "n_nationkey int, n_name string, n_regionkey int")
    reg = spark.createDataFrame([(0, "EUROPE")], "r_regionkey int, r_name string")
    out = relational.min_cost_supplier(part, supp, nat, reg, li).collect()
    assert {r.s_name for r in out} == {"s125", "s1125"}  # tie kept
    assert len({r.supplycost for r in out}) == 1

    # Q22 threshold: avg positive balance excludes negatives from the mean
    cust = spark.createDataFrame(
        [(1, 0, 100.0), (2, 0, 300.0), (3, 0, -50.0), (4, 1, 250.0)],
        "c_custkey long, c_nationkey int, c_acctbal double",
    )
    orders = spark.createDataFrame(
        [(10, 2, "2001-06-01")],
        "o_orderkey long, o_custkey long, o_orderdate string",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp"))
    # avg positive = (100+300+250)/3 = 216.67; rich = {2, 4}; 2 ordered recently
    rows = {r.cntrycode: (r.numcust, r.totacctbal)
            for r in relational.idle_customers(cust, orders).collect()}
    assert rows == {1: (1, 250.0)}


def test_jsonld_extract_blocks_and_error_isolation(spark):
    """Multiple JSON-LD blocks per page explode in order; a malformed
    block yields parse_ok=0 with NULL fields (never a task failure);
    pages without blocks produce no rows. Plan: no shuffle, no UDF."""
    from legal_document_ocr_spark.operators import urls

    mk = lambda s: s.encode()  # noqa: E731
    df = spark.createDataFrame(
        [
            ("u1", mk('<head><script type="application/ld+json">'
                      '{"@type":"Article","name":"A","x":"1"}</script>'
                      '<script type="application/ld+json">'
                      '{"@type":"Product","name":"P"}</script></head>')),
            ("u2", mk('<script type="application/ld+json">'
                      '{"@type":"Broken","name":</script>')),
            ("u3", mk("<html>no structured data</html>")),
        ],
        "url string, html binary",
    )
    rows = urls.extract_jsonld(df).collect()
    by = {(r.url, r.block_idx): r for r in rows}
    assert set(by) == {("u1", 0), ("u1", 1), ("u2", 0)}
    assert by[("u1", 0)].jtype == "Article" and by[("u1", 0)].n_keys == 3
    assert by[("u1", 1)].jtype == "Product" and by[("u1", 1)].name == "P"
    assert by[("u2", 0)].parse_ok == 0 and by[("u2", 0)].jtype is None
    assert by[("u2", 0)].n_keys == 0
    plan = urls.extract_jsonld(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "Python" not in plan, plan


def test_hreflang_reciprocity_confirmed_broken_dangling(spark):
    """Self-referential and mutual alternates confirm; an alternate into a
    page that declares nothing back is non-reciprocal; a dangling target
    (no such page) is non-reciprocal. Plan: the confirmation join must
    never broadcast (both sides are corpus-scale)."""
    from legal_document_ocr_spark.operators import urls

    tag = (
        lambda lg, u: f'<link rel="alternate" hreflang="{lg}" href="{u}">'
    )  # noqa: E731
    a, b, c = "https://x.com/en/1", "https://x.com/de/1", "https://x.com/fr/1"
    df = spark.createDataFrame(
        [
            # a: self + b + dangling c (c declares nothing back)
            (a, (tag("en", a) + tag("de", b) + tag("fr", c)).encode()),
            # b: back to a only
            (b, tag("en", a).encode()),
            # c: declares nothing
            (c, b"<html><head></head></html>"),
        ],
        "url string, html binary",
    )
    alts = urls.extract_hreflang(df)
    out = urls.hreflang_reciprocity(alts)
    got = {(r.url, r.target): r.reciprocal for r in out.collect()}
    assert got == {
        (a, a): 1,  # self-edge confirms itself
        (a, b): 1,  # mutual
        (a, c): 0,  # c never declares back
        (b, a): 1,
    }
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan, plan


def test_hreflang_extract_lowercases_and_drops_empty_target(spark):
    from legal_document_ocr_spark.operators import urls

    html = (
        '<link rel="alternate" hreflang="EN-us" href="https://x.com/a">'
        '<link rel="alternate" hreflang="de" href="">'
    ).encode()
    rows = urls.extract_hreflang(
        spark.createDataFrame([("u", html)], "url string, html binary")
    ).collect()
    assert [(r.hreflang, r.target) for r in rows] == [
        ("en-us", "https://x.com/a")
    ]


def test_parse_feed_entries_rss_atom_and_bad_date(spark):
    """RSS items parse RFC-822 dates (weekday prefix and zone suffix
    stripped); Atom entries parse ISO-8601 Zulu; a malformed pubDate
    becomes NULL pub_epoch, never a task failure (ANSI-safe via
    try_to_timestamp); a feed with no entries emits no rows. Plan: no
    shuffle below the kind-union, no UDF."""
    import datetime

    from legal_document_ocr_spark.operators import urls

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    rss = (
        b"<rss><channel>"
        b"<item><title>A</title><link>https://f.com/a</link><guid>g1</guid>"
        b"<pubDate>Tue, 05 Feb 2024 10:30:00 +0000</pubDate></item>"
        b"<item><title>B</title><link>https://f.com/b</link><guid>g2</guid>"
        b"<pubDate>whenever</pubDate></item>"
        b"</channel></rss>"
    )
    atom = (
        b'<feed><entry><title>C</title><link href="https://f.com/c"/>'
        b"<id>tag:c</id><updated>2024-02-05T10:30:00Z</updated></entry></feed>"
    )
    df = spark.createDataFrame(
        [("r", rss), ("a", atom), ("empty", b"<rss><channel></channel></rss>")],
        "url string, xml binary",
    )
    out = urls.parse_feed_entries(df)
    rows = {(r.feed_url, r.kind, r.entry_idx): r for r in out.collect()}
    want = int(
        datetime.datetime(
            2024, 2, 5, 10, 30, tzinfo=datetime.timezone.utc
        ).timestamp()
    )
    assert set(rows) == {("r", "rss", 0), ("r", "rss", 1), ("a", "atom", 0)}
    assert rows[("r", "rss", 0)].pub_epoch == want
    assert rows[("r", "rss", 0)].link == "https://f.com/a"
    assert rows[("r", "rss", 1)].pub_epoch is None
    assert rows[("a", "atom", 0)].pub_epoch == want
    assert rows[("a", "atom", 0)].guid == "tag:c"
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "Python" not in plan, plan


# ---------------------------------------------------------------------------
# round-4 session-8 additions: linkage / outline / SCD2 / citations / dates
# ---------------------------------------------------------------------------


def test_record_linkage_plan_and_semantics(spark):
    """The blocked join must stay a shuffle join (both sides corpus-sized)
    and the scoring must separate true pairs from in-block decoys on
    distinctive names."""
    import legal_document_ocr_spark.queries as Q

    df = Q.SPARK["record_linkage"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan, plan
    rows = df.collect()
    true_pairs = [r for r in rows if r.id_b - r.id_a == 1000000]
    decoys = [r for r in rows if r.id_b - r.id_a != 1000000]
    assert true_pairs and all(r.matched == 1 for r in true_pairs)
    # md5-prefixed names make in-block decoys dissimilar
    assert decoys and all(r.matched == 0 for r in decoys)


def test_record_linkage_no_exact_cols(spark):
    a = spark.createDataFrame(
        [(1, "b", "alpha corp"), (2, "b", "zzzzzzzzzz")],
        "rec_id long, block_key string, name string",
    )
    b = spark.createDataFrame(
        [(10, "b", "alpha corp.")], "rec_id long, block_key string, name string"
    )
    out = dedup.record_linkage(a, b, threshold=900).collect()
    assert {(r.id_a, r.matched) for r in out} == {(1, True), (2, False)}
    assert all(r.n_exact == 0 for r in out)


def test_outline_numbering_restarts_and_orphan_level3(spark):
    h = spark.createDataFrame(
        [(1, 1, 1), (1, 2, 3), (1, 3, 2), (1, 4, 3), (1, 5, 1), (1, 6, 2)],
        "doc_id long, pos int, level int",
    )
    out = {r.pos: r.outline for r in relational.outline_numbering(h).collect()}
    # pos 2: level-3 before any level-2 -> n2 stays 0 (orphan, deterministic)
    assert out == {1: "1", 2: "1.0.1", 3: "1.1", 4: "1.1.1", 5: "2", 6: "2.1"}


def test_capture_intervals_extend_close_open(spark):
    caps = spark.createDataFrame(
        [("u", 10, "h1"), ("u", 20, "h1"), ("u", 30, "h2"), ("v", 5, "x")],
        "url string, ts long, content_hash string",
    )
    rows = {
        (r.url, r.version): r
        for r in relational.capture_intervals(caps).collect()
    }
    r1 = rows[("u", 1)]
    assert (r1.valid_from, r1.valid_to, r1.n_captures, r1.is_current) == (
        10, 30, 2, 0,
    )
    r2 = rows[("u", 2)]
    assert (r2.valid_from, r2.valid_to, r2.is_current) == (30, None, 1)
    assert rows[("v", 1)].is_current == 1


def test_legal_citations_decoys_and_optional_parts(spark):
    d = spark.createDataFrame(
        [
            (1, "Căn cứ Điều 5 Khoản 2 Điểm b và Điều 9."),
            (2, "Theo Điều 12 Điểm c, không theo Điều khoản nào."),
            (3, "Không trích dẫn."),
        ],
        "doc_id long, text string",
    )
    rows = textops.legal_citations(d).collect()
    got = {(r.doc_id, r.ord): (r.dieu, r.khoan, r.diem) for r in rows}
    assert got == {
        (1, 1): (5, 2, "b"),
        (1, 2): (9, None, None),
        (2, 1): (12, None, "c"),
    }


def test_publish_dates_precedence_and_nulls(spark):
    from legal_document_ocr_spark.operators.urls import publish_dates

    pages = spark.createDataFrame(
        [
            ("http://h/2021/03/04/a", '<meta property="article:published_time" content="2022-05-06T00:00:00Z">'),
            ("http://h/2021/03/04/b", "<html>"),
            ("http://h/plain", "<html>"),
        ],
        "url string, html string",
    )
    rows = {r.url: r for r in publish_dates(pages).collect()}
    a = rows["http://h/2021/03/04/a"]
    assert (a.publish_date, a.date_source) == ("2022-05-06", "meta")
    b = rows["http://h/2021/03/04/b"]
    assert (b.publish_date, b.date_source, b.epoch_day) == (
        "2021-03-04", "url", 18690,
    )
    c = rows["http://h/plain"]
    assert c.publish_date is None and c.date_source is None


# ---------------------------------------------------------------------------
# round-4 session-9 additions: label propagation / weighted sampling
# ---------------------------------------------------------------------------


def test_label_propagation_pools_triangles_no_broadcast(spark):
    """Two triangles joined by nothing: after 2 synchronous rounds each
    triangle converges to its minimum member label, and the label join
    stays a shuffle join (host tables are ~1e8 rows at web scale)."""
    from legal_document_ocr_spark.operators import graph

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"),
         ("x", "y"), ("y", "z"), ("z", "x")],
        "src string, dst string",
    )
    out = graph.label_propagation(edges, iters=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan, plan
    comm = {r["node"]: r["community"] for r in out.collect()}
    assert comm == {"a": "a", "b": "a", "c": "a",
                    "x": "x", "y": "x", "z": "x"}


def test_weighted_sample_semantics_and_group_limit_plan(spark, docs):
    """k rows per stratum, rank filter pushed to a WindowGroupLimit
    (partial per-stratum limit BEFORE the exchange — the length_ntiles
    lesson), and the priority is the restatable hash-div-weight."""
    from legal_document_ocr_spark.operators import sampling

    d = docs.select(
        "doc_id", "source", F.length("text").cast("long").alias("wt")
    )
    out = sampling.weighted_sample(d, "doc_id", "wt", k=5,
                                   strata_col="source")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan
    rows = out.collect()
    per = {}
    for r in rows:
        per.setdefault(r["strata"], []).append(r)
    n_strata = d.select("source").distinct().count()
    assert len(per) == n_strata
    for grp in per.values():
        assert len(grp) <= 5
        assert sorted(r["rn"] for r in grp) == list(range(1, len(grp) + 1))
        # rn order follows ascending priority
        by_rn = sorted(grp, key=lambda r: r["rn"])
        pris = [r["priority"] for r in by_rn]
        assert pris == sorted(pris)


def test_weighted_sample_weight_monotonicity(spark):
    """Same key hash, 100x the weight -> 100x smaller priority: heavier
    records win the per-stratum race deterministically."""
    from legal_document_ocr_spark.operators import sampling

    d = spark.createDataFrame(
        [("k1", 1), ("k1x", 1)], "id string, w long"
    )
    heavy = spark.createDataFrame([("k1", 100)], "id string, w long")
    lo = {r["id"]: r["priority"]
          for r in sampling.weighted_sample(d, "id", "w", k=10).collect()}
    hi = {r["id"]: r["priority"]
          for r in sampling.weighted_sample(heavy, "id", "w", k=10).collect()}
    assert hi["k1"] == lo["k1"] // 100


def test_heavy_hitters_exact_regardless_of_summary_size(spark):
    """The MG sketch only PRUNES; output = exact tokens with
    count*denom >= N even with the smallest legal summary, and the plan
    shows the bounded-memory MapInPandas pass + broadcast semi recount."""
    from legal_document_ocr_spark.operators import dedup

    # 40 'hot', 6 'warm', 54 singletons -> N=100; denom=10 -> cnt >= 10
    rows = (["hot hot"] * 20) + (["warm"] * 6) + [f"u{i}" for i in range(54)]
    d = spark.createDataFrame([(i, t) for i, t in enumerate(rows)],
                              "doc_id long, text string")
    out = dedup.heavy_hitters(d, denom=10)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan, plan
    got = {(r["token"], r["n"]) for r in out.collect()}
    assert got == {("hot", 40)}
    # tighter summary still exact (superset guarantee + exact verify)
    tight = dedup.heavy_hitters(d, denom=10, summary_size=3)
    assert {(r["token"], r["n"]) for r in tight.collect()} == {("hot", 40)}


def test_containment_pairs_quote_high_jaccard_low(spark):
    """A 5-token excerpt of a 40-token doc: containment from the excerpt
    side is 1.0 (1e6 micro) while symmetric Jaccard is far below the
    same 0.6 bar — the partial-duplication case Jaccard misses."""
    from legal_document_ocr_spark.operators import dedup

    big = " ".join(f"w{i}" for i in range(40))
    quote = " ".join(f"w{i}" for i in range(5))
    d = spark.createDataFrame([(1, big), (2, quote)],
                              "doc_id long, text string")
    out = {(r["id_src"], r["id_dst"]): r["containment_micro"]
           for r in dedup.containment_pairs(d, threshold_micro=600000).collect()}
    assert out == {(2, 1): 1000000}  # 3 of 3 quote shingles contained
    jac = dedup.ngram_jaccard_pairs(d, threshold=0.0).collect()
    assert jac and all(r["jaccard"] < 0.6 for r in jac)


def test_k_core_peels_pendants_keeps_triangle(spark):
    """Triangle + pendant chain: pendants die in round one (degree 1),
    the triangle survives as the 2-core with in-subgraph degree 2; the
    alive-set joins stay shuffle joins."""
    from legal_document_ocr_spark.operators import graph

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e")],
        "src string, dst string",
    )
    out = graph.k_core(edges, k=2, iters=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan, plan
    got = {r["node"]: r["degree"] for r in out.collect()}
    # round 1: e dies (deg 1); round 2 degrees are measured BEFORE that
    # round's filter drops d, so c still counts the c-d edge (the exact
    # semantics the unrolled-CTE oracle restates)
    assert got == {"a": 2, "b": 2, "c": 3}
    # one more round converges: d gone, triangle at uniform degree 2
    done = {r["node"]: r["degree"]
            for r in graph.k_core(edges, k=2, iters=3).collect()}
    assert done == {"a": 2, "b": 2, "c": 2}


def test_cube_census_full_lattice(spark, docs):
    """CUBE emits all four grouping levels (rollup lacks the lang
    marginal, level 2) and every level's doc total re-adds to the corpus
    count, in ONE Expand+aggregate pass (no union of scans)."""
    from legal_document_ocr_spark.operators import relational

    out = relational.corpus_cube_census(docs).collect()
    n = docs.count()
    levels = {}
    for r in out:
        levels.setdefault(r["grouping_level"], []).append(r)
    assert set(levels) == {0, 1, 2, 3}
    for lvl in (0, 1, 2):
        assert sum(r["n_docs"] for r in levels[lvl]) == n
    assert levels[3][0]["n_docs"] == n


def test_profile_columns_encodings_and_expand_tradeoff(spark):
    """Numeric min/max order numerically after string rendering (9 < 10),
    doubles encode as floor-micro, nulls counted; exact NDV plans the
    Expand, the approx path keeps the single pass Expand-free."""
    d = spark.createDataFrame(
        [(9, 1.5, "b"), (10, None, "a"), (2000000, 0.25, None)],
        "k long, v double, s string",
    )
    out = {r["col_name"]: r for r in relational.profile_columns(d).collect()}
    assert out["k"]["min_repr"] == "9" and out["k"]["max_repr"] == "2000000"
    assert out["v"]["n_nulls"] == 1 and out["v"]["min_repr"] == "250000"
    assert out["v"]["max_repr"] == "1500000"
    assert out["s"]["n_distinct"] == 2 and out["s"]["min_repr"] == "a"
    assert all(r["n_rows"] == 3 for r in out.values())
    exact_plan = relational.profile_columns(d)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Expand" in exact_plan
    approx_plan = relational.profile_columns(d, exact_distinct=False) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in approx_plan, approx_plan


def test_domain_quality_ci_prices_in_sample_size(spark):
    """2/2 passing must rank BELOW 900/1000 — the sort-by-average trap
    the Wilson lower bound exists to avoid."""
    from legal_document_ocr_spark.operators import sampling

    rows = [("tiny", 1) for _ in range(2)]
    rows += [("big", 1)] * 900 + [("big", 0)] * 100
    d = spark.createDataFrame(rows, "source string, passed int")
    out = {r["source"]: r for r in
           sampling.domain_quality_ci(d, "passed").collect()}
    assert out["tiny"]["n_pass"] == 2 and out["big"]["n_pass"] == 900
    assert out["tiny"]["wilson_lb_micro"] < out["big"]["wilson_lb_micro"]
    # bound is a lower bound: below the raw rate
    assert out["big"]["wilson_lb_micro"] < 900000


def test_bitext_candidates_cross_lang_only_and_df_cap(spark):
    """A translated pair sharing two rare numbers matches; the same-lang
    copy does not; a number on every page (df > cap) cannot create
    pairs by itself."""
    from legal_document_ocr_spark.operators import textops

    common = " 2024"  # appears in every doc -> df-capped out
    d = spark.createDataFrame(
        [
            (1, "en", "revenue rose 4711 units this quarter fig 9313" + common),
            (2, "de", "umsatz stieg 4711 im quartal abb 9313" + common),
            (3, "en", "revenue rose 4711 units fig 9313" + common),  # same lang as 1
            (4, "fr", "sans chiffres communs 555" + common),
        ],
        "doc_id long, lang string, text string",
    )
    out = {(r["id_a"], r["id_b"]): (r["lang_a"], r["lang_b"], r["shared"])
           for r in textops.bitext_candidates(d, df_cap=3).collect()}
    assert (1, 2) in out and out[(1, 2)][2] == 2
    assert (2, 3) in out  # de<->en also shares both numbers
    assert (1, 3) not in out  # same language
    assert not any(4 in pair for pair in out)  # only the capped number


def test_prefix_jaccard_join_complete_vs_brute_force(spark):
    """Prefix filtering must be a complete candidate generator: results
    equal the all-pairs brute force on a corpus with planted edits and
    decoys (the no-false-negatives contract LSH can't make)."""
    import itertools

    words = [f"w{i}" for i in range(30)]
    rows = []
    for d in range(12):
        base = [words[(d * 7 + j) % 30] for j in range(12)]
        rows.append((d, " ".join(base)))
        if d % 3 == 0:  # planted near-identical copy (one token changed)
            edited = list(base)
            edited[-1] = "zz%d" % d
            rows.append((d + 100, " ".join(edited)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]): r["jaccard_micro"]
           for r in dedup.prefix_jaccard_join(df, threshold_micro=700000).collect()}
    # brute force on the same distinct-token sets
    sets = {i: set(t.lower().split()) for i, t in rows}
    want = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        uni = len(sets[a] | sets[b])
        jm = inter * 1000000 // uni
        if jm >= 700000:
            want[(a, b)] = jm
    assert got == want and want  # non-trivial: planted pairs present


def test_budget_select_tier_order_and_two_phase_offsets(spark):
    """Offsets from the bucketed two-phase cumsum equal the naive
    per-group running sum in (tier DESC, hash) order; keep flips exactly
    where the budget is exhausted; high tiers admitted first."""
    from legal_document_ocr_spark.operators import sampling

    rows = [(i, "g", i % 3, 100) for i in range(30)]  # tiers 0,1,2
    d = spark.createDataFrame(rows, "doc_id long, source string, tier int, w long")
    out = sampling.budget_select(
        d, tier_col="tier", weight_col="w", budget=1000
    ).collect()
    ordered = sorted(out, key=lambda r: (-r["tier"], r["rank_hash"], r["doc_id"]))
    run = 0
    for r in ordered:
        assert r["start_offset"] == run, (r, run)
        assert r["keep"] == (1 if run < 1000 else 0)
        run += r["weight"]
    kept = [r for r in out if r["keep"]]
    assert len(kept) == 10  # 1000 budget / 100 each
    # the 10 tier-2 docs fill first, then budget is gone
    assert all(r["tier"] == 2 for r in kept)


# ---------------------------------------------------------------------------
# round-4 session-10: graph mining / sequences / sketch overlap / skyline /
# novelty
# ---------------------------------------------------------------------------


def test_triangle_count_exact_on_known_graph(spark):
    """One triangle (a,b,c) plus pendant d: per-node counts and the
    integer clustering coefficient match hand computation; edge
    direction and duplicates don't matter (canonicalized + distinct)."""
    from legal_document_ocr_spark.operators.graph import triangle_count

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("c", "a"), ("c", "d")],
        "src string, dst string",
    )
    rows = {r["node"]: r for r in triangle_count(edges).collect()}
    assert rows["a"]["triangles"] == 1 and rows["a"]["degree"] == 2
    assert rows["a"]["clustering_micro"] == 1000000
    assert rows["b"]["clustering_micro"] == 1000000
    assert rows["c"]["degree"] == 3 and rows["c"]["triangles"] == 1
    assert rows["c"]["clustering_micro"] == 333333  # 2e6/(3*2)
    assert rows["d"]["triangles"] == 0 and rows["d"]["clustering_micro"] == 0


def test_triangle_and_cocitation_plans_zero_broadcasts(spark):
    """Both graph miners join corpus-sized edge/degree frames — every join
    must travel as a shuffle exchange (the planner would happily broadcast
    the 20-host demo tables; at 1e9 edges that's the driver funnel)."""
    import legal_document_ocr_spark.queries as Q

    for name in ["triangle_count", "cocitation_pairs"]:
        plan = _plan(Q.SPARK[name](spark, SF))
        assert plan.count("BroadcastExchange") == 0, f"{name}:\n{plan}"


def test_cocitation_pairs_hub_cap_and_cosine(spark):
    """Shared targets below the in-degree cap generate pairs; a target
    over the cap is excluded BEFORE the self-join (the google.com rule).
    cosine_micro = floor(1e6 * common / sqrt(out_a * out_b))."""
    from legal_document_ocr_spark.operators.graph import cocitation_pairs

    edges = spark.createDataFrame(
        [
            ("a", "x"), ("b", "x"), ("c", "x"),  # x in-degree 3 > cap
            ("a", "y"), ("b", "y"),              # y shared a,b
        ],
        "src string, dst string",
    )
    out = {
        (r["host_a"], r["host_b"]): r
        for r in cocitation_pairs(edges, hub_cap=2).collect()
    }
    assert list(out) == [("a", "b")]
    r = out[("a", "b")]
    assert r["common"] == 1
    assert r["cosine_micro"] == 500000  # 1e6 / sqrt(2*2)


def test_pareto_frontier_dominance_and_ties(spark):
    """Dominated rows die, frontier ties on (q, l) all survive, and the
    longest row at each surviving quality level is the only one kept."""
    from legal_document_ocr_spark.operators.relational import pareto_frontier

    df = spark.createDataFrame(
        [
            (1, 10, 100),  # frontier (best q)
            (2, 10, 90),   # same q, shorter -> dominated at q-level
            (3, 9, 120),   # frontier (longer than every higher-q row)
            (4, 9, 120),   # tie of 3 -> survives
            (5, 8, 110),   # dominated by 3 (9>8, 120>110)
            (6, 7, 130),   # frontier
        ],
        "doc_id long, q long, l long",
    )
    ids = sorted(
        r["doc_id"] for r in pareto_frontier(df, "doc_id", "q", "l").collect()
    )
    assert ids == [1, 3, 4, 6]


def test_kmv_overlap_exact_regime_and_group_limit_plan(spark):
    """Below-k vocabularies put the sketch in its exact regime: the
    estimate IS floor(1e6*|A∩B|/|A∪B|). The per-source k-smallest rank
    filter must compile to a WindowGroupLimit (no full vocabulary sort
    in one task)."""
    from legal_document_ocr_spark.operators.dedup import kmv_source_overlap

    docs = spark.createDataFrame(
        [("s1", "alpha beta gamma delta"), ("s2", "gamma delta eps zeta")],
        "source string, text string",
    )
    out = kmv_source_overlap(docs).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["src_a"], r["src_b"]) == ("s1", "s2")
    assert r["k_used"] == 6 and r["n_common"] == 2
    assert r["jaccard_micro"] == 333333
    plan = kmv_source_overlap(docs)._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan


def test_event_transitions_probabilities(spark):
    """Per-user lag pairs counted and row-normalized; ties on ts break by
    event_id so the chain is deterministic."""
    from legal_document_ocr_spark.operators.sequences import event_transitions

    events = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 10, "a"),
            (2, "2024-01-01 00:00:01", 10, "b"),
            (3, "2024-01-01 00:00:02", 10, "a"),
            (4, "2024-01-01 00:00:00", 20, "a"),
            (5, "2024-01-01 00:00:01", 20, "c"),
        ],
        "event_id long, ts string, user_id long, event_type string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {
        (r["prev_type"], r["next_type"]): r
        for r in event_transitions(events).collect()
    }
    # from 'a': a->b (u10), a->c (u20) — each 1 of row total 2
    assert out[("a", "b")]["n"] == 1 and out[("a", "b")]["prob_micro"] == 500000
    assert out[("a", "c")]["prob_micro"] == 500000
    assert out[("b", "a")]["n"] == 1 and out[("b", "a")]["prob_micro"] == 1000000


def test_session_paths_first_k_and_group_limit_plan(spark):
    """Only the first max_steps events form the path (ordered ts then
    event_id); the rank filter compiles to WindowGroupLimit so a hot user
    never sorts their full history in one task."""
    from legal_document_ocr_spark.operators.sequences import session_paths

    rows = [(i, f"2024-01-01 00:00:{i:02d}", 1, t)
            for i, t in enumerate("abcdefg")]
    rows += [(10, "2024-01-01 00:00:00", 2, "a"),
             (11, "2024-01-01 00:00:01", 2, "b")]
    events = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {r["path"]: r for r in session_paths(events, max_steps=5).collect()}
    assert out["a>b>c>d>e"]["n_users"] == 1
    assert out["a>b>c>d>e"]["n_steps"] == 5
    assert out["a>b"]["n_users"] == 1 and out["a>b"]["n_steps"] == 2
    plan = session_paths(events)._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan


def test_event_bursts_trailing_baseline(spark):
    """burst_micro = floor(1e6 * trailing * n / trailing-sum); rows
    without a full trailing window are suppressed."""
    from legal_document_ocr_spark.operators.sequences import event_bursts

    rows = []
    eid = 0
    # type 'e': days 1..5 with counts 1,2,3,12,3
    for day, n in [(1, 1), (2, 2), (3, 3), (4, 12), (5, 3)]:
        for _ in range(n):
            rows.append((eid, f"2024-01-0{day} 12:00:00", 1, "e"))
            eid += 1
    events = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {str(r["day"]): r for r in event_bursts(events).collect()}
    assert set(out) == {"2024-01-04", "2024-01-05"}
    assert out["2024-01-04"]["baseline_sum"] == 6  # 1+2+3
    assert out["2024-01-04"]["burst_micro"] == 6000000  # 12*3e6/6
    assert out["2024-01-05"]["baseline_sum"] == 17  # 2+3+12
    assert out["2024-01-05"]["burst_micro"] == 529411  # floor(3*3e6/17)


def test_ngram_novelty_counts_and_plan(spark):
    """Per-B-doc novel-shingle fraction against A's global gram set; docs
    too short for one shingle report zeros. The anti join against the
    corpus-sized A side must not be a broadcast."""
    from legal_document_ocr_spark.operators.dedup import ngram_novelty

    a = spark.createDataFrame(
        [(1, "a b c d e")], "doc_id long, text string"
    )
    b = spark.createDataFrame(
        [(10, "a b c x y z"), (11, "p q")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in ngram_novelty(a, b).collect()}
    # B grams of 10: 'a b c','b c x','c x y','x y z' — only 'a b c' in A
    assert out[10]["n_grams"] == 4 and out[10]["n_novel"] == 3
    assert out[10]["novelty_micro"] == 750000
    assert out[11]["n_grams"] == 0 and out[11]["novelty_micro"] == 0
    import legal_document_ocr_spark.queries as Q

    plan = _plan(Q.SPARK["ngram_novelty"](spark, SF))
    assert plan.count("BroadcastExchange") == 0, plan


def test_exif_roundtrip_both_endians_and_error_isolation(spark):
    """encode_jpeg_exif -> exif_extract recovers every field under both
    byte orders; a garbage payload flags its own row, never the task."""
    from legal_document_ocr_spark.codecs import encode_jpeg_exif
    from legal_document_ocr_spark.operators.multimodal import exif_extract

    good_le = encode_jpeg_exif(
        {"make": "MakeA", "model": "M-3", "orientation": 6,
         "datetime": "2024:01:05 12:00:00",
         "x_resolution": (300, 1), "exposure": (1, 125)},
        big_endian=False,
    )
    good_be = encode_jpeg_exif(
        {"make": "MakeB", "model": "M-1", "orientation": 1,
         "datetime": "2024:02:06 08:30:00",
         "x_resolution": (72, 1), "exposure": (2, 3)},
        big_endian=True,
    )
    df = spark.createDataFrame(
        [(1, bytearray(good_le)), (2, bytearray(good_be)),
         (3, bytearray(b"\xff\xd8\xff\xd9")), (4, bytearray(b"nonsense"))],
        "doc_id long, payload binary",
    )
    out = {r["doc_id"]: r for r in exif_extract(df).collect()}
    assert out[1]["make"] == "MakeA" and out[1]["orientation"] == 6
    assert out[1]["x_resolution_micro"] == 300000000
    assert out[1]["exposure_micro"] == 8000  # 1e6 // 125
    assert out[2]["make"] == "MakeB" and out[2]["taken_at"].startswith("2024:02")
    assert out[2]["exposure_micro"] == 666666  # 2e6 // 3
    assert out[3]["error"] and out[3]["make"] is None
    assert out[4]["error"] and "not a JPEG" in out[4]["error"]


def test_source_dup_matrix_counts_and_cap(spark):
    """Diagonal counts n*(n-1)/2, off-diagonal n_a*n_b summed per family;
    families over family_cap are excluded before pairing; the pair join
    never broadcasts a corpus-sized side."""
    from legal_document_ocr_spark.operators.dedup import source_dup_matrix

    rows = [
        (1, "dup one", "s1"), (2, "dup one", "s1"), (3, "dup one", "s2"),
        (4, "dup two", "s1"), (5, "dup two", "s3"),
        (6, "unique text", "s1"),
    ]
    # a template family bigger than the cap: must vanish
    rows += [(100 + i, "template", f"s{i % 3 + 1}") for i in range(9)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {
        (r["source_a"], r["source_b"]): r
        for r in source_dup_matrix(docs, family_cap=8).collect()
    }
    assert out[("s1", "s1")]["n_dup_pairs"] == 1  # dup-one pair within s1
    assert out[("s1", "s2")]["n_dup_pairs"] == 2  # 2x1 dup-one
    assert out[("s1", "s3")]["n_dup_pairs"] == 1  # dup-two
    assert ("s2", "s3") not in out
    assert out[("s1", "s2")]["n_families"] == 1
    import legal_document_ocr_spark.queries as Q

    plan = _plan(Q.SPARK["source_dup_matrix"](spark, SF))
    assert plan.count("BroadcastExchange") == 0, plan


def test_compression_ratio_matches_zlib_and_flags(spark):
    """Per-row exactness against the same zlib call (the pytest oracle
    standing in for the non-SQL-expressible DuckDB side), plus the
    repetition flag: template churn compresses under the cut, prose
    doesn't, empty text never divides by zero."""
    import zlib

    from legal_document_ocr_spark.operators.textops import compression_ratio

    texts = {
        1: "spam spam spam " * 200,
        2: "the quick brown fox jumps over a lazy dog while reading",
        3: "",
    }
    docs = spark.createDataFrame(
        [(k, v) for k, v in texts.items()], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in compression_ratio(docs).collect()}
    for k, t in texts.items():
        raw = t.encode()
        comp = len(zlib.compress(raw, 6))
        assert out[k]["n_compressed"] == comp
        exp = comp * 1000000 // len(raw) if raw else 1000000
        assert out[k]["ratio_micro"] == exp
    assert out[1]["is_repetitive"] == 1
    assert out[2]["is_repetitive"] == 0
    assert out[3]["is_repetitive"] == 0 and out[3]["n_bytes"] == 0


def test_score_calibration_integer_cume_dist(spark):
    """pct_micro is the integer cume_dist within group; the row-level
    join-back is a ShuffledHashJoin (never a rank window over raw rows,
    never a planner broadcast of the per-group table)."""
    from legal_document_ocr_spark.operators.relational import score_calibration

    df = spark.createDataFrame(
        [(1, "g1", 1), (2, "g1", 2), (3, "g1", 2), (4, "g1", 4), (5, "g2", 10)],
        "doc_id long, grp string, score long",
    )
    out = {r["doc_id"]: r["pct_micro"] for r in
           score_calibration(df, "grp", "score").collect()}
    assert out[1] == 250000
    assert out[2] == out[3] == 750000
    assert out[4] == 1000000
    assert out[5] == 1000000
    plan = (score_calibration(df, "grp", "score")
            ._jdf.queryExecution().executedPlan().toString())
    assert "ShuffledHashJoin" in plan and "BroadcastHashJoin" not in plan, plan


def test_microdata_flat_scope_parse(spark):
    """Each itemscope segment owns its itemtype and the itemprops up to
    the next itemscope; pages without microdata emit nothing."""
    from legal_document_ocr_spark.operators.urls import extract_microdata

    html = (
        '<html><body><div itemscope itemtype="https://schema.org/Article">'
        '<span itemprop="name">N</span><span itemprop="author">A</span></div>'
        '<div itemscope itemtype="https://schema.org/Product">'
        '<span itemprop="sku">S</span></div></body></html>'
    )
    pages = spark.createDataFrame(
        [("u1", bytearray(html.encode())), ("u2", bytearray(b"<html/>"))],
        "url string, html binary",
    )
    rows = extract_microdata(pages).collect()
    got = {(r["url"], r["item_idx"]): r for r in rows}
    assert got[("u1", 0)]["itemtype"] == "https://schema.org/Article"
    assert got[("u1", 0)]["n_props"] == 2
    assert got[("u1", 1)]["itemtype"] == "https://schema.org/Product"
    assert got[("u1", 1)]["n_props"] == 1
    assert not any(r["url"] == "u2" for r in rows)


def test_wat_records_content_length_and_fields(spark):
    """The JSON payload's advertised Content-Length matches its octet
    count, the title/link census reads from the html, and the html
    column itself never reaches the output."""
    from legal_document_ocr_spark.sources.warc import wat_records

    html = ('<html><head><title>T1</title></head><body>'
            '<a href="/a">a</a><a href="/b">b</a></body></html>')
    df = spark.createDataFrame(
        [("https://h/1", "2024-01-01 00:00:05", bytearray(html.encode()))],
        "url string, warc_ts string, html binary",
    ).withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
    rec = wat_records(df).collect()[0]["record"]
    head, payload = rec.split("\r\n\r\n", 1)
    assert '"title":"T1"' in payload and '"n_links":2' in payload
    assert f'"content_length":{len(html.encode())}' in payload
    clen = [ln for ln in head.split("\r\n") if ln.startswith("Content-Length")]
    assert clen[0] == f"Content-Length: {len(payload.encode())}"
    assert "WARC-Type: metadata" in head
    assert "WARC-Date: 2024-01-01T00:00:05Z" in head


def test_orc_sink_readback_prunes_and_pushes(spark):
    """The ORC read-back plan must show partition pruning on lang AND a
    pushed n_chars filter — the two scan properties the columnar sink
    exists for (same contract the parquet path asserts)."""
    import legal_document_ocr_spark.queries as Q
    from legal_document_ocr_spark.plans.inspect import (
        partition_filters,
        pushed_filters,
    )

    df = Q.SPARK["orc_sink_readback"](spark, SF)
    pf = " ".join(partition_filters(df))
    assert "lang" in pf, pf
    pushed = " ".join(pushed_filters(df))
    assert "n_chars" in pushed, pushed


def test_csv_roundtrip_survives_adversarial_text(spark):
    """RFC-4180 quoting (quoteAll + quote-doubling escape) must round-trip
    embedded commas, quotes and newlines byte-exactly; multiLine is the
    documented read requirement for newline-bearing fields."""
    import tempfile

    from legal_document_ocr_spark.sources.sink import read_table, write_table

    rows = [
        (1, 'comma, inside', "en"),
        (2, 'quote " inside', "en"),
        (3, "newline\ninside", "vi"),
        (4, 'both ",\n" evils', "vi"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    path = tempfile.mkdtemp(prefix="ldos-csvrt-")
    write_table(df, path, "csv",
                options={"header": "true", "quoteAll": "true", "escape": '"'})
    back = read_table(
        spark, path, "csv",
        schema="doc_id long, text string, lang string",
        options={"header": "true", "escape": '"', "multiLine": "true"},
    )
    got = {r["doc_id"]: r["text"] for r in back.collect()}
    assert got == {k: v for k, v, _ in rows}


def test_csv_parse_isolation_nulls_not_failures(spark):
    """A wrong-arity CSV line NULLs its missing fields on its own row —
    the task never fails (PERMISSIVE from_csv)."""
    import legal_document_ocr_spark.queries as Q

    rows = Q.SPARK["csv_parse_isolation"](spark, SF).collect()
    bad = [r for r in rows if r["doc_id"] % 13 == 0]
    good = [r for r in rows if r["doc_id"] % 13 != 0]
    assert bad and all(r["parse_ok"] == 0 and r["lang"] is None for r in bad)
    assert good and all(r["parse_ok"] == 1 and r["lang"] for r in good)
    assert all(r["id"] == r["doc_id"] for r in rows)  # first col always parses


def test_neardup_eval_planted_neighbors_recalled(spark):
    """On the planted neardup corpus the banded MinHash must recall a
    healthy majority of exact-Jaccard>=0.5 pairs, counts must be
    consistent (hits <= both sides), and the ratios are exact integer
    micro arithmetic."""
    import legal_document_ocr_spark.queries as Q

    r = Q.SPARK["neardup_eval"](spark, SF).collect()[0]
    assert r["n_true"] > 0 and r["n_candidates"] > 0
    assert r["n_hit"] <= min(r["n_true"], r["n_candidates"])
    assert r["recall_micro"] == r["n_hit"] * 1000000 // r["n_true"]
    assert r["precision_micro"] == r["n_hit"] * 1000000 // r["n_candidates"]
    assert r["recall_micro"] >= 500000  # the planted pairs are near-identical


def test_shard_manifest_partitions_the_corpus_exactly(spark):
    """Manifest rows partition the corpus: doc and token totals equal the
    per-doc sums, every shard is non-empty, and the membership digest is
    order-independent (equal-content shards would share it)."""
    import legal_document_ocr_spark.queries as Q
    from pyspark.sql import functions as F2

    rows = Q.SPARK["shard_manifest"](spark, SF).collect()
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    n_docs = docs.count()
    total_tokens = docs.select(
        F2.sum(F2.size(F2.split(F2.trim(F2.lower("text")), r"\s+")))
    ).collect()[0][0]
    assert sum(r["n_docs"] for r in rows) == n_docs
    assert sum(r["sum_tokens"] for r in rows) == total_tokens
    assert all(r["n_docs"] > 0 for r in rows)
    assert len({r["member_digest"] for r in rows}) == len(rows)


def test_seed_reachability_first_touch_semantics(spark):
    """hop = shortest link distance from the seed set; nodes reachable
    two ways keep the FIRST hop; unreached nodes are absent; the
    frontier/labeled joins never broadcast."""
    from legal_document_ocr_spark.operators.graph import seed_reachability

    edges = spark.createDataFrame(
        [("s", "a"), ("a", "b"), ("s", "b2"), ("b2", "b"), ("b", "c"),
         ("x", "y")],
        "src string, dst string",
    )
    seeds = spark.createDataFrame([("s",)], "node string")
    out = {r["node"]: r["hop"] for r in seed_reachability(edges, seeds).collect()}
    # b is reachable at hop 2 both via a and via b2 — labeled once, hop 2
    assert out == {"s": 0, "a": 1, "b2": 1, "b": 2, "c": 3}
    import legal_document_ocr_spark.queries as Q

    plan = _plan(Q.SPARK["seed_reachability"](spark, SF))
    assert plan.count("BroadcastExchange") == 0, plan


def test_dup_family_histogram_prices_the_dedup(spark):
    """Histogram strata are exact: rows_removed summed over strata equals
    total rows minus distinct families."""
    from legal_document_ocr_spark.operators.dedup import exact_dups

    import legal_document_ocr_spark.queries as Q

    rows = Q.SPARK["dup_family_histogram"](spark, SF).collect()
    # doubled corpus: every family has exactly 2 copies (original + copy),
    # unless two docs share a text — then 4/6/...; strata must be even
    assert all(r["copies"] % 2 == 0 for r in rows)
    total_rows = sum(r["copies"] * r["n_families"] for r in rows)
    total_removed = sum(r["rows_removed"] for r in rows)
    n_families = sum(r["n_families"] for r in rows)
    assert total_rows - total_removed == n_families
    assert total_rows == 1000  # 500 docs doubled


def test_quantile_drift_shifts_by_construction(spark):
    """Snapshot B adds 18 chars to every doc, so both quantiles drift by
    exactly 18 for every source."""
    import legal_document_ocr_spark.queries as Q

    rows = Q.SPARK["quantile_drift"](spark, SF).collect()
    assert rows and all(r["p50_drift"] == 18 for r in rows)
    assert all(r["p99_drift"] == 18 for r in rows)
    assert all(r["p50_b"] == r["p50_a"] + 18 for r in rows)


# ---------------------------------------------------------------------------
# round-4 session-11: privacy/DQ census, URL templates, assortativity,
# ANN recall eval, rank fusion
# ---------------------------------------------------------------------------


def test_k_anonymity_census_arithmetic(spark):
    """risky_rows/groups count exactly the sub-k QI groups; risk_ppm is
    the integer ppm; rows reconcile with the input."""
    from legal_document_ocr_spark.operators.relational import k_anonymity

    df = spark.createDataFrame(
        [("s1", "en", 1)] * 5 + [("s1", "en", 2)] * 2 + [("s1", "fr", 1)]
        + [("s2", "en", 1)] * 3,
        "source string, lang string, band int",
    )
    out = {r["source"]: r for r in
           k_anonymity(df, ["source", "lang", "band"], k=3).collect()}
    s1 = out["s1"]
    assert (s1["n_rows"], s1["n_groups"]) == (8, 3)
    assert (s1["risky_groups"], s1["risky_rows"]) == (2, 3)
    assert s1["risk_ppm"] == 375000
    s2 = out["s2"]
    assert (s2["risky_groups"], s2["risky_rows"], s2["risk_ppm"]) == (0, 0, 0)


def test_fd_violations_g3_measure(spark):
    """A held FD reports 0 violations; a violated one reports the G3
    minimum repair rows (rows - modal count per group)."""
    from legal_document_ocr_spark.operators.relational import fd_violations

    df = spark.createDataFrame(
        [(1, "a", "x"), (2, "a", "x"), (3, "b", "y"),
         (4, "b", "y"), (5, "b", "z")],
        "id int, det string, dep string",
    )
    out = {r["fd"]: r for r in
           fd_violations(df, [("id", "dep"), ("det", "dep")]).collect()}
    assert out["id->dep"]["holds"] == 1
    assert out["id->dep"]["repair_rows"] == 0
    v = out["det->dep"]
    # group a: 2 rows 1 value (ok); group b: 3 rows, modal y=2 -> repair 1
    assert (v["n_groups"], v["violating_groups"], v["repair_rows"],
            v["holds"]) == (2, 1, 1, 0)


def test_winsorized_stats_clamps_outliers(spark):
    """The p95 threshold clamps the huge outlier; the mean moves to the
    clamped sum; thresholds are the exact discrete quantiles."""
    from legal_document_ocr_spark.operators.relational import winsorized_stats

    rows = [("h", v) for v in [10] * 10 + [12] * 9 + [10_000]]
    df = spark.createDataFrame(rows, "source string, n_chars int")
    r = winsorized_stats(df, "source", "n_chars").collect()[0]
    assert r["n_rows"] == 20
    assert r["lo"] == 10 and r["hi"] == 12
    assert r["winsorized_sum"] == 10 * 10 + 12 * 9 + 12
    assert r["winsorized_mean_micro"] == (220 * 1000000) // 20


def test_url_templates_flags_trap_families(spark):
    """Digit runs and 8+-char hex runs abstract to {d}/{x}; a template
    holding >=50% of a host's URLs with >=3 members is a trap; the share
    join is shuffle_hash (nothing broadcast)."""
    from legal_document_ocr_spark.operators.urls import url_templates

    urls = [
        ("https://a.com/cal/2024/01/0%d" % i,) for i in range(5)
    ] + [
        ("https://a.com/about",),
        ("https://b.com/s/deadbeefcafe1234/x",),
        ("https://b.com/s/0123456789abcdef/x",),
    ]
    df = spark.createDataFrame(urls, "url string")
    out = {(r["host"], r["template"]): r for r in url_templates(df).collect()}
    trap = out[("a.com", "/cal/{d}/{d}/{d}")]
    assert (trap["n_urls"], trap["host_urls"], trap["trap"]) == (5, 6, 1)
    assert out[("a.com", "/about")]["trap"] == 0
    hexed = out[("b.com", "/s/{x}/x")]
    assert (hexed["n_urls"], hexed["trap"]) == (2, 0)  # share ok, n<3
    plan = _plan(url_templates(df))
    assert "BroadcastExchange" not in plan, plan


def test_degree_assortativity_signs(spark):
    """A star graph is maximally disassortative (r = -1); the scalar
    comes out in micro units with zero-variance guard."""
    from legal_document_ocr_spark.operators.graph import degree_assortativity

    star = spark.createDataFrame(
        [("c", "l%d" % i) for i in range(4)], "src string, dst string"
    )
    r = degree_assortativity(star).collect()[0]
    assert (r["n_edges"], r["n_nodes"]) == (4, 5)
    assert r["r_micro"] == -1000000
    # a single edge has zero degree variance -> guarded 0
    one = spark.createDataFrame([("a", "b")], "src string, dst string")
    assert degree_assortativity(one).collect()[0]["r_micro"] == 0


def test_ann_recall_exact_index_is_perfect(spark):
    """With 0 bucket dims... (bucket key constant) the bucketed path IS
    the exact path -> recall 1e6; with 2 dims recall <= 1e6 and
    n_approx <= k; no corpus-side broadcast beyond the query set."""
    from legal_document_ocr_spark.operators.similarity import ann_recall

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    perfect = ann_recall(emb, [0, 1], k=5, bucket_dims=1).collect()
    for r in perfect:
        assert r["n_exact"] == 5 and r["n_overlap"] <= 5
        assert r["recall_ppm"] == (r["n_overlap"] * 1000000) // 5
    two = {r["query_id"]: r for r in
           ann_recall(emb, [0, 1], k=5, bucket_dims=2).collect()}
    for r in two.values():
        assert r["n_approx"] <= 5
        assert r["n_overlap"] <= r["n_approx"] or r["n_approx"] == 0


def test_rrf_fuse_integer_contributions(spark):
    """RRF sums floor(1e9/(60+rank)) per list; an item on both lists
    outranks a better-single-list item per the standard RRF property."""
    from legal_document_ocr_spark.operators.similarity import rrf_fuse

    lists = spark.createDataFrame(
        [("a", 7, 1), ("a", 9, 2), ("b", 9, 1), ("b", 8, 2)],
        "list_name string, doc_id int, rank int",
    )
    out = {r["doc_id"]: r for r in rrf_fuse(lists, id_col="doc_id").collect()}
    assert out[9]["n_lists"] == 2 and out[9]["best_rank"] == 1
    assert out[9]["rrf_nano"] == 1000000000 // 62 + 1000000000 // 61
    assert out[7]["rrf_nano"] == 1000000000 // 61
    assert out[9]["rrf_nano"] > out[7]["rrf_nano"]


def test_temperature_mixture_flattens_head(spark):
    """alpha=0.5 mixing: a 100:1 source imbalance becomes 10:1 in the
    weights; ppm shares sum to <= 1e6 (floor) and the head's share drops
    below its raw share."""
    from legal_document_ocr_spark.operators.sampling import temperature_mixture

    rows = [("big", i) for i in range(100)] + [("small", i) for i in range(1)]
    df = spark.createDataFrame(rows, "source string, i int")
    out = {r["source"]: r for r in
           temperature_mixture(df, "source", budget=1000).collect()}
    assert out["big"]["n_docs"] == 100 and out["small"]["n_docs"] == 1
    # sqrt weights 10 : 1 -> big 909090 ppm, small 90909 ppm
    assert out["big"]["weight_ppm"] == 909090
    assert out["small"]["weight_ppm"] == 90909
    assert out["big"]["expected_docs"] == 909
    # raw share would be 990099 ppm; temperature flattened it
    assert out["big"]["weight_ppm"] < 990099


def test_robots_drift_census(spark):
    """Added/removed rules roll up per host; unchanged hosts report
    changed=0; the rule join is shuffle_hash (nothing broadcast)."""
    from legal_document_ocr_spark.operators.urls import robots_drift

    a = spark.createDataFrame(
        [("h1", "/a"), ("h1", "/b"), ("h2", "/x")], "host string, prefix string"
    )
    b = spark.createDataFrame(
        [("h1", "/a"), ("h1", "/c"), ("h2", "/x")], "host string, prefix string"
    )
    out = {r["host"]: r for r in robots_drift(a, b).collect()}
    h1 = out["h1"]
    assert (h1["rules_a"], h1["rules_b"], h1["added"], h1["removed"],
            h1["changed"]) == (2, 2, 1, 1, 1)
    h2 = out["h2"]
    assert (h2["added"], h2["removed"], h2["changed"]) == (0, 0, 0)
    plan = _plan(robots_drift(a, b))
    assert "BroadcastExchange" not in plan, plan


def test_ivf_admission_flags_hot_cells(spark):
    """Batch vectors land in their nearest frozen cell; total_n counts
    both sides; cells past the cap flag overfull; the ONLY broadcast in
    the plan is the bounded centroid table."""
    from legal_document_ocr_spark.operators.similarity import ivf_admission

    # 2 centroids at 0 and 10; corpus hugs cell 0, batch hugs cell 1
    corpus = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [10.0, 10.0]), (2, [0.5, 0.1]),
         (3, [0.2, 0.4]), (4, [9.0, 9.5])],
        "vec_id long, embedding array<double>",
    )
    batch = spark.createDataFrame(
        [(100, [9.8, 9.9]), (101, [10.2, 9.7]), (102, [0.1, 0.1])],
        "vec_id long, embedding array<double>",
    )
    out = {r["cell"]: r for r in
           ivf_admission(corpus, batch, 2, cell_cap=4).collect()}
    assert (out[0]["corpus_n"], out[0]["batch_n"]) == (3, 1)
    assert (out[1]["corpus_n"], out[1]["batch_n"]) == (2, 2)
    assert out[0]["total_n"] == 4 and out[0]["overfull"] == 0
    assert out[1]["total_n"] == 4 and out[1]["overfull"] == 0
    hot = {r["cell"]: r for r in
           ivf_admission(corpus, batch, 2, cell_cap=3).collect()}
    assert hot[0]["overfull"] == 1 and hot[1]["overfull"] == 1


def test_centroid_drift_detects_shift(spark):
    """Identical snapshots -> cos_micro 1e6, drift 0; an orthogonal-ward
    shift drops cosine below 1e6; counts come from each snapshot."""
    from legal_document_ocr_spark.operators.similarity import centroid_drift

    a = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    groups = spark.createDataFrame(
        [(1, "s1"), (2, "s1"), (3, "s2")], "vec_id long, source string"
    )
    same = {r["source"]: r for r in centroid_drift(a, a, groups).collect()}
    assert same["s1"]["cos_micro"] == 1000000
    assert same["s1"]["drift_micro"] == 0
    assert (same["s1"]["n_a"], same["s1"]["n_b"]) == (2, 2)
    b = spark.createDataFrame(
        [(1, [0.0, 1.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    moved = {r["source"]: r for r in centroid_drift(a, b, groups).collect()}
    # s1 centroid (1,0) -> (0.5,0.5): cos = 0.5/(1*sqrt(0.5)) ~= 0.7071
    assert moved["s1"]["cos_micro"] == 707106
    assert moved["s2"]["drift_micro"] == 0


def test_hyperball_path_graph(spark):
    """On a 4-node path a->b->c->d, ball1/ball2 estimates match a Python
    replication of the identical HLL register construction (m=64), and
    the per-round join is shuffle_hash (no corpus broadcast)."""
    import hashlib
    import math

    from legal_document_ocr_spark.operators.graph import hyperball

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "src string, dst string"
    )
    out = {r["node"]: r for r in hyperball(edges).collect()}

    def reg(node):
        h = int(hashlib.md5(node.encode()).hexdigest()[:15], 16)
        w = h // 64
        return h % 64, (55 - w.bit_length()) if w > 0 else 55

    def est(members):
        regs = {}
        for n in members:
            r, mx = reg(n)
            regs[r] = max(regs.get(r, 0), mx)
        np_ = len(regs)
        s = sum(1 << (55 - mx) for mx in regs.values())
        s += (64 - np_) * (1 << 55)
        z = s / float(1 << 55)
        alpha = 0.7213 / (1.0 + 1.079 / 64)
        e_raw = alpha * 64 * 64 / z
        zeros = 64 - np_
        if e_raw <= 160.0 and zeros > 0:
            return np_, math.floor(64.0 * math.log(64.0 / zeros))
        return np_, math.floor(e_raw)

    balls1 = {"a": {"a", "b"}, "b": {"b", "c"}, "c": {"c", "d"}, "d": {"d"}}
    balls2 = {"a": {"a", "b", "c"}, "b": {"b", "c", "d"},
              "c": {"c", "d"}, "d": {"d"}}
    for n in "abcd":
        n1, e1 = est(balls1[n])
        n2, e2 = est(balls2[n])
        assert (out[n]["ball1_regs"], out[n]["ball1_est"]) == (n1, e1), n
        assert (out[n]["ball2_regs"], out[n]["ball2_est"]) == (n2, e2), n
    # monotone: ball2 >= ball1 everywhere
    for n in "abcd":
        assert out[n]["ball2_est"] >= out[n]["ball1_est"]
    plan = _plan(hyperball(edges))
    assert "BroadcastExchange" not in plan, plan


def test_bloom_membership_counts_and_fpr(spark):
    """Exact members always bloom-flag (no false negatives); with a
    tiny 8-bit filter saturated by the corpus, a novel text false-
    positives; with a roomy filter it does not."""
    from legal_document_ocr_spark.operators.dedup import bloom_membership

    corpus = spark.createDataFrame(
        [(f"t{i}",) for i in range(30)], "text string"
    )
    batch = spark.createDataFrame(
        [("s1", "t0"), ("s1", "t1"), ("s1", "totally novel text"),
         ("s2", "t2")],
        "source string, text string",
    )
    # saturated filter: 30 texts x 3 hashes into 8 bits -> all set
    sat = {r["source"]: r for r in
           bloom_membership(corpus, batch, m_bits=8).collect()}
    assert (sat["s1"]["batch_n"], sat["s1"]["exact_dups"]) == (3, 2)
    assert sat["s1"]["bloom_dups"] == 3  # novel text false-positives
    assert sat["s1"]["false_positives"] == 1
    assert (sat["s2"]["bloom_dups"], sat["s2"]["false_positives"]) == (1, 0)
    # roomy filter: no false positive for the novel text
    roomy = {r["source"]: r for r in
             bloom_membership(corpus, batch, m_bits=1 << 20).collect()}
    assert roomy["s1"]["bloom_dups"] == 2
    assert roomy["s1"]["false_positives"] == 0
    assert roomy["s1"]["exact_dups"] == 2


def test_filter_agreement_kappa(spark):
    """Hand-checked 2x2 contingency: perfect agreement -> kappa 1e6;
    a known mixed table matches the closed-form kappa; constant filters
    (pe = 1) emit the degenerate 0."""
    from legal_document_ocr_spark.operators.relational import filter_agreement

    rows = [
        # s1: a/b agree on 8 of 10 (n11=4, n00=4, n10=1, n01=1)
        *[("s1", 1, 1)] * 4, *[("s1", 0, 0)] * 4,
        ("s1", 1, 0), ("s1", 0, 1),
        # s2: perfect agreement
        *[("s2", 1, 1)] * 3, *[("s2", 0, 0)] * 2,
        # s3: both constant keep -> pe = 1 -> kappa 0
        *[("s3", 1, 1)] * 4,
    ]
    df = spark.createDataFrame(rows, "source string, a int, b int")
    out = {r["source"]: r for r in filter_agreement(
        df, F.col("a") == 1, F.col("b") == 1).collect()}
    s1 = out["s1"]
    assert (s1["both_keep"], s1["only_a"], s1["only_b"], s1["both_drop"]) == \
        (4, 1, 1, 4)
    # po=0.8, pe=(5*5+5*5)/100=0.5, kappa=0.3/0.5=0.6
    assert s1["kappa_micro"] == 599999 or s1["kappa_micro"] == 600000
    assert out["s2"]["kappa_micro"] == 1000000
    assert out["s3"]["kappa_micro"] == 0


def test_epoch_plan_integer_arithmetic(spark):
    """All-bigint plan: allocation and epochs are exact integer div;
    the over-cap flag trips past max_epochs."""
    from legal_document_ocr_spark.operators.sampling import epoch_plan

    docs = spark.createDataFrame(
        [("big", 1000), ("big", 1000), ("small", 100)],
        "source string, n_tokens int",
    )
    w = spark.createDataFrame(
        [("big", 500000), ("small", 500000)],
        "source string, weight_ppm long",
    )
    out = {r["source"]: r for r in epoch_plan(
        docs, w, "source", token_col=F.col("n_tokens").cast("long"),
        budget_tokens=2000, max_epochs=4).collect()}
    # big: alloc = 2000*500000//1e6 = 1000; epochs = 1000*1e6//2000 = 500000
    assert (out["big"]["unique_tokens"], out["big"]["alloc_tokens"]) == \
        (2000, 1000)
    assert out["big"]["epochs_ppm"] == 500000 and out["big"]["over_cap"] == 0
    # small: alloc 1000 over 100 unique -> 10 epochs -> over the 4 cap
    assert out["small"]["epochs_ppm"] == 10000000
    assert out["small"]["over_cap"] == 1


def test_reassemble_segments_gaps_and_order(spark):
    """Out-of-order segments reassemble byte-exactly; a missing middle
    segment or a wrong declared total flags complete=0 but the group is
    still EMITTED (orphans are reported, not dropped)."""
    from legal_document_ocr_spark.sources.warc import reassemble_segments

    rows = [
        # r1: complete, arrives out of order
        ("r1", 3, "cc", 6), ("r1", 1, "aa", None), ("r1", 2, "bb", None),
        # r2: segment 2 missing
        ("r2", 1, "xx", None), ("r2", 3, "zz", 6),
        # r3: declared total wrong
        ("r3", 1, "mm", None), ("r3", 2, "nn", 5),
    ]
    df = spark.createDataFrame(
        rows,
        "origin_id string, segment_number int, payload string, "
        "segment_total_length int",
    )
    out = {r["origin_id"]: r for r in reassemble_segments(df).collect()}
    r1 = out["r1"]
    assert (r1["assembled"], r1["n_segments"], r1["declared_total"],
            r1["complete"]) == ("aabbcc", 3, 6, 1)
    assert out["r2"]["assembled"] == "xxzz"
    assert out["r2"]["complete"] == 0
    assert out["r3"]["complete"] == 0
    assert len(out) == 3


def test_merge_rollups_algebraic_and_one_sided(spark):
    """Merged state equals the full recompute; groups present on only
    one side pass through with the other side's nulls absorbed."""
    from legal_document_ocr_spark.operators.relational import (
        merge_rollups,
        partial_rollup,
    )

    full = spark.createDataFrame(
        [("a", 10), ("a", 20), ("a", 30), ("b", 5), ("c", 7)],
        "source string, n_chars int",
    )
    state = partial_rollup(full.where("n_chars <= 10"))   # a:10, b:5, c:7
    batch = partial_rollup(full.where("n_chars > 10"))    # a:20, a:30
    out = {r["source"]: r for r in merge_rollups(state, batch).collect()}
    assert (out["a"]["n_docs"], out["a"]["sum_v"], out["a"]["min_v"],
            out["a"]["max_v"]) == (3, 60, 10, 30)
    assert out["a"]["mean_micro"] == 20000000
    # b and c exist only in state; no batch row to merge
    assert (out["b"]["n_docs"], out["b"]["min_v"], out["b"]["max_v"]) == \
        (1, 5, 5)
    assert out["c"]["sum_v"] == 7
    expect = {r["grp"]: r for r in partial_rollup(full).collect()}
    for g in "abc":
        assert (out[g]["n_docs"], out[g]["sum_v"], out[g]["min_v"],
                out[g]["max_v"]) == (
            expect[g]["n_docs"], expect[g]["sum_v"], expect[g]["min_v"],
            expect[g]["max_v"])


def test_contrastive_triplets_rotation_and_screen(spark):
    """Negatives are the deterministic half-rotation; triplets whose
    negative is itself a candidate pair of the anchor are screened out;
    rotations landing on the anchor/positive or outside the universe
    drop."""
    from legal_document_ocr_spark.operators.dedup import contrastive_triplets

    ids = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
    pairs = spark.createDataFrame(
        [(0, 1), (2, 3), (4, 9)], "id_a long, id_b long"
    )
    out = {(r["anchor"], r["positive"]): r["negative"]
           for r in contrastive_triplets(ids, pairs).collect()}
    # m=10, half=5: 0->5, 2->7 survive
    assert out[(0, 1)] == 5
    assert out[(2, 3)] == 7
    # anchor 4 rotates to 9 — but (4,9) IS a candidate pair -> screened
    assert (4, 9) not in out
    assert len(out) == 2


def test_robots_wildcard_filter_rfc9309(spark):
    """'*' spans, trailing '$' anchors, mid-'$' is literal, regex
    metachars in patterns stay literal; longest pattern wins with allow
    beating disallow on ties; unmatched paths verdict 'none'."""
    from legal_document_ocr_spark.operators.urls import robots_wildcard_filter

    rules = spark.createDataFrame(
        [("h", "disallow", "/*.json$"),
         ("h", "disallow", "/tmp/*"),
         ("h", "allow", "/tmp/*5"),
         ("h", "disallow", "/a$b*"),
         ("h", "disallow", "/same/"), ("h", "allow", "/same/")],
        "host string, rule string, pattern string",
    )
    frontier = spark.createDataFrame(
        [("h", "/tmp/en/15.json"),   # .json (len 8) beats /tmp/*5 (7)
         ("h", "/tmp/en/15"),        # allow /tmp/*5 (7) beats /tmp/* (6)
         ("h", "/tmp/en/12"),        # only /tmp/* -> disallow
         ("h", "/en/7"),             # nothing matches -> none
         ("h", "/a$bcd"),            # mid-$ literal
         ("h", "/en/7.json"),        # $-anchored wildcard
         ("h", "/en/7.jsonx"),       # NOT anchored-match -> none
         ("h", "/same/x")],          # equal length -> allow wins
        "host string, path string",
    )
    out = {r["path"]: (r["verdict"], r["rule_pattern"])
           for r in robots_wildcard_filter(frontier, rules).collect()}
    assert out["/tmp/en/15.json"] == ("disallow", "/*.json$")
    assert out["/tmp/en/15"] == ("allow", "/tmp/*5")
    assert out["/tmp/en/12"] == ("disallow", "/tmp/*")
    assert out["/en/7"] == ("none", None)
    assert out["/a$bcd"] == ("disallow", "/a$b*")
    assert out["/en/7.json"] == ("disallow", "/*.json$")
    assert out["/en/7.jsonx"] == ("none", None)
    assert out["/same/x"] == ("allow", "/same/")


def test_session12_corpus_joins_have_no_broadcasts(spark):
    """Broadcast-hygiene locks for the session-12 corpus-sized joins:
    contrastive_triplets' semi/anti screens and robots_wildcard_filter's
    host join must stay ShuffledHashJoin — at web scale neither side is
    broadcastable (the r2 crawl_frontier lesson)."""
    from legal_document_ocr_spark.operators.dedup import contrastive_triplets
    from legal_document_ocr_spark.operators.urls import robots_wildcard_filter

    ids = spark.createDataFrame([(i,) for i in range(20)], "doc_id long")
    pairs = spark.createDataFrame([(0, 1), (2, 3)], "id_a long, id_b long")
    p1 = _plan(contrastive_triplets(ids, pairs))
    assert "BroadcastExchange" not in p1, p1
    assert "ShuffledHashJoin" in p1, p1

    rules = spark.createDataFrame(
        [("h", "disallow", "/tmp/*")], "host string, rule string, pattern string"
    )
    fr = spark.createDataFrame([("h", "/tmp/x")], "host string, path string")
    p2 = _plan(robots_wildcard_filter(fr, rules))
    assert "BroadcastExchange" not in p2, p2
    assert "ShuffledHashJoin" in p2, p2


def test_bcubed_eval_hand_checked(spark):
    """Perfect clustering -> P=R=F1=1e6; a known over-merge matches the
    closed-form B-cubed numbers."""
    from legal_document_ocr_spark.operators.dedup import bcubed_eval

    truth = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 20), (4, 20)],
        "doc_id long, family_id long",
    )
    perfect = spark.createDataFrame(
        [(1, 100), (2, 100), (3, 200), (4, 200)],
        "doc_id long, cluster_id long",
    )
    out = bcubed_eval(perfect, truth).collect()[0]
    assert (out["n_docs"], out["precision_micro"], out["recall_micro"],
            out["f1_micro"]) == (4, 1000000, 1000000, 1000000)
    # everything merged into one cluster: P = mean(2/4) = 0.5, R = 1
    merged = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 1)], "doc_id long, cluster_id long"
    )
    out2 = bcubed_eval(merged, truth).collect()[0]
    assert out2["precision_micro"] == 500000
    assert out2["recall_micro"] == 1000000
    # F1 = 2*.5*1/1.5 = 2/3
    assert out2["f1_micro"] in (666666, 666667)


def test_mmr_select_hand_checked_greedy(spark):
    """4-doc corpus where the greedy is hand-computable: relevance ties
    break on doc_id, the diversity penalty demotes the near-duplicate of
    the first pick, and a zero-relevance doc lands last with score 0."""
    from legal_document_ocr_spark.operators.similarity import mmr_select

    df = spark.createDataFrame(
        [
            (1, "apple banana"),
            (2, "apple banana cherry"),
            (3, "apple date"),
            (4, "zebra yak"),
        ],
        "doc_id long, text string",
    )
    rows = mmr_select(df, ["apple"], n_candidates=4, k=4).orderBy("sel_rank")
    got = [(r["sel_rank"], r["doc_id"], r["mmr_score"]) for r in rows.collect()]
    # rel: d1=d3=500000 (tie -> d1), d2=333333, d4=0
    # round 2: d3 = 7*500000 - 3*sim(d3,d1)=3*333333 -> 2500001 beats d2
    # round 3: d2 = 7*333333 - 3*max(sim(d2,d1)=666666, sim(d2,d3)=250000)
    assert got == [
        (1, 1, 3500000),
        (2, 3, 2500001),
        (3, 2, 333333),
        (4, 4, 0),
    ]


def test_random_projection_one_hot_and_plan(spark):
    """A one-hot vector projects to exactly its sign row x 1e6; the zero
    vector to zeros; ratio_micro for a one-hot is exactly 1e6 (perfect
    isometry); and BOTH plans have zero exchanges (per-row folds)."""
    from legal_document_ocr_spark.operators.similarity import (
        jl_distortion,
        jl_signs,
        random_projection,
    )

    dim, k = 8, 4
    signs = jl_signs(dim, k)
    rows = [(0, [0.0] * dim), (3, [1.0 if i == 3 else 0.0 for i in range(dim)])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r for r in random_projection(df, dim=dim, k=k).collect()}
    assert all(out[0][f"proj_micro_{j}"] == 0 for j in range(k))
    for j in range(k):
        assert out[3][f"proj_micro_{j}"] == signs[3][j] * 1000000
    dist = {r["vec_id"]: r for r in jl_distortion(df, dim=dim, k=k).collect()}
    assert dist[3]["orig_sq_micro"] == 1000000
    assert dist[3]["proj_sq_scaled"] == k * 1000000**2
    assert dist[3]["ratio_micro"] == 1000000
    for q in (random_projection(df, dim=dim, k=k), jl_distortion(df, dim=dim, k=k)):
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan


def test_extract_image_alt_pairs_hand_checked(spark):
    """Attribute order/case/quote-style free; root- and protocol-relative
    srcs resolve against the page host; tags missing src or alt drop;
    alt whitespace collapses; position indexes ALL img tags."""
    from legal_document_ocr_spark.operators.urls import extract_image_alt_pairs

    html = (
        '<p>x</p><img src="/a.jpg" alt="first  cap">'
        "<IMG ALT='second' SRC='//cdn.ex.org/b.png'/>"
        '<img src="https://abs.ex.org/c.gif" alt="third">'
        '<img src="/noalt.jpg">'
        '<img alt="nosrc">'
    ).encode()
    df = spark.createDataFrame(
        [("https://Host.Example.com/p/1", bytearray(html))],
        "url string, html binary",
    )
    rows = {r["img_pos"]: r for r in extract_image_alt_pairs(df).collect()}
    assert sorted(rows) == [0, 1, 2]  # tags 3 and 4 dropped, positions kept
    assert rows[0]["img_url"] == "https://host.example.com/a.jpg"
    assert rows[0]["alt_text"] == "first cap" and rows[0]["alt_len"] == 9
    assert rows[1]["img_url"] == "https://cdn.ex.org/b.png"
    assert rows[1]["alt_text"] == "second"
    assert rows[2]["img_url"] == "https://abs.ex.org/c.gif"


def test_ari_eval_hand_checked(spark):
    """Perfect clustering -> ARI=1e6; merging everything -> ARI=0 (chance
    level); a half-right split matches the closed-form 4/7."""
    from legal_document_ocr_spark.operators.dedup import ari_eval

    truth = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 20), (4, 20)],
        "doc_id long, family_id long",
    )
    perfect = spark.createDataFrame(
        [(1, 100), (2, 100), (3, 200), (4, 200)],
        "doc_id long, cluster_id long",
    )
    out = ari_eval(perfect, truth).collect()[0]
    assert (out["n_docs"], out["s_joint"], out["s_cluster"],
            out["s_family"], out["ari_micro"]) == (4, 2, 2, 2, 1000000)
    merged = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 1)], "doc_id long, cluster_id long"
    )
    assert ari_eval(merged, truth).collect()[0]["ari_micro"] == 0
    # {1,2},{3},{4} vs {1,2},{3,4}: ARI = (1-1/3)/(3/2-1/3) = 4/7
    half = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 2), (4, 3)], "doc_id long, cluster_id long"
    )
    assert ari_eval(half, truth).collect()[0]["ari_micro"] == 571428


def test_soft_dedup_weights_sums_to_unit_mass(spark):
    """Each duplicate group's weights sum to (just under) 1e6; unique
    texts keep full weight; output is one row per input doc."""
    from legal_document_ocr_spark.operators.dedup import soft_dedup_weights

    df = spark.createDataFrame(
        [(1, "aaa"), (2, "aaa"), (3, "aaa"), (4, "bbb"), (5, "ccc")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in soft_dedup_weights(df).collect()}
    assert len(rows) == 5
    assert rows[1]["n_copies"] == 3 and rows[1]["weight_micro"] == 333333
    assert rows[2]["weight_micro"] == rows[3]["weight_micro"] == 333333
    assert rows[4]["n_copies"] == 1 and rows[4]["weight_micro"] == 1000000
    assert rows[5]["weight_micro"] == 1000000


def test_bootstrap_ci_brackets_mean_deterministically(spark):
    """The CI brackets the point mean, is identical across runs and
    partitionings (hash-derived weights), and is all-integer."""
    from legal_document_ocr_spark.operators.sampling import bootstrap_ci

    df = spark.createDataFrame(
        [(i, 100 + (i % 7)) for i in range(200)], "doc_id long, n_chars int"
    )
    a = bootstrap_ci(df, "doc_id", "n_chars").collect()[0]
    b = bootstrap_ci(df.repartition(7), "doc_id", "n_chars").collect()[0]
    assert a == b  # partitioning-independent
    assert a["boot_lo_micro"] <= a["mean_micro"] <= a["boot_hi_micro"]
    assert a["spread_micro"] == a["boot_hi_micro"] - a["boot_lo_micro"]
    assert 0 < a["spread_micro"] < 2_000_000  # resamples vary but mildly
    assert a["n_docs"] == 200


# ---------------------------------------------------------------------------
# grouped_ols / capture_hazard / negative_sampling_table / bucketed sink
# ---------------------------------------------------------------------------


def test_grouped_ols_recovers_exact_line(spark):
    """y = 3x + 7 exactly -> slope 3.0, intercept 7.0, r2 = 1.0 in micro
    units (the Cramer numerators cancel exactly over integer sums);
    a constant-x group degenerates to nulls."""
    rows = [("a", x, 3 * x + 7) for x in range(1, 21)]
    rows += [("b", 5, y) for y in (10, 20, 30)]  # zero x-variance
    df = spark.createDataFrame(rows, "source string, x long, y long")
    out = {
        r["source"]: r
        for r in relational.grouped_ols(df, F.col("x"), F.col("y"), "source")
        .collect()
    }
    assert out["a"]["slope_micro"] == 3_000_000
    assert out["a"]["intercept_micro"] == 7_000_000
    assert out["a"]["r2_micro"] == 1_000_000
    assert out["b"]["slope_micro"] is None
    assert out["b"]["r2_micro"] is None


def test_grouped_ols_partitioning_independent(spark, docs):
    """Sufficient statistics are exact bigints -> the fit is identical
    under any partitioning (aggregation-order independence)."""
    x = F.length("text")
    a = sorted(
        relational.grouped_ols(docs, x, F.col("n_chars")).collect()
    )
    b = sorted(
        relational.grouped_ols(docs.repartition(13), x, F.col("n_chars"))
        .collect()
    )
    assert a == b and len(a) > 0


def test_capture_hazard_life_table(spark):
    """Hand-built histories: A dies at step 2, B censors at 2, C dies at
    3 -> at-risk counts are suffix sums over last-alive steps and the
    censored url is never a death."""
    rows = []
    rows += [("A", 1, "h0"), ("A", 2, "h1"), ("A", 3, "h1")]
    rows += [("B", 1, "h0"), ("B", 2, "h0")]
    rows += [("C", 1, "h0"), ("C", 2, "h0"), ("C", 3, "h9"), ("C", 4, "h9")]
    caps = spark.createDataFrame(
        rows, "url string, cap_idx long, content_hash string"
    )
    out = {
        r["step"]: r for r in relational.capture_hazard(caps).collect()
    }
    assert out[2]["at_risk"] == 3 and out[2]["deaths"] == 1
    assert out[2]["hazard_micro"] == 333_333
    assert out[3]["at_risk"] == 1 and out[3]["deaths"] == 1
    assert out[3]["hazard_micro"] == 1_000_000
    assert set(out) == {2, 3}  # step-1 row never emitted; 4 has no endings


def test_negative_sampling_table_damps_head(spark):
    """count ratio 16 -> weight ratio 8 (16^0.75): the 3/4 power damps
    the head; ranges are contiguous ppm intervals ordered by count."""
    docs = spark.createDataFrame(
        [(0, "alpha " * 160 + "beta " * 10 + "gamma " * 10)],
        "doc_id long, text string",
    )
    out = textops.negative_sampling_table(docs, vocab_size=10).collect()
    rows = sorted(out, key=lambda r: (-r["n"], r["token"]))
    assert [r["token"] for r in rows] == ["alpha", "beta", "gamma"]
    alpha, beta, gamma = rows
    assert alpha["n"] == 160 and beta["n"] == 10
    # 160/10 = 16 -> weight ratio 16^0.75 = 8 exactly (micro tolerance)
    assert abs(alpha["weight_ppm"] - 8 * beta["weight_ppm"]) <= 8
    # contiguous layout: each range starts where the previous ended
    assert rows[0]["cum_start_ppm"] == 0
    for prev, cur in zip(rows, rows[1:]):
        assert cur["cum_start_ppm"] == prev["cum_start_ppm"] + prev["weight_ppm"]
    total = rows[-1]["cum_start_ppm"] + rows[-1]["weight_ppm"]
    assert 1_000_000 - len(rows) <= total <= 1_000_000


def test_write_bucketed_join_is_exchange_free(spark, docs, tmp_path):
    """The sink helper's layout carries through the catalog: joining two
    write_bucketed tables on the bucket key needs NO exchange and no
    per-stage sort (sortBy + one file per bucket pre-sorts the data)."""
    from legal_document_ocr_spark.sources.sink import write_bucketed

    write_bucketed(
        docs.select("doc_id", "source"), "t_bkt_l", str(tmp_path / "l")
    )
    write_bucketed(
        docs.select("doc_id", "n_chars"), "t_bkt_r", str(tmp_path / "r")
    )
    try:
        j = spark.table("t_bkt_l").join(
            spark.table("t_bkt_r").hint("merge"), "doc_id"
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, plan[:2000]
        assert j.count() == docs.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS t_bkt_l")
        spark.sql("DROP TABLE IF EXISTS t_bkt_r")


def test_split_leakage_matches_pair_bruteforce(spark, docs):
    """Group-count algebra == brute-force pair join: cross-split pairs
    counted via n_t*(n-n_t) per dup group must equal the number of
    (i<j) same-text pairs whose hash splits disagree."""
    from legal_document_ocr_spark.operators.sampling import (
        hash_bucket,
        split_leakage,
    )

    d = docs.select("doc_id", "text", "source")
    corpus = d.unionByName(
        d.select((F.col("doc_id") + 100000).alias("doc_id"), "text", "source")
    )
    out = {
        r["policy"]: r
        for r in split_leakage(
            corpus, F.col("doc_id"), F.col("source"), test_pct=10
        ).collect()
    }
    flagged = corpus.select(
        "doc_id",
        F.md5("text").alias("k"),
        (hash_bucket(F.col("doc_id")) < 1000).alias("t_doc"),
        (hash_bucket(F.col("source")) < 1000).alias("t_dom"),
    )
    a, b = flagged.alias("a"), flagged.alias("b")
    pairs = a.join(b, F.col("a.k") == F.col("b.k")).where(
        F.col("a.doc_id") < F.col("b.doc_id")
    )
    brute_doc = pairs.where(F.col("a.t_doc") != F.col("b.t_doc")).count()
    brute_dom = pairs.where(F.col("a.t_dom") != F.col("b.t_dom")).count()
    assert out["by_doc"]["cross_pairs"] == brute_doc
    assert out["by_domain"]["cross_pairs"] == brute_dom
    # same-source copies: the domain split can never separate a pair
    assert brute_dom == 0
    assert out["by_doc"]["dup_pairs"] == pairs.count()


def test_feature_hashing_buckets_partition_tokens(spark, docs):
    """Bucket counts partition the token count exactly, and the vector
    is partitioning-independent."""
    out = textops.feature_hashing(docs, n_buckets=16)
    bad = out.where(
        sum(F.col(f"h{i}") for i in range(16)) != F.col("n_tokens")
    ).count()
    assert bad == 0
    a = sorted(out.collect())
    b = sorted(textops.feature_hashing(docs.repartition(9), n_buckets=16).collect())
    assert a == b and len(a) == docs.count()


def test_kneser_ney_hand_example(spark):
    """corpus = 'a b', 'a b', 'a c': P(b|a) = 2/3, P(c|a) = 1/3 exactly
    under D = 3/4 (continuation mass splits evenly) — and the observed
    continuations of 'a' absorb the full probability mass."""
    df = spark.createDataFrame(
        [(0, "a b"), (1, "a b"), (2, "a c")], "doc_id long, text string"
    )
    out = {
        (r["w1"], r["w2"]): r
        for r in textops.kneser_ney_bigrams(df).collect()
    }
    assert out[("a", "b")]["c12"] == 2 and out[("a", "b")]["c1"] == 3
    assert out[("a", "b")]["p_kn_micro"] == 666666
    assert out[("a", "c")]["p_kn_micro"] == 333333
    assert set(out) == {("a", "b"), ("a", "c")}


def test_kneser_ney_plan_has_no_corpus_broadcasts(spark, docs):
    """The c1/N1 stat joins are vocabulary-sized (corpus-scaling) and
    must stay shuffle_hash; only the one-row B total broadcasts."""
    plan = (
        textops.kneser_ney_bigrams(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" not in plan, plan[:2000]


def test_global_shuffle_is_exact_permutation(spark, docs):
    """Positions are exactly 0..N-1 with no gaps, equal to the naive
    global row_number, and invariant under repartitioning."""
    from pyspark.sql import Window
    from legal_document_ocr_spark.operators.sampling import global_shuffle

    out = global_shuffle(docs).cache()
    n = docs.count()
    assert out.count() == n
    stats = out.agg(
        F.min("position").alias("lo"),
        F.max("position").alias("hi"),
        F.countDistinct("position").alias("d"),
    ).collect()[0]
    assert (stats["lo"], stats["hi"], stats["d"]) == (0, n - 1, n)
    naive = out.select(
        "doc_id",
        (
            F.row_number().over(Window.orderBy("rank_hash", "doc_id")) - 1
        ).alias("naive_pos"),
        "position",
    )
    assert naive.where(F.col("naive_pos") != F.col("position")).count() == 0
    again = global_shuffle(docs.repartition(11))
    assert sorted(again.collect()) == sorted(out.collect())


def test_logreg_train_gd_learns_separable_signal(spark):
    """y = 1 iff x >= 10 on a spread of x: two surrogate-GD rounds push
    w1 positive and beat the majority-class baseline; the whole run is
    integer-deterministic under repartitioning."""
    from legal_document_ocr_spark.operators.relational import logreg_train_gd

    rows = [(x, 1 if x >= 10 else 0) for x in range(21) for _ in range(10)]
    df = spark.createDataFrame(rows, "x long, y long")
    out = logreg_train_gd(df, F.col("x"), F.col("y"), iters=2).collect()[0]
    out2 = logreg_train_gd(
        df.repartition(7), F.col("x"), F.col("y"), iters=2
    ).collect()[0]
    assert out == out2
    assert out["n"] == 210
    assert out["w1_micro"] > 0
    majority = max(110, 100)
    assert out["correct"] > majority


def test_minhash_merge_equals_full_recompute(spark, docs):
    """Merging disjoint batch sketches reproduces the full-corpus sketch
    bit-for-bit (min is batching-independent), including groups present
    on only one side."""
    full = sorted(dedup.grouped_minhash_state(docs).collect())
    a = dedup.grouped_minhash_state(docs.where(F.col("doc_id") % 3 != 0))
    b = dedup.grouped_minhash_state(docs.where(F.col("doc_id") % 3 == 0))
    merged = sorted(dedup.merge_minhash_states(a, b).collect())
    assert merged == full
    # one-sided group: a source entirely inside the batch
    one = docs.where(F.col("source") == "src0")
    empty = dedup.grouped_minhash_state(one.where(F.lit(False)))
    m2 = dedup.merge_minhash_states(
        empty, dedup.grouped_minhash_state(one)
    ).collect()
    f2 = dedup.grouped_minhash_state(one).collect()
    assert sorted(m2) == sorted(f2)


def test_curriculum_order_phases_and_positions(spark, docs):
    """Phases are quartile-sized and ordered by value thresholds;
    positions are an exact 0..n_k-1 permutation within each phase and
    partitioning-independent."""
    from legal_document_ocr_spark.operators.sampling import curriculum_order

    out = curriculum_order(docs).cache()
    n = docs.count()
    assert out.count() == n
    per = {
        r["phase"]: r
        for r in out.groupBy("phase")
        .agg(
            F.count("*").alias("c"),
            F.min("position").alias("lo"),
            F.max("position").alias("hi"),
            F.countDistinct("position").alias("d"),
        )
        .collect()
    }
    assert set(per) == {0, 1, 2, 3}
    for r in per.values():
        assert (r["lo"], r["hi"], r["d"]) == (0, r["c"] - 1, r["c"])
    # phases respect the value ordering: max(v in phase k) <= min(v in k+1)
    j = out.join(docs.select("doc_id", "n_chars"), "doc_id")
    bounds = (
        j.groupBy("phase")
        .agg(F.min("n_chars").alias("lo"), F.max("n_chars").alias("hi"))
        .orderBy("phase")
        .collect()
    )
    for prev, cur in zip(bounds, bounds[1:]):
        assert prev["hi"] <= cur["lo"]
    again = sorted(curriculum_order(docs.repartition(17)).collect())
    assert again == sorted(out.collect())


def test_cluster_sample_weights_estimate_total(spark, docs):
    """Horvitz-Thompson property: the weighted sample total estimates
    the corpus total (here within a loose band — 500 docs, 10 clusters),
    whole clusters are in or out, and membership is partitioning-stable."""
    from legal_document_ocr_spark.operators.sampling import cluster_sample

    out = cluster_sample(docs, group_pct=50, row_pct=20).cache()
    rows = out.collect()
    assert all(r["weight_micro"] == 10_000_000 for r in rows)
    # stage 1 is all-or-nothing per source
    in_sources = {r["source"] for r in rows}
    n_sources = docs.select("source").distinct().count()
    assert 0 < len(in_sources) < n_sources
    # sampled rows only come from selected sources; unselected sources
    # contribute zero rows (the physical-pruning property)
    joined = docs.join(out.select("doc_id").distinct(), "doc_id")
    assert set(
        r["source"] for r in joined.select("source").distinct().collect()
    ) == in_sources
    # HT estimate of the doc count: sum of weights ~ N (loose band)
    est = sum(r["weight_micro"] for r in rows) / 1_000_000
    n = docs.count()
    assert 0.3 * n < est < 2.5 * n
    again = sorted(cluster_sample(docs.repartition(7)).collect())
    assert again == sorted(rows)


def test_langid_spans_detects_code_switch(spark):
    """20 en-marker tokens then 20 es-marker tokens -> exactly two
    10-segment-aligned spans (en then es); marker-free text -> 'und'."""
    en = "the of and is to that it for in a "
    es = "el la de y es en que los una por "
    df = spark.createDataFrame(
        [(0, en * 2 + es * 2), (1, "zz qq ww " * 4)],
        "doc_id long, text string",
    )
    out = textops.langid_spans(df, line_tokens=10).collect()
    spans = sorted(
        [(r["span_idx"], r["start_seg"], r["n_segs"], r["lang"])
         for r in out if r["doc_id"] == 0]
    )
    assert spans == [(0, 0, 2, "en"), (1, 2, 2, "es")]
    und = [r["lang"] for r in out if r["doc_id"] == 1]
    assert und == ["und"]


def test_word_dropout_is_stable_subsequence(spark, docs):
    """Kept tokens are an order-preserving subsequence, the corpus-wide
    drop rate lands near 10%, and the mask is partitioning-stable;
    drop_pct=0 is the identity."""
    out = textops.word_dropout(docs, drop_pct=10).cache()
    tot = out.agg(F.sum("n_tokens"), F.sum("n_kept")).collect()[0]
    rate = 1 - tot[1] / tot[0]
    assert 0.06 < rate < 0.14
    # subsequence: every kept token multiset is contained per doc; check
    # one doc exactly against a Python reference
    import hashlib

    row = docs.select("doc_id", "text").orderBy("doc_id").first()
    toks = row["text"].lower().strip().split()
    keep = []
    for i, t in enumerate(toks):
        h = int(hashlib.md5(f"{row['doc_id']}|{i}".encode()).hexdigest()[:7], 16) % 10000
        if h >= 1000:
            keep.append(t)
    got = out.where(F.col("doc_id") == row["doc_id"]).first()
    assert got["aug_text"] == " ".join(keep)
    assert got["n_kept"] == len(keep)
    again = sorted(textops.word_dropout(docs.repartition(6), drop_pct=10).collect())
    assert again == sorted(out.collect())
    ident = textops.word_dropout(docs, drop_pct=0)
    assert ident.where(F.col("n_kept") != F.col("n_tokens")).count() == 0


def test_multiprobe_recall_dominates_single_bucket(spark, embeddings):
    """Multi-probe results all live within Hamming-1 of the query's sign
    bucket, contain the single-bucket results, and recall@10 vs exact
    brute force is >= the single-bucket variant's."""
    exact = {
        r["vec_id"]
        for r in similarity.cosine_topk(embeddings, 0, k=10).collect()
    }
    single = {
        r["vec_id"]
        for r in similarity.bucketed_topk(
            embeddings, 0, k=10, bucket_dims=4
        ).collect()
    }
    multi_rows = similarity.multiprobe_topk(
        embeddings, 0, k=10, bucket_dims=4
    ).collect()
    multi = {r["vec_id"] for r in multi_rows}
    assert len(multi) == 10
    assert len(multi & exact) >= len(single & exact)
    keyed = embeddings.select(
        "vec_id",
        similarity.sign_bucket_expr(F.col("embedding"), 4).alias("b"),
    )
    buckets = {r["vec_id"]: r["b"] for r in keyed.collect()}
    qb = buckets[0]
    for vid in multi:
        ham = sum(1 for a, b in zip(qb, buckets[vid]) if a != b)
        assert ham <= 1


def test_conditional_entropy_alternating_corpus(spark):
    """'abab...': order-0 entropy is exactly 1 bit, order-1 is 0 (the
    next char is deterministic given the previous) -> redundancy 1 bit."""
    df = spark.createDataFrame([(0, "ab" * 100)], "doc_id long, text string")
    r = textops.conditional_entropy(df).collect()[0]
    assert r["n_chars"] == 200 and r["n_bigrams"] == 199
    assert r["h0_micro"] == 1_000_000
    assert r["h1_micro"] == 0
    assert r["redundancy_micro"] == 1_000_000


def test_vocab_coverage_curve(spark):
    """Tiny corpus: top-2 tokens cover 12/16, full 3-token vocab covers
    everything; the curve is nondecreasing and capped at 1e6."""
    df = spark.createDataFrame(
        [(0, "a " * 8 + "b " * 4 + "c " * 4)], "doc_id long, text string"
    )
    rows = {r["k"]: r for r in textops.vocab_coverage(df).collect()}
    assert rows[1]["vocab_size"] == 2 and rows[1]["covered_ppm"] == 750_000
    assert rows[2]["vocab_size"] == 3 and rows[2]["covered_ppm"] == 1_000_000
    assert rows[10]["vocab_size"] == 3
    cur = 0
    for k in sorted(rows):
        assert rows[k]["covered_ppm"] >= cur
        cur = rows[k]["covered_ppm"]
        assert rows[k]["covered_ppm"] <= 1_000_000


def test_byte_fertility_ascii_vs_multibyte(spark):
    """Pure-ASCII text costs exactly 1.0 byte/char; diacritic text costs
    more; token ratio reflects bytes, not chars."""
    df = spark.createDataFrame(
        [(0, "plain ascii text", "en"), (1, "số và của là", "vi")],
        "doc_id long, text string, lang string",
    )
    out = {r["lang"]: r for r in textops.byte_fertility(df).collect()}
    assert out["en"]["bytes_per_char_micro"] == 1_000_000
    assert out["vi"]["bytes_per_char_micro"] > 1_000_000
    assert out["vi"]["n_bytes"] > out["vi"]["n_chars"]


def test_filter_ensemble_loo_semantics(spark):
    """Hand rows where one rule is pivotal: flips counted only where
    removing the rule changes the majority verdict; keep rates exact."""
    df = spark.createDataFrame(
        [(1, 1, 0), (1, 0, 0), (0, 1, 1), (1, 1, 1)],
        "a int, b int, c int",
    )
    out = {
        r["rule"]: r
        for r in relational.filter_ensemble(
            df,
            [("a", F.col("a") == 1), ("b", F.col("b") == 1),
             ("c", F.col("c") == 1)],
        ).collect()
    }
    # majority keeps rows 1, 3, 4 -> 750000 ppm
    assert out["a"]["majority_keep_ppm"] == 750_000
    # row (1,1,0): majority keep; drop a -> (1,0): 2*1 > 2 false -> flip.
    # row (1,0,0): majority drop; drop a -> stays drop. row (0,1,1): keep;
    # drop a -> (1,1) keep. row (1,1,1): keep; drop a -> (1,1) keep.
    assert out["a"]["loo_flips"] == 1
    # rule c is pivotal only for row (0,1,1): drop c -> (0,1) drops
    assert out["c"]["loo_flips"] == 1
    assert out["b"]["keep_rate_ppm"] == 750_000


def test_ndcg_eval_bounds_and_ideal(spark, embeddings):
    """NDCG is in [0, 1e6]; a 'bucketed' ranking that IS the exact
    ranking (bucket_dims=0 would be degenerate, so verify bounds and
    consistency with recall instead)."""
    r = similarity.ndcg_eval(embeddings, 0, k=10, bucket_dims=4).collect()[0]
    assert 0 <= r["ndcg_ppm"] <= 1_000_000
    assert r["idcg_micro"] == sum(
        (11 - p) * similarity.NDCG_DISCOUNT_MICRO[p - 1] for p in range(1, 11)
    )
    assert r["dcg_micro"] <= r["idcg_micro"]


def test_percentile_normalize_matches_cume_dist(spark, docs):
    """The sketch-join percentile equals naive cume_dist in ppm; max
    value maps to exactly 1e6 and ties share a percentile."""
    from pyspark.sql import Window
    out = relational.percentile_normalize(docs).cache()
    n = docs.count()
    naive = docs.select(
        "doc_id",
        (
            (F.count("*").over(
                Window.orderBy("n_chars").rangeBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            ) * 1000000) / n
        ).cast("long").alias("naive_ppm"),
    )
    j = out.join(naive, "doc_id")
    assert j.where(F.col("pct_ppm") != F.col("naive_ppm")).count() == 0
    assert out.agg(F.max("pct_ppm")).collect()[0][0] == 1_000_000


def test_neyman_allocation_prefers_variable_strata(spark):
    """Equal-size strata: the high-variance stratum gets the larger
    allocation; a zero-variance stratum gets zero; ppm sums to <= 1e6."""
    rows = [("flat", 100) for _ in range(50)]
    rows += [("wild", 10 * i) for i in range(50)]
    df = spark.createDataFrame(rows, "source string, n_chars long")
    out = {
        r["source"]: r
        for r in relational.neyman_allocation(df, budget=100).collect()
    }
    assert out["flat"]["ss"] == 0 and out["flat"]["alloc_n"] == 0
    assert out["wild"]["alloc_n"] == 100
    assert out["flat"]["alloc_ppm"] + out["wild"]["alloc_ppm"] <= 1_000_000


def test_crossval_ols_subtraction_matches_direct_fit(spark):
    """The leave-one-fold-out model from subtracted sufficient stats
    equals grouped_ols trained directly on the complement; on an exact
    line the MAE is the floor-truncation residue only."""
    rows = [(i, i % 17 + 1, 3 * (i % 17 + 1) + 7) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, x long, y long")
    out = relational.crossval_ols(
        df, F.col("x"), F.col("y"), k=5
    ).collect()
    assert len(out) == 5
    for r in out:
        assert r["slope_micro"] == 3_000_000
        assert r["intercept_micro"] == 7_000_000
        assert r["mae_micro"] == 0
        assert r["n_train"] + r["n_test"] == 300
    # direct check of one fold's model against a from-scratch fit
    from legal_document_ocr_spark.operators.sampling import hash_bucket

    fold0 = df.withColumn("f", hash_bucket(F.col("doc_id")) % 5)
    direct = relational.grouped_ols(
        fold0.where(F.col("f") != 0).withColumn("g", F.lit("all")),
        F.col("x"),
        F.col("y"),
        "g",
    ).collect()[0]
    cv0 = [r for r in out if r["fold"] == 0][0]
    assert direct["slope_micro"] == cv0["slope_micro"]
    assert direct["intercept_micro"] == cv0["intercept_micro"]


def test_fixed_size_sample_plan_and_stability(spark, docs):
    """Exactly k rows per group, stable under repartitioning, and the
    rn<=k filter compiles to WindowGroupLimit (top-k below the
    shuffle)."""
    from legal_document_ocr_spark.operators.sampling import fixed_size_sample

    out = fixed_size_sample(docs, k=5).cache()
    per = out.groupBy("source").count().collect()
    assert all(r["count"] == 5 for r in per)
    assert len(per) == docs.select("source").distinct().count()
    plan = (
        fixed_size_sample(docs, k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan, plan[:1500]
    again = sorted(fixed_size_sample(docs.repartition(9), k=5).collect())
    assert again == sorted(out.collect())


def test_code_detect_flags_code_not_prose(spark):
    """A code snippet trips both gates; plain prose trips neither; a
    symbol-heavy but keyword-free doc stays prose (AND semantics)."""
    rows = [
        (0, "def f(x): return x*x; import os; const y = {a: 1};"),
        (1, "this is a plain english sentence about the weather today"),
        (2, "{}();=<> {}();=<> {}();=<> just punctuation nothing else"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in textops.code_detect(df).collect()}
    assert out[0]["is_code"] == 1 and out[0]["keyword_hits"] >= 2
    assert out[1]["is_code"] == 0 and out[1]["symbol_ppm"] == 0
    assert out[2]["is_code"] == 0 and out[2]["symbol_ppm"] > 30_000


def test_deleted_interpolation_awards_sum_and_favor_bigram(spark):
    """Awards partition the bigram-token mass; a strongly predictive
    corpus (deterministic continuations) awards most mass to the
    bigram order; lambdas sum to ~1e6."""
    df = spark.createDataFrame(
        [(i, "alpha beta gamma delta " * 10) for i in range(5)],
        "doc_id long, text string",
    )
    r = textops.deleted_interpolation(df).collect()[0]
    assert r["awarded_bigram"] + r["awarded_unigram"] > 0
    assert r["lambda2_ppm"] + r["lambda1_ppm"] in (999999, 1000000)
    assert r["lambda2_ppm"] > r["lambda1_ppm"]


def test_threshold_select_picks_utility_argmax(spark):
    """Hand data where the best gate is obvious: positives live at high
    scores, negatives at low; the swept argmax matches brute force."""
    rows = [(s, 1) for s in (10, 10, 9, 8)] + [(s, 0) for s in (3, 2, 2, 1)]
    rows += [(6, 0), (6, 1)]
    df = spark.createDataFrame(rows, "s long, y int")
    r = relational.threshold_select(
        df, F.col("s"), F.col("y"), tp_gain=1, fp_cost=2
    ).collect()[0]
    # brute force over all distinct thresholds
    data = rows
    best = max(
        sorted({s for s, _ in data}),
        key=lambda t: (
            sum(1 for s, y in data if s >= t and y == 1)
            - 2 * sum(1 for s, y in data if s >= t and y == 0),
            -t,
        ),
    )
    util = lambda t: sum(1 for s, y in data if s >= t and y == 1) - 2 * sum(
        1 for s, y in data if s >= t and y == 0
    )
    assert r["utility"] == util(best)
    assert util(r["threshold"]) == r["utility"]


def test_ks_statistic_identical_and_disjoint(spark):
    """Identical distributions -> D = 0; disjoint supports -> D = 1e6;
    the argmax value sits between the supports."""
    same = spark.createDataFrame(
        [(v, g) for v in (1, 2, 3, 4) for g in ("src0", "src1")],
        "n_chars long, source string",
    )
    r0 = relational.ks_statistic(same, "n_chars", "src0", "src1").collect()[0]
    assert r0["d_ppm"] == 0
    disj = spark.createDataFrame(
        [(v, "src0") for v in (1, 2, 3)] + [(v, "src1") for v in (10, 11, 12)],
        "n_chars long, source string",
    )
    r1 = relational.ks_statistic(disj, "n_chars", "src0", "src1").collect()[0]
    assert r1["d_ppm"] == 1_000_000
    assert r1["at_value"] == 3


def test_auc_exact_known_cases(spark):
    """Perfect separation -> 1e6; anti-separation -> 0; all-ties ->
    500000; a mixed case matches the brute-force pair count."""
    perf = spark.createDataFrame(
        [(10, 1), (9, 1), (2, 0), (1, 0)], "s long, y int"
    )
    assert relational.auc_exact(perf, F.col("s"), F.col("y")).collect()[0][
        "auc_ppm"
    ] == 1_000_000
    anti = spark.createDataFrame(
        [(1, 1), (2, 1), (9, 0), (10, 0)], "s long, y int"
    )
    assert relational.auc_exact(anti, F.col("s"), F.col("y")).collect()[0][
        "auc_ppm"
    ] == 0
    ties = spark.createDataFrame(
        [(5, 1), (5, 1), (5, 0), (5, 0)], "s long, y int"
    )
    assert relational.auc_exact(ties, F.col("s"), F.col("y")).collect()[0][
        "auc_ppm"
    ] == 500_000
    rows = [(3, 1), (2, 0), (3, 0), (1, 0), (4, 1), (2, 1)]
    df = spark.createDataFrame(rows, "s long, y int")
    pos = [s for s, y in rows if y == 1]
    neg = [s for s, y in rows if y == 0]
    u2 = sum(
        2 if p > n_ else (1 if p == n_ else 0) for p in pos for n_ in neg
    )
    want = u2 * 1_000_000 // (2 * len(pos) * len(neg))
    got = relational.auc_exact(df, F.col("s"), F.col("y")).collect()[0]
    assert got["auc_ppm"] == want and got["u2"] == u2


def test_span_corruption_masks_whole_windows(spark, docs):
    """Masked positions come in whole 3-token windows: n_masked is
    consistent with n_spans (last window may be short), the mask is
    partitioning-stable, and ~15% of tokens are masked corpus-wide."""
    out = textops.span_corruption(docs).cache()
    bad = out.where(
        (F.col("n_masked") > F.col("n_spans") * 3)
        | ((F.col("n_spans") > 0) & (F.col("n_masked") < F.col("n_spans") * 3 - 2))
    ).count()
    assert bad == 0
    tot = out.agg(F.sum("n_tokens"), F.sum("n_masked")).collect()[0]
    rate = tot[1] / tot[0]
    assert 0.10 < rate < 0.20
    again = sorted(textops.span_corruption(docs.repartition(7)).collect())
    assert again == sorted(out.collect())


def test_dedup_diversity_ttr_rises_after_dedup(spark, docs):
    """Exact copies double tokens without adding types: raw TTR is
    ~half the deduped TTR and distinct counts are identical."""
    raw = docs.select("doc_id", "text").unionByName(
        docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )
    ded = raw.groupBy("text").agg(F.min("doc_id").alias("doc_id")).select(
        "doc_id", "text"
    )
    out = {r["stage"]: r for r in textops.dedup_diversity(raw, ded).collect()}
    assert out["raw"]["n_bigrams"] == 2 * out["deduped"]["n_bigrams"]
    assert out["raw"]["distinct_bigrams"] == out["deduped"]["distinct_bigrams"]
    assert out["deduped"]["ttr_ppm"] >= 2 * out["raw"]["ttr_ppm"] - 1


def test_heldout_perplexity_separates_domains(spark):
    """A model trained on 'ababab' text scores in-domain eval as seen
    (0 unseen) and counts foreign bigrams as unseen rather than
    smoothing them."""
    train = spark.createDataFrame(
        [(i, "ab" * 50) for i in range(5)], "doc_id long, text string"
    )
    ev = spark.createDataFrame(
        [(100, "abab"), (101, "xyxy")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r
        for r in textops.heldout_perplexity(train, ev).collect()
    }
    assert out[100]["n_unseen"] == 0 and out[100]["nll_micro"] is not None
    # 'xyxy' shares no bigrams with the train corpus
    assert out[101]["n_unseen"] == out[101]["n_bigrams"]
    assert out[101]["nll_micro"] is None


def test_best_snippet_finds_dense_window(spark):
    """The densest 10-token window wins; zero-hit docs emit nothing;
    the snippet text is the actual window content."""
    text = ("filler " * 20) + "the of and the of " + ("pad " * 20)
    df = spark.createDataFrame(
        [(0, text), (1, "no query terms here at all")],
        "doc_id long, text string",
    )
    out = textops.best_snippet(df, ["the", "of", "and"], window=10).collect()
    assert len(out) == 1
    r = out[0]
    assert r["doc_id"] == 0 and r["hits"] == 5
    assert "the of and the of" in r["snippet"]
    assert len(r["snippet"].split()) == 10


def test_shared_prefixes_counts_cache_savings(spark, docs):
    """documents ∪ exact copies: every prefix group has >= 2 members,
    so saved tokens = (group size - 1) * 16 summed — exactly half the
    doubled corpus's prefix mass when all originals were distinct."""
    d = docs.select("doc_id", "text")
    doubled = d.unionByName(
        d.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )
    r = textops.shared_prefixes(doubled, prefix_tokens=16).collect()[0]
    assert r["docs_in_shared_groups"] == r["n_docs"]
    assert r["saved_tokens"] == (r["n_docs"] - r["n_groups"]) * 16
    assert r["saved_ppm"] >= 500_000


def test_term_burstiness_content_vs_glue(spark):
    """A term appearing once in every doc has Fano 0 (sub-Poisson,
    perfectly even); a term spending its whole mass in one doc has
    Fano ~ its count (maximally bursty)."""
    rows = [(i, "glue " + ("topic " * 10 if i == 0 else "")) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["token"]: r for r in textops.term_burstiness(df, top_k=10).collect()}
    assert out["glue"]["fano_micro"] == 0
    # topic: N=10, sum=10, sxx=100 -> (10*100-100)/(10*10) = 9.0
    assert out["topic"]["fano_micro"] == 9_000_000


def test_quality_residuals_exact_line_zero(spark):
    """On an exact per-group line the residual is the floor-truncation
    residue only (< 1 unit of y in micro); a planted outlier flags."""
    rows = [("a", x, 3 * x + 7) for x in range(1, 30)]
    rows.append(("a", 15, 1000))  # way off the line
    df = spark.createDataFrame(rows, "source string, x long, y long")
    out = relational.quality_residuals(
        df, F.col("x"), F.col("y"), "source", flag_k_micro=2_000_000
    ).collect()
    planted = [r for r in out if r["y"] == 1000]
    clean = [r for r in out if r["y"] != 1000]
    assert planted[0]["is_outlier"] == 1
    # the planted point drags the fit, but the clean points stay far
    # closer to the line than the outlier does
    worst_clean = max(abs(r["residual_micro"]) for r in clean)
    assert abs(planted[0]["residual_micro"]) > 5 * worst_clean


def test_log2_histogram_buckets(spark):
    """Bucket = bit length: value v lands in [2^(b-1), 2^b - 1];
    totals partition the corpus."""
    df = spark.createDataFrame(
        [("s", v) for v in (1, 2, 3, 4, 7, 8, 1023, 1024)],
        "source string, n_chars long",
    )
    out = {r["bucket"]: r for r in relational.log2_histogram(df).collect()}
    assert out[1]["n"] == 1 and (out[1]["lo"], out[1]["hi"]) == (1, 1)
    assert out[2]["n"] == 2 and (out[2]["lo"], out[2]["hi"]) == (2, 3)
    assert out[3]["n"] == 2 and (out[3]["lo"], out[3]["hi"]) == (4, 7)
    assert out[10]["n"] == 1 and out[10]["lo"] == 512
    assert out[11]["n"] == 1 and out[11]["lo"] == 1024
    assert sum(r["n"] for r in out.values()) == 8


def test_kendall_tau_hand_checked(spark):
    """9 distinct power-of-two buckets make T-Tx a perfect square (36),
    so tau is exact: +1e6 for the identity order, -1e6 reversed; the
    pair counts are the closed-form 36/0."""
    from legal_document_ocr_spark.operators.relational import kendall_tau

    xs = [2**i for i in range(9)]
    up = spark.createDataFrame([(x, x) for x in xs], "x long, y long")
    r = kendall_tau(up, F.col("x"), F.col("y")).collect()[0]
    assert (r["n_docs"], r["concordant"], r["discordant"]) == (9, 36, 0)
    assert r["tau_micro"] == 1000000
    dn = spark.createDataFrame(
        [(x, y) for x, y in zip(xs, reversed(xs))], "x long, y long"
    )
    r2 = kendall_tau(dn, F.col("x"), F.col("y")).collect()[0]
    assert (r2["concordant"], r2["discordant"]) == (0, 36)
    assert r2["tau_micro"] == -1000000
    # all-tied degenerate: guard emits 0 instead of dividing by zero
    flat = spark.createDataFrame([(1, 1)] * 3, "x long, y long")
    assert kendall_tau(flat, F.col("x"), F.col("y")).collect()[0][
        "tau_micro"
    ] == 0


def test_spearman_rho_hand_checked(spark):
    """Exact rational rho: perfect order -> 1e6, reversed -> -1e6, and a
    3-row tied case whose closed form is -1/2 (ranks tie-broken by id:
    d = (-2, 1, 1), S = 6, rho = 1 - 36/24)."""
    from legal_document_ocr_spark.operators.relational import spearman_rho

    up = spark.createDataFrame(
        [(i, 10 * i, 10 * i) for i in range(1, 5)],
        "doc_id long, x long, y long",
    )
    r = spearman_rho(up, F.col("x"), F.col("y")).collect()[0]
    assert (r["n_docs"], r["sum_d2"], r["rho_micro"]) == (4, "0", 1000000)
    dn = spark.createDataFrame(
        [(1, 10, 40), (2, 20, 30), (3, 30, 20), (4, 40, 10)],
        "doc_id long, x long, y long",
    )
    r2 = spearman_rho(dn, F.col("x"), F.col("y")).collect()[0]
    assert (r2["sum_d2"], r2["rho_micro"]) == ("20", -1000000)
    tied = spark.createDataFrame(
        [(1, 1, 2), (2, 1, 1), (3, 2, 1)], "doc_id long, x long, y long"
    )
    r3 = spearman_rho(tied, F.col("x"), F.col("y")).collect()[0]
    assert (r3["sum_d2"], r3["rho_micro"]) == ("6", -500000)


def test_mrr_eval_hand_checked(spark):
    """Two query terms, k=2: 'alpha' is word-bounded in the tf-top doc
    (rank 1), 'beta' only in the runner-up (rank 2 -> rr 500000); the
    glued-token docs rank high on tf but fail head relevance; the *ALL*
    row is the exact integer mean."""
    from legal_document_ocr_spark.operators.textops import mrr_eval

    df = spark.createDataFrame(
        [
            (1, " alpha alpha alpha"),
            (2, "xxalphaalpha zz"),
            (3, "beta says alpha "),
            (4, "zz beta beta"),
            (5, "betabeta betabeta"),
        ],
        "doc_id long, text string",
    )
    got = [
        (r["query_term"], r["best_rank"], r["rr_micro"])
        for r in mrr_eval(df, ["beta", "alpha"], k=2).collect()
    ]
    assert got == [
        ("*ALL*", 2, 750000),
        ("alpha", 1, 1000000),
        ("beta", 2, 500000),
    ]


def test_avg_precision_hand_checked(spark):
    """5 docs ranked by score: positives at global ranks 1 and 3 give
    the closed-form AP (1.0 + 2/3)/2 in exact micro integers; a tied
    pair breaks on id; zero positives emits 0."""
    from legal_document_ocr_spark.operators.relational import avg_precision

    df = spark.createDataFrame(
        [(1, 50, 1), (2, 40, 0), (3, 30, 1), (4, 20, 0), (5, 10, 0)],
        "doc_id long, s long, y long",
    )
    r = avg_precision(df, F.col("s"), F.col("y") == 1).collect()[0]
    assert (r["n_pos"], r["n_total"], r["ap_micro"]) == (2, 5, 833333)
    tied = spark.createDataFrame(
        [(1, 10, 0), (2, 10, 1)], "doc_id long, s long, y long"
    )
    r2 = avg_precision(tied, F.col("s"), F.col("y") == 1).collect()[0]
    assert (r2["n_pos"], r2["ap_micro"]) == (1, 500000)
    none = spark.createDataFrame([(1, 10, 0)], "doc_id long, s long, y long")
    assert avg_precision(none, F.col("s"), F.col("y") == 1).collect()[0][
        "ap_micro"
    ] == 0


def test_rbo_overlap_hand_checked(spark):
    """k=3: identical rankings sum every suffix weight; a reversal pays
    W_2 + 2*W_3 (matches at depths 2, 3, 3); disjoint top-k is 0."""
    from legal_document_ocr_spark.operators.textops import (
        rbo_overlap,
        rbo_weights_nano,
    )

    w = rbo_weights_nano(3)
    same = spark.createDataFrame(
        [(i, 10 * (7 - i), 10 * (7 - i)) for i in range(1, 7)],
        "doc_id long, a long, b long",
    )
    r = rbo_overlap(same, F.col("a"), F.col("b"), k=3).collect()[0]
    assert (r["k"], r["n_common"], r["rbo_nano"]) == (3, 3, sum(w))
    rev = spark.createDataFrame(
        [(1, 30, 10), (2, 20, 20), (3, 10, 30)],
        "doc_id long, a long, b long",
    )
    r2 = rbo_overlap(rev, F.col("a"), F.col("b"), k=3).collect()[0]
    assert (r2["n_common"], r2["rbo_nano"]) == (3, w[1] + 2 * w[2])
    disj = spark.createDataFrame(
        [(i, 100 - i, i) for i in range(1, 7)], "doc_id long, a long, b long"
    )
    r3 = rbo_overlap(disj, F.col("a"), F.col("b"), k=3).collect()[0]
    assert (r3["n_common"], r3["rbo_nano"]) == (0, 0)


def test_hill_tail_index_hand_checked(spark):
    """8 groups of 4 docs over a floor group of 2: every log term is
    round(ln 2, 6), so alpha is the closed form 8e6 / (8 * 0.693147);
    an all-equal top-9 degenerates to the guarded 0."""
    import math
    from decimal import Decimal

    from legal_document_ocr_spark.operators.relational import hill_tail_index

    rows = [(f"g{i:02d}", j) for i in range(8) for j in range(4)]
    rows += [("g08", 0), ("g08", 1), ("g09", 0)]
    df = spark.createDataFrame(rows, "source string, j long")
    r = hill_tail_index(df, "source", k=8).collect()[0]
    assert r["x_kplus1"] == 2
    expected = math.floor(8000000 / float(Decimal("5.545176")))
    assert r["alpha_micro"] == expected
    flat = spark.createDataFrame(
        [(f"h{i:02d}", 0) for i in range(10)], "source string, j long"
    )
    assert hill_tail_index(flat, "source", k=8).collect()[0][
        "alpha_micro"
    ] == 0


def test_keyness_terms_hand_checked(spark):
    """2-source corpus: zebra-heavy vs cat-heavy. Closed form per cell
    (decimal round-6 terms): 2*(1.386294 - 0.693147 + 1.216395)*1e6
    = 3819084 exactly for both signature terms; directions flip."""
    from legal_document_ocr_spark.operators.textops import keyness_terms

    df = spark.createDataFrame(
        [(1, "s1", "zebra zebra cat"), (2, "s2", "cat cat cat")],
        "doc_id long, source string, text string",
    )
    rows = {
        (r["source"], r["term"]): r
        for r in keyness_terms(df, k=2).collect()
    }
    z = rows[("s1", "zebra")]
    assert (z["tf_in"], z["tf_out"]) == (2, 0)
    # g2 ties with s1's 'cat' cell; the term-asc tiebreak ranks cat first
    assert z["g2_micro"] == 3819084 and z["overused"] == 1 and z["rank"] == 2
    c2 = rows[("s2", "cat")]
    assert (c2["tf_in"], c2["tf_out"]) == (3, 1)
    assert c2["g2_micro"] == 3819084 and c2["overused"] == 1
    # the mirror cells: cat is UNDER-used in s1, zebra absent from s2
    c1 = rows[("s1", "cat")]
    assert c1["overused"] == 0 and c1["g2_micro"] == 3819084


def test_simpson_diversity_hand_checked(spark):
    """Closed forms: 2+2 split -> 1 - 4/12 = 666666 micro; monoculture
    -> 0; single doc guards to 0."""
    from legal_document_ocr_spark.operators.relational import (
        simpson_diversity,
    )

    df = spark.createDataFrame(
        [("g1", "a"), ("g1", "a"), ("g1", "b"), ("g1", "b"),
         ("g2", "x"), ("g2", "x"), ("g2", "x"), ("g3", "y")],
        "source string, lang string",
    )
    got = {
        r["source"]: (r["n_docs"], r["n_cats"], r["simpson_micro"])
        for r in simpson_diversity(df).collect()
    }
    assert got == {"g1": (4, 2, 666666), "g2": (3, 1, 0), "g3": (1, 1, 0)}


def test_welch_ttest_hand_checked(spark):
    """a=[1,2,3] vs b=[5,7]: va=1, vb=2, t=-4/sqrt(4/3), dof=32/19 —
    expectations replicated with the same pinned float op order."""
    import math

    from legal_document_ocr_spark.operators.relational import welch_ttest

    rows = [("src0", v) for v in (1, 2, 3)] + [("src1", v) for v in (5, 7)]
    df = spark.createDataFrame(rows, "source string, n_chars long")
    r = welch_ttest(df, "n_chars", "src0", "src1").collect()[0]
    va = (14.0 - 6.0 * 6.0 / 3.0) / 2.0
    vb = (74.0 - 12.0 * 12.0 / 2.0) / 1.0
    se2 = va / 3.0 + vb / 2.0
    t = (6.0 / 3.0 - 12.0 / 2.0) / math.sqrt(se2)
    dof = (se2 * se2) / (
        (va / 3.0) * (va / 3.0) / 2.0 + (vb / 2.0) * (vb / 2.0) / 1.0
    )
    assert (r["n_a"], r["n_b"]) == (3, 2)
    assert r["t_micro"] == math.floor(t * 1000000) == -3464102
    assert r["dof_micro"] == math.floor(dof * 1000000) == 1684210


def test_cvm_statistic_hand_checked(spark):
    """a=[1,2] vs b=[2,3]: gaps 0.5/0.5/0 weighted 1/2/1 -> S=0.75,
    T = (4/16)*0.75 = 0.1875 -> 187500 micro exactly."""
    from legal_document_ocr_spark.operators.relational import cvm_statistic

    rows = [("src0", 1), ("src0", 2), ("src1", 2), ("src1", 3)]
    df = spark.createDataFrame(rows, "source string, n_chars long")
    r = cvm_statistic(df, "n_chars", "src0", "src1").collect()[0]
    assert (r["n_a"], r["n_b"], r["t_micro"]) == (2, 2, 187500)


def test_reliability_bins_hand_checked(spark):
    """Bin by pred decile: two rows in bin 1 (one positive -> obs 5e5,
    gap 35e4), one in bin 4, and a pred of exactly 1e6 clamps to bin 9."""
    from legal_document_ocr_spark.operators.relational import (
        reliability_bins,
    )

    df = spark.createDataFrame(
        [(150000, 1), (150000, 0), (450000, 1), (1000000, 0)],
        "pred long, y long",
    )
    got = {
        r["bin"]: (r["n"], r["positives"], r["mean_pred_ppm"],
                   r["observed_ppm"], r["gap_ppm"])
        for r in reliability_bins(df, F.col("pred"), F.col("y") == 1).collect()
    }
    assert got == {
        1: (2, 1, 150000, 500000, 350000),
        4: (1, 1, 450000, 1000000, 550000),
        9: (1, 0, 1000000, 0, -1000000),
    }


def test_waterfill_allocation_hand_checked(spark):
    """caps (10, 20, 100): B=50 caps the two small sources and
    waterlines the big one at 20; B=7 splits 3/2/2 (+1 to the first in
    (cap, name) order); B >= total hands everyone their cap. Every
    allocation sums to exactly min(B, total)."""
    from legal_document_ocr_spark.operators.sampling import (
        waterfill_allocation,
    )

    caps = spark.createDataFrame(
        [("a", 10), ("b", 20), ("c", 100)], "source string, cap long"
    )

    def run(b):
        return {
            r["source"]: (r["alloc"], r["capped"])
            for r in waterfill_allocation(caps, b).collect()
        }

    assert run(50) == {"a": (10, 1), "b": (20, 1), "c": (20, 0)}
    assert run(7) == {"a": (3, 0), "b": (2, 0), "c": (2, 0)}
    assert run(200) == {"a": (10, 1), "b": (20, 1), "c": (100, 1)}


def test_otsu_threshold_hand_checked(spark):
    """[1,1,2,9,9]: cutting at 2 separates {1,1,2} from {9,9} with
    sigma_B = 46^2/6/25 = 14.106666 — beats cutting at 1 (7.706666)."""
    from legal_document_ocr_spark.operators.relational import otsu_threshold

    df = spark.createDataFrame(
        [(v,) for v in (1, 1, 2, 9, 9)], "n_chars long"
    )
    r = otsu_threshold(df, "n_chars").collect()[0]
    assert (r["threshold"], r["n_below"], r["n_above"]) == (2, 3, 2)
    assert r["sigma_b_micro"] == 14106666


def test_compact_partitioned_shrinks_files_preserves_rows(spark, tmp_path):
    """A fragmented partitioned tree (8-way repartition under
    partitionBy) compacts to exactly one file per partition directory
    with the row multiset untouched."""
    from legal_document_ocr_spark.sources.sink import (
        compact_partitioned,
        count_leaf_files,
    )

    rows = [(i, "a" if i % 3 else "b") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    frag = str(tmp_path / "frag")
    df.repartition(8).write.partitionBy("lang").parquet(frag)
    before = count_leaf_files(frag)
    comp = compact_partitioned(
        spark, frag, str(tmp_path / "comp"), "lang"
    )
    after = count_leaf_files(comp)
    assert before > after == 2  # one file per lang dir
    back = spark.read.parquet(comp)
    assert back.count() == 200
    assert (
        sorted((r["doc_id"], r["lang"]) for r in back.collect())
        == sorted(rows)
    )


def test_vocab_churn_hand_checked(spark):
    """A = {cat, dog, emu}, B = {dog, fox}: one type born, two died,
    one survived; churn = 1/2 of B's vocabulary."""
    from legal_document_ocr_spark.operators.textops import vocab_churn

    df = spark.createDataFrame(
        [("cat dog", 0), ("dog emu", 0), ("dog fox", 1)],
        "text string, snap long",
    )
    r = vocab_churn(df, F.col("snap") == 1).collect()[0]
    assert (
        r["vocab_a"], r["vocab_b"], r["born"], r["died"], r["shared"],
        r["churn_ppm"],
    ) == (3, 2, 1, 2, 1, 500000)


def test_lm_greedy_decode_hand_checked(spark):
    """Start at the modal token 'b', follow its only continuation 'c',
    then dead-end: nulls pad to the requested length."""
    from legal_document_ocr_spark.operators.textops import lm_greedy_decode

    df = spark.createDataFrame(
        [("a b",), ("b c",), ("b c",), ("a b",)], "text string"
    )
    rows = lm_greedy_decode(df, steps=4).orderBy("step").collect()
    assert [(r["step"], r["token"]) for r in rows] == [
        (1, "b"), (2, "c"), (3, None), (4, None)
    ]


def test_keyness_plan_vocab_tables_not_broadcast(spark):
    """keyness_terms joins the (term, group) tf table against its term
    margins — both vocabulary-sized at corpus scale. The only broadcast
    allowed is the BOUNDED per-group token-total table; the term-margin
    join must travel as a shuffle exchange."""
    import legal_document_ocr_spark.queries as Q

    plan = _plan(Q.SPARK["keyness_terms"](spark, SF))
    assert plan.count("BroadcastExchange") <= 1, plan
    assert "ShuffledHashJoin" in plan, plan


def test_rank_machinery_windows_are_value_partitioned(spark):
    """spearman_rho and avg_precision rank the corpus without a global
    sort: every corpus-sized window must be PARTITIONED (by value) —
    an unpartitioned running window over raw rows is the single-task
    scale-killer the two-phase rank exists to avoid. The only
    unpartitioned windows allowed are over the bounded distinct-value
    distribution (SinglePartition exchanges feeding tiny tables)."""
    import legal_document_ocr_spark.queries as Q

    for name in ["spearman_rho", "avg_precision"]:
        plan = _plan(Q.SPARK[name](spark, SF))
        # the per-tie row_number windows must be hash-partitioned
        assert "hashpartitioning" in plan, f"{name}:\n{plan}"
        # every SinglePartition exchange must feed off an aggregated
        # (bounded) subtree — i.e. sit above a HashAggregate — never
        # collect the raw corpus scan into one task. The plan string
        # nests children below their parents, so a SinglePartition
        # whose following lines reach a Scan before any HashAggregate
        # would be a corpus-wide single-task window.
        lines = plan.splitlines()
        for i, ln in enumerate(lines):
            if "Exchange SinglePartition" not in ln:
                continue
            seen_agg = False
            for nxt in lines[i + 1:]:
                if "HashAggregate" in nxt:
                    seen_agg = True
                    break
                if "Scan parquet" in nxt or "FileScan" in nxt:
                    break
            assert seen_agg, f"{name}: SinglePartition over raw scan\n{plan}"


def test_benford_deviation_hand_checked(spark):
    """Digits of [1, 1, 19, 23, 300, 9]: three leading 1s out of six ->
    obs 500000 vs Benford 301030; absent digits emit fixed 0-count
    rows with dev = -expected."""
    from legal_document_ocr_spark.operators.relational import (
        BENFORD_MICRO,
        benford_deviation,
    )

    df = spark.createDataFrame(
        [(v,) for v in (1, 1, 19, 23, 300, 9)], "n_chars long"
    )
    got = {
        r["digit"]: (r["n"], r["obs_ppm"], r["dev_ppm"])
        for r in benford_deviation(df, "n_chars").collect()
    }
    assert len(got) == 9
    assert got[1] == (3, 500000, 500000 - 301030)
    assert got[2] == (1, 166666, 166666 - 176091)
    assert got[4] == (0, 0, -BENFORD_MICRO[3])
    assert got[9] == (1, 166666, 166666 - 45757)


def test_runs_test_hand_checked(spark):
    """[1,1,0,0,1,1] over contiguous ids: 3 runs, mu = 16/6 + 1,
    var = 160/180 — z replicated with the same pinned float order. A
    perfectly alternating sequence maximizes runs (z > 0)."""
    import math

    from legal_document_ocr_spark.operators.relational import runs_test

    flags = [1, 1, 0, 0, 1, 1]
    df = spark.createDataFrame(
        [(i, y) for i, y in enumerate(flags)], "doc_id long, y long"
    )
    r = runs_test(df, F.col("y") == 1).collect()[0]
    assert (r["n0"], r["n1"], r["n_runs"]) == (2, 4, 3)
    n0, n1 = 2.0, 4.0
    n = n0 + n1
    mu = 2.0 * n0 * n1 / n + 1
    var = (2.0 * n0 * n1) * (2.0 * n0 * n1 - n) / (n * n * (n - 1))
    assert r["z_micro"] == math.floor((3.0 - mu) / math.sqrt(var) * 1000000)
    alt = spark.createDataFrame(
        [(i, i % 2) for i in range(8)], "doc_id long, y long"
    )
    assert runs_test(alt, F.col("y") == 1).collect()[0]["z_micro"] > 0


def test_grid_dbscan_hand_checked(spark):
    """2-bit lattice, min_pts=2: sign cells (-,-) x3 and (+,-) x2 are
    Hamming-1 adjacent -> ONE cluster of 5 points across 2 cells; the
    lone (-,+) point is noise. Diagonal cells (Hamming-2) do NOT merge."""
    from legal_document_ocr_spark.operators.similarity import grid_dbscan

    rows = [
        (1, [-1.0, -1.0]), (2, [-2.0, -1.0]), (3, [-1.0, -3.0]),
        (4, [1.0, -1.0]), (5, [2.0, -2.0]),
        (6, [-1.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = [
        (r["cluster_id"], r["n_buckets"], r["n_points"])
        for r in grid_dbscan(df, bucket_dims=2, min_pts=2).collect()
    ]
    assert got == [(-1, 1, 1), (0, 2, 5)]
    diag = spark.createDataFrame(
        [(1, [-1.0, -1.0]), (2, [-1.0, -2.0]), (3, [-2.0, -1.0]),
         (4, [1.0, 1.0]), (5, [2.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    got2 = [
        (r["cluster_id"], r["n_buckets"], r["n_points"])
        for r in grid_dbscan(diag, bucket_dims=2, min_pts=2).collect()
    ]
    assert got2 == [(-1, 0, 0), (0, 1, 3), (3, 1, 2)]


def test_novelty_curve_hand_checked(spark):
    """doc0 'a b c d' births both its shingles; doc1 repeats one of
    them (0 novel); doc2 is fresh. Bucket 1 = {doc0}, bucket 2 =
    {doc1, doc2} -> novelty 1e6 then 5e5, cum types 2 then 3."""
    from legal_document_ocr_spark.operators.textops import novelty_curve

    df = spark.createDataFrame(
        [(0, "a b c d"), (1, "a b c"), (2, "x y z")],
        "doc_id long, text string",
    )
    got = [
        (r["bucket"], r["n_docs"], r["types_seen"], r["types_new"],
         r["types_cum"], r["novelty_ppm"])
        for r in novelty_curve(df, k=3).collect()
    ]
    assert got == [(1, 1, 2, 2, 2, 1000000), (2, 2, 2, 1, 3, 500000)]


def test_heaps_law_matches_python_replication(spark):
    """Nested trailing-zero subsamples replicated in Python with the
    same md5 convention: per-level doc counts match exactly, level 0 is
    the full corpus, and the curve is monotone non-increasing."""
    import hashlib

    from legal_document_ocr_spark.operators.textops import heaps_law

    docs = [(i, f"w{i % 7} w{i % 3} common") for i in range(40)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = heaps_law(df, levels=4).orderBy("level").collect()

    def kd(doc):
        hb = int(hashlib.md5(f"hl|{doc}".encode()).hexdigest()[:15], 16) % 16
        return max((j for j in range(5) if hb % (1 << j) == 0), default=0)

    ks = {i: kd(i) for i, _ in docs}
    for r in rows:
        lv = r["level"]
        member = [i for i in ks if ks[i] >= lv]
        assert r["n_docs"] == len(member)
        assert r["n_tokens"] == 3 * len(member)
        vocab = {w for i in member for w in docs[i][1].split()}
        assert r["vocab"] == len(vocab)
    assert rows[0]["n_docs"] == 40 and rows[0]["vocab"] == 8
    vs = [r["vocab"] for r in rows]
    assert vs == sorted(vs, reverse=True)


def test_event_acf_hand_checked(spark):
    """Period-4 daily counts [1,2,3,4]x3: lag-4 autocorrelation is
    exactly 1 (identical series), lag-2 is strongly negative —
    expectations replicated with the same pinned float op order."""
    import datetime
    import math

    from legal_document_ocr_spark.operators.sequences import event_acf

    counts = [1, 2, 3, 4] * 3
    rows = []
    eid = 0
    for d, c in enumerate(counts):
        for _ in range(c):
            rows.append(
                (eid, datetime.datetime(2024, 1, 1 + d, 12, 0, 0))
            )
            eid += 1
    df = spark.createDataFrame(rows, "event_id long, ts timestamp")
    got = {
        r["lag"]: (r["n_pairs"], r["r_micro"])
        for r in event_acf(df, max_lag=4).collect()
    }

    def pearson(lag):
        xs = counts[:-lag]
        ys = counts[lag:]
        n = float(len(xs))
        sx, sy = float(sum(xs)), float(sum(ys))
        sxx = float(sum(x * x for x in xs))
        syy = float(sum(y * y for y in ys))
        sxy = float(sum(x * y for x, y in zip(xs, ys)))
        num = n * sxy - sx * sy
        den = math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy)
        return math.floor(num / den * 1000000)

    for lag in (1, 2, 3, 4):
        assert got[lag] == (12 - lag, pearson(lag)), lag
    # FP: floor((num/den)*1e6) of an exact-1 correlation lands on
    # 999999 or 1000000 depending on the sqrt rounding — both engines
    # agree (the replication above pins the exact value)
    assert got[4][1] >= 999999 and got[2][1] < -500000


def test_cdc_apply_hand_checked(spark):
    """Base {1:10, 2:20, 3:30}; changelog: k=2 seq1 U->25 then seq2
    D (last-writer-wins delete), k=3 seq1 U->31 then seq2 U->32,
    k=9 seq1 insert 90. Result keeps 1 as base, drops 2, updates 3
    to the LATEST value, inserts 9."""
    from legal_document_ocr_spark.operators.relational import cdc_apply

    base = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "doc_id long, n_chars long"
    )
    ch = spark.createDataFrame(
        [
            (2, 1, "U", 25),
            (2, 2, "D", 0),
            (3, 1, "U", 31),
            (3, 2, "U", 32),
            (9, 1, "U", 90),
        ],
        "doc_id long, seq long, op string, n_chars long",
    )
    got = [
        (r["doc_id"], r["n_chars"], r["origin"])
        for r in cdc_apply(base, ch).collect()
    ]
    assert got == [(1, 10, "base"), (3, 32, "update"), (9, 90, "insert")]


def test_cdc_apply_plan_no_broadcast(spark):
    """Both CDC join sides are corpus-sized: the merge join must be
    ShuffledHashJoin, never a broadcast."""
    from legal_document_ocr_spark.operators.relational import cdc_apply

    base = spark.range(100).select(
        F.col("id").alias("doc_id"), (F.col("id") * 3).alias("n_chars")
    )
    ch = spark.range(0, 100, 7).select(
        F.col("id").alias("doc_id"),
        F.lit(1).alias("seq"),
        F.lit("U").alias("op"),
        F.lit(5).cast("long").alias("n_chars"),
    )
    plan = cdc_apply(base, ch)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan
    assert "ShuffledHashJoin" in plan


def test_cusum_changepoint_hand_checked(spark):
    """Daily counts [1,1,1,5,5]: stat_k = |5*S_k - 13k| = [8,16,24,12]
    -> the max sits at k=3, the last day BEFORE the level shift."""
    from datetime import datetime, timezone

    from legal_document_ocr_spark.operators.sequences import (
        cusum_changepoint,
    )

    rows = []
    for day, n in enumerate([1, 1, 1, 5, 5]):
        for i in range(n):
            rows.append(
                (datetime.fromtimestamp(day * 86400 + i, tz=timezone.utc),)
            )
    df = spark.createDataFrame(rows, "ts timestamp")
    got = [
        (r["day"], r["k"], r["cum"], r["stat"])
        for r in cusum_changepoint(df, top_k=2).collect()
    ]
    assert got == [(2, 3, 3, 24), (1, 2, 2, 16)]


def test_good_turing_hand_checked(spark):
    """'a b c a b c a b d': 3-shingles count 2,2,2,1 -> N_1=1, N_2=3;
    r*=1 smooths to 2*N_2/N_1 = 6.0 (6e6 micro), r=2 has no N_3."""
    from legal_document_ocr_spark.operators.textops import good_turing

    df = spark.createDataFrame([("a b c a b c a b d",)], "text string")
    got = [
        (r["r"], r["n_r"], r["n_r_next"], r["r_star_micro"])
        for r in good_turing(df, shingle_k=3).collect()
    ]
    assert got == [(1, 1, 3, 6000000), (2, 3, 0, 0)]


def test_content_type_census_hand_checked(spark):
    """PNG magic sniffs image/png regardless of header; '<' payloads
    sniff text/html; unknown leading bytes fall through to
    octet-stream. Census counts (declared, sniffed) with mismatch."""
    from legal_document_ocr_spark.operators.multimodal import (
        content_type_census,
        sniff_content_type,
    )

    rows = [
        (b"\x89PNG\r\n\x1a\njunk", "image/png"),
        (b"\x89PNG\r\n\x1a\nmore", "text/plain"),
        (b"<html><body>", "text/html"),
        (b"hello world", "text/plain"),
        (b"GIF89a\x00", "image/png"),
    ]
    df = spark.createDataFrame(rows, "payload binary, declared string")
    sniffed = {
        r["declared"] + "|" + str(r["payload"][:4]): r["sniffed"]
        for r in sniff_content_type(df).collect()
    }
    assert sniffed["image/png|" + str(b"\x89PNG")] == "image/png"
    assert sniffed["text/html|" + str(b"<htm")] == "text/html"
    assert sniffed["text/plain|" + str(b"hell")] == "application/octet-stream"
    got = [
        (r["declared"], r["sniffed"], r["n"], r["mismatch"])
        for r in content_type_census(df).collect()
    ]
    assert got == [
        ("image/png", "image/gif", 1, 1),
        ("image/png", "image/png", 1, 0),
        ("text/html", "text/html", 1, 0),
        ("text/plain", "application/octet-stream", 1, 1),
        ("text/plain", "image/png", 1, 1),
    ]


def test_mcnemar_filters_hand_checked(spark):
    """A-only=4, B-only=1: chi2 = (|4-1|-1)^2/(4+1) = 4/5 = 0.8."""
    from legal_document_ocr_spark.operators.relational import (
        mcnemar_filters,
    )

    rows = (
        [(1, 1)] * 3  # both pass
        + [(1, 0)] * 4  # A only
        + [(0, 1)] * 1  # B only
        + [(0, 0)] * 2  # neither
    )
    df = spark.createDataFrame(rows, "a long, b long")
    r = mcnemar_filters(df, F.col("a") == 1, F.col("b") == 1).collect()[0]
    assert (r["n"], r["n_both"], r["a_only"], r["b_only"], r["neither"]) == (
        10, 3, 4, 1, 2,
    )
    assert r["chi2_micro"] == (3 - 1) ** 2 * 1000000 // 5
    tie = spark.createDataFrame([(1, 0), (0, 1)], "a long, b long")
    assert (
        mcnemar_filters(tie, F.col("a") == 1, F.col("b") == 1)
        .collect()[0]["chi2_micro"]
        == 0
    )


def test_mlm_mask_plan_invariants(spark):
    """Counts are consistent (masked = mask+keep+random <= tokens) and
    seed-stable: the same doc twice gets the identical plan."""
    from legal_document_ocr_spark.operators.textops import mlm_mask_plan

    df = spark.createDataFrame(
        [(7, "the quick brown fox jumps over the lazy dog " * 20)],
        "doc_id long, text string",
    )
    r = mlm_mask_plan(df).collect()[0]
    assert r["n_tokens"] == 180
    assert r["n_masked"] == r["n_mask"] + r["n_keep"] + r["n_random"]
    assert 0 < r["n_masked"] < r["n_tokens"]
    again = mlm_mask_plan(df).collect()[0]
    assert r == again


def test_purity_eval_hand_checked(spark):
    """Clusters {a:(f1,f1,f2)}, {b:(f2,f2)}: s_p = 2+2 = 4,
    s_i = max-per-family 2+2 = 4, purity = inverse = 4/5."""
    from legal_document_ocr_spark.operators.dedup import purity_eval

    assign = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (4, 20), (5, 20)],
        "doc_id long, cluster_id long",
    )
    truth = spark.createDataFrame(
        [(1, 100), (2, 100), (3, 200), (4, 200), (5, 200)],
        "doc_id long, family_id long",
    )
    r = purity_eval(assign, truth).collect()[0]
    assert (r["n_docs"], r["s_purity"], r["s_inverse"]) == (5, 4, 4)
    assert r["purity_micro"] == 800000
    assert r["inverse_micro"] == 800000
    assert r["f_micro"] == 800000


def test_theil_index_hand_checked(spark):
    """Group counts [1,1,2]: H=3, T=4 -> Theil = (1/T)·Σ m·x·ln(x·H/T)
    with 6-dp-rounded logs, exactly as both engines compute it."""
    import math

    from legal_document_ocr_spark.operators.relational import theil_index

    df = spark.createDataFrame(
        [(1, "h1"), (2, "h2"), (3, "h3"), (4, "h3")],
        "doc_id long, source string",
    )
    r = theil_index(df, "source").collect()[0]
    assert (r["n_groups"], r["n_docs"]) == (3, 4)
    s = 2 * 1 * round(math.log(1 * 3 / 4), 6) + 1 * 2 * round(
        math.log(2 * 3 / 4), 6
    )
    assert r["theil_micro"] == math.floor(s / 4 * 1000000)
    even = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "doc_id long, source string"
    )
    assert theil_index(even, "source").collect()[0]["theil_micro"] == 0


def test_symspell_variants_hand_checked(spark):
    """cat/cart share the deletion 'cat'; cat/cab share 'ca'
    (substitution); cab/cart are distance 2 and must NOT pair."""
    from legal_document_ocr_spark.operators.textops import symspell_variants

    vocab = spark.createDataFrame(
        [("cat", 5), ("cart", 2), ("cab", 1), ("dog", 3)],
        "token string, n long",
    )
    got = [
        (r["tok_a"], r["tok_b"], r["n_a"], r["n_b"])
        for r in symspell_variants(vocab).collect()
    ]
    assert got == [("cab", "cat", 1, 5), ("cart", "cat", 2, 5)]


def test_hapax_share_hand_checked(spark):
    """'a b c a b c x y z' -> 7 shingles, 6 types, 5 hapax."""
    from legal_document_ocr_spark.operators.textops import hapax_share

    df = spark.createDataFrame(
        [("s1", "a b c a b c x y z")], "source string, text string"
    )
    r = hapax_share(df).collect()[0]
    assert (r["n_types"], r["n_hapax"]) == (6, 5)
    assert r["hapax_micro"] == 5 * 1000000 // 6


def test_burrows_delta_hand_checked(spark):
    """Identical sources are distance 0; both sit equally far from the
    inverted source, and that distance is strictly positive."""
    from legal_document_ocr_spark.operators.textops import burrows_delta

    df = spark.createDataFrame(
        [("A", "x x y"), ("B", "x x y"), ("C", "y y x")],
        "source string, text string",
    )
    got = {
        (r["src_a"], r["src_b"]): r["delta_micro"]
        for r in burrows_delta(df, "source", k=10).collect()
    }
    assert got[("A", "B")] == 0
    assert got[("A", "C")] == got[("B", "C")] > 0


def test_markov_stationary_hand_checked(spark):
    """P = [[1/2, 1/2], [1, 0]]: stationary is (2/3, 1/3); after 8
    exact power-iteration rounds from uniform, x_A = 0.666015625."""
    from datetime import datetime, timezone

    from legal_document_ocr_spark.operators.sequences import (
        markov_stationary,
    )

    def ts(i):
        return datetime.fromtimestamp(1000 + i, tz=timezone.utc)

    rows = [
        (1, 1, ts(0), "A"),
        (1, 2, ts(1), "A"),
        (1, 3, ts(2), "B"),
        (1, 4, ts(3), "A"),
        (2, 5, ts(0), "B"),
        (2, 6, ts(1), "A"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, event_type string"
    )
    got = {
        r["event_type"]: r["p_micro"]
        for r in markov_stationary(df, iters=8).collect()
    }
    assert got == {"A": 666015, "B": 333984}


def test_chao1_richness_hand_checked(spark):
    """'a b c a b c a b d': types (2,2,2,1) -> S=4, N1=1, N2=3;
    the bias-corrected correction N1(N1-1)/(2(N2+1)) vanishes at N1=1."""
    from legal_document_ocr_spark.operators.textops import chao1_richness

    df = spark.createDataFrame([("a b c a b c a b d",)], "text string")
    r = chao1_richness(df, shingle_k=3).collect()[0]
    assert (r["s_obs"], r["n1"], r["n2"]) == (4, 1, 3)
    assert r["chao1_micro"] == 4 * 1000000
    two = spark.createDataFrame(
        [("a b c x y z",), ("a b c p q r",)], "text string"
    )
    r2 = chao1_richness(two, shingle_k=3).collect()[0]
    # 8 shingles: 'a b c' twice, six singletons -> S=7, N1=6, N2=1
    assert (r2["s_obs"], r2["n1"], r2["n2"]) == (7, 6, 1)
    assert r2["chao1_micro"] == 7 * 1000000 + (6 * 5 * 1000000) // 4


def test_emd_drift_hand_checked(spark):
    """Identical distributions -> EMD 0; a group whose mass all sits
    one bucket above the rest -> EMD = 1 (one full bucket of travel)."""
    from legal_document_ocr_spark.operators.relational import emd_drift

    same = spark.createDataFrame(
        [("a", 10), ("a", 100), ("b", 10), ("b", 100)],
        "source string, n_chars long",
    )
    got = {
        r["source"]: r["emd_micro"] for r in emd_drift(same).collect()
    }
    assert got == {"a": 0, "b": 0}
    # buckets: bin(3+1)=100 -> len 3; bin(5+1)=110 -> len 3; bin(8+1)=1001 -> 4
    shift = spark.createDataFrame(
        [("a", 3), ("a", 5), ("b", 8), ("b", 8)],
        "source string, n_chars long",
    )
    got2 = {
        r["source"]: r["emd_micro"] for r in emd_drift(shift).collect()
    }
    assert got2 == {"a": 1000000, "b": 1000000}


def test_query_likelihood_hand_checked(spark):
    """Two docs, query ['x']: cf=3, C=6, mup = 2000*3/6 = 1000.
    score(d) = round(ln((tf+1000)/1000),12) + round(ln(1000),12)
    - round(ln(dl+2000),12); doc with higher tf and equal dl wins."""
    import math

    from legal_document_ocr_spark.operators.textops import query_likelihood

    df = spark.createDataFrame(
        [(1, "x x y"), (2, "x y z")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r for r in query_likelihood(df, ["x"]).collect()
    }
    assert got[1]["dl"] == 3 and got[2]["dl"] == 3
    assert got[1]["score_micro"] > got[2]["score_micro"]

    def score(tf, dl):
        mup = 2000.0 * (3.0 / 6.0) * 1  # cf=3, C=6 -> mup=1000
        s = (
            round(math.log((tf + mup) / mup), 12)
            + round(math.log(mup), 12)
            - round(math.log(dl + 2000.0), 12)
        )
        return math.floor(s * 1000000)

    assert got[1]["score_micro"] == score(2, 3)
    assert got[2]["score_micro"] == score(1, 3)


def test_interarrival_stats_hand_checked(spark):
    """User 1 'A' at t=0,10,40 -> gaps 10,30: n=2, sum=40,
    mean 20e6, lambda = 2e6//40 = 50000."""
    from datetime import datetime, timezone

    from legal_document_ocr_spark.operators.sequences import (
        interarrival_stats,
    )

    def ts(t):
        return datetime.fromtimestamp(t, tz=timezone.utc)

    rows = [
        (1, 1, ts(0), "A"),
        (1, 2, ts(10), "A"),
        (1, 3, ts(40), "A"),
        (2, 4, ts(5), "B"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, event_type string"
    )
    got = [
        (r["event_type"], r["n_gaps"], r["sum_gap"], r["mean_gap_micro"],
         r["lambda_micro"])
        for r in interarrival_stats(df).collect()
    ]
    assert got == [("A", 2, 40, 20000000, 50000)]


def test_pps_sample_hand_checked(spark):
    """Total 1300, n_target=13 -> step 100: the 1000-char doc is hit
    10x its smaller peers; multiplicities replicate the md5-order
    layout exactly and sum to ~n_target."""
    import hashlib

    from legal_document_ocr_spark.operators.sampling import pps_sample

    sizes = {1: 100, 2: 1000, 3: 100, 4: 100}
    df = spark.createDataFrame(
        list(sizes.items()), "doc_id long, n_chars long"
    )
    got = {
        r["doc_id"]: (r["start_offset"], r["m"])
        for r in pps_sample(df, n_target=13).collect()
    }
    order = sorted(
        sizes,
        key=lambda d: (
            int(hashlib.md5(str(d).encode()).hexdigest()[:15], 16),
            d,
        ),
    )
    off, step, want = 0, 1300 // 13, {}
    for d in order:
        m = (off + sizes[d]) // step - off // step
        if m >= 1:
            want[d] = (off, m)
        off += sizes[d]
    assert got == want
    assert got[2][1] == 10


def test_pair_threshold_curve_monotone_and_anchored(spark):
    """Counts are non-increasing in the threshold, and the 0.5 level
    equals the verified_near_dups pair count at threshold 0.5."""
    from legal_document_ocr_spark.operators.dedup import (
        pair_threshold_curve,
        verified_near_dups,
    )

    base = [
        "the quick brown fox jumps over the lazy dog again and again",
        "pack my box with five dozen liquor jugs before noon today",
        "sphinx of black quartz judge my vow said the old teacher",
    ]
    rows = []
    for i, t in enumerate(base):
        rows.append((i, t))
        rows.append((100 + i, t + " tail"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    curve = {
        r["threshold_micro"]: r["n_pairs"]
        for r in pair_threshold_curve(df).collect()
    }
    levels = sorted(curve)
    assert all(
        curve[levels[i]] >= curve[levels[i + 1]]
        for i in range(len(levels) - 1)
    )
    n_05 = verified_near_dups(df, threshold=0.5).count()
    assert curve[500000] == n_05 > 0


def test_cms_error_audit_never_undercounts(spark):
    """CMS estimates dominate exact counts: overestimate >= 0 on every
    probed term, and est == exact when the sketch has no collisions
    (tiny vocabulary)."""
    from legal_document_ocr_spark.operators.dedup import cms_error_audit

    df = spark.createDataFrame(
        [("the cat sat on the mat",), ("the dog sat down",)],
        "text string",
    )
    rows = cms_error_audit(df, ["the", "sat", "zebra"]).collect()
    got = {r["term"]: (r["exact_count"], r["est_count"], r["overestimate"])
           for r in rows}
    assert got["the"][0] == 3 and got["sat"][0] == 2
    assert got["zebra"][0] == 0
    assert all(v[2] >= 0 for v in got.values())
    assert all(v[1] == v[0] + v[2] for v in got.values())


def test_bloom_fpr_audit_hand_checked(spark):
    """Members are always candidates (no false negatives); the census
    identities hold: candidates = listed + false positives."""
    from legal_document_ocr_spark.operators.relational import (
        bloom_fpr_audit,
    )

    probe = spark.range(200).select(
        F.col("id").alias("doc_id"), F.md5(F.col("id").cast("string")).alias("fp")
    )
    build = probe.where(F.col("doc_id") % 10 == 0).select("fp")
    r = bloom_fpr_audit(probe, build, "fp", "doc_id").collect()[0]
    assert r["n_probe"] == 200
    assert r["n_listed"] == 20
    assert r["n_candidates"] == r["n_listed"] + r["n_false_positive"]
    assert r["fpr_micro"] == r["n_false_positive"] * 1000000 // 180


def test_prefix_filter_pairs_complete_vs_exact(spark):
    """Prefix filtering is EXACT: on a corpus with planted near-dups,
    the pair set equals the brute-force shingle-join pair set."""
    from legal_document_ocr_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_filter_pairs,
    )

    rows = []
    for i in range(20):
        base = f"alpha bravo charlie delta echo foxtrot {i} golf hotel india"
        rows.append((i, base))
        if i % 4 == 0:
            rows.append((100 + i, base + " juliet"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in prefix_filter_pairs(df).collect()
    }
    want = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in ngram_jaccard_pairs(df, threshold=0.5).collect()
    }
    assert got == want
    assert len(got) >= 5
    identical = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e"), (3, "p q r s t")],
        "doc_id long, text string",
    )
    pairs = prefix_filter_pairs(identical).collect()
    assert [(r["id_a"], r["id_b"], r["jaccard"]) for r in pairs] == [
        (1, 2, 1.0)
    ]


def test_hll_rolling_distinct_merge_property(spark):
    """The rolling estimate for day d equals hll_distinct_by run on the
    union of the covering days' raw events — merging register tables
    IS re-sketching the union (max is associative)."""
    from datetime import datetime, timezone

    from legal_document_ocr_spark.operators.dedup import (
        hll_rolling_distinct,
    )

    def ts(day, i):
        return datetime.fromtimestamp(day * 86400 + i, tz=timezone.utc)

    rows = []
    for day in range(3):
        for u in range(day * 40, day * 40 + 50):  # 10-user overlap/day
            rows.append((u, ts(day, u % 86400)))
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {
        r["day"]: r["est_distinct"]
        for r in hll_rolling_distinct(df, window_days=7).collect()
    }
    assert set(got) == {0, 1, 2}
    # day 2 covers all three days: 130 distinct users; HLL at m=256
    # should land within ~15% of truth for this cardinality
    assert abs(got[2] - 130) / 130 < 0.15
    # monotone coverage: day 2's window is a superset of day 0's
    assert got[2] >= got[0]


def test_partition_agreement_hand_checked(spark):
    """Identical partitions give Rand 1.0; a fully merged vs fully
    split pair of keys gives Rand = fraction of both-different pairs."""
    from legal_document_ocr_spark.operators.dedup import (
        partition_agreement,
    )

    df = spark.createDataFrame(
        [("a", "x", 1), ("a", "x", 2), ("b", "y", 3), ("b", "z", 4)],
        "k1 string, k2 string, k3 long",
    )
    got = {
        (r["key_a"], r["key_b"]): r["rand_micro"]
        for r in partition_agreement(df, ["k1", "k2", "k3"]).collect()
    }
    # k1 vs k2: cells (a,x):2 (b,y):1 (b,z):1 -> joint=1, s_a=1+1=2,
    # s_b=1, T=6 -> rand = (6-2-1+2)/6 = 5/6
    assert got[("k1", "k2")] == 5 * 1000000 // 6
    # k3 splits everything: vs k1 -> joint=0, s_a=2, s_b=0
    # rand = (6-2-0+0)/6 = 2/3
    assert got[("k1", "k3")] == 666666
    # identical partition agrees with itself fully
    same = partition_agreement(
        df.select("k1", F.col("k1").alias("k1b")), ["k1", "k1b"]
    ).collect()[0]
    assert same["rand_micro"] == 1000000


def test_salted_group_counts_equals_direct(spark):
    """Two-phase salted aggregation is algebraically the direct
    groupBy; a group with enough rows spreads over multiple salts."""
    from legal_document_ocr_spark.scale.salt import salted_group_counts

    df = spark.createDataFrame(
        [(i, "hot" if i < 90 else "cold", i * 3) for i in range(100)],
        "doc_id long, source string, n_chars long",
    )
    got = {
        r["source"]: (r["n_docs"], r["sum_value"], r["n_salt_parts"])
        for r in salted_group_counts(df, "source").collect()
    }
    direct = {
        r["source"]: (r["n"], r["s"])
        for r in df.groupBy("source")
        .agg(F.count("*").alias("n"), F.sum("n_chars").alias("s"))
        .collect()
    }
    for g, (n, s, parts) in got.items():
        assert (n, s) == direct[g]
    assert got["hot"][2] > 1  # the hot group actually fanned out


def test_link_locality_hand_checked(spark):
    """One page with 2 internal (same-host + relative) and 1 external
    link -> locality 2/3."""
    from legal_document_ocr_spark.operators.urls import link_locality

    html = (
        '<a href="/about">a</a> '
        '<a href="page.html">b</a> '
        '<a href="https://other.example.org/x">c</a>'
    )
    df = spark.createDataFrame(
        [("https://h1.example.com/p", html)], "url string, html string"
    )
    r = link_locality(df).collect()[0]
    assert r["host"] == "h1.example.com"
    assert (r["n_links"], r["n_internal"], r["n_external"]) == (3, 2, 1)
    assert r["locality_micro"] == 2 * 1000000 // 3


def test_title_dup_census_hand_checked(spark):
    """'Shared' appears on two hosts (3 pages), 'Solo' on one host only
    and must be filtered; empty titles are dropped."""
    from legal_document_ocr_spark.operators.urls import title_dup_census

    def page(host, title):
        return (
            f"https://{host}/p",
            f"<html><head><TITLE>{title}</TITLE></head><body>x</body></html>"
            if title
            else "<html><head></head><body>x</body></html>",
        )

    rows = [
        page("a.com", "Shared"),
        page("a.com", "Shared"),
        page("b.com", "Shared"),
        page("a.com", "Solo"),
        page("c.com", ""),
    ]
    df = spark.createDataFrame(rows, "url string, html string")
    got = [
        (r["title"], r["n_pages"], r["n_hosts"])
        for r in title_dup_census(df).collect()
    ]
    assert got == [("Shared", 3, 2)]


def test_rendezvous_minimal_motion_invariant(spark):
    """HRW re-shard 4 -> 6: every key gets a valid shard, and every moved
    key lands on one of the NEW shards (ids >= 4) — the minimal-motion
    property that makes rendezvous sharding affordable at scale."""
    from legal_document_ocr_spark.scale.layout import rendezvous_assign

    df = spark.range(0, 400).withColumnRenamed("id", "k")
    a = rendezvous_assign(
        rendezvous_assign(df, "k", 4, out_col="s4"), "k", 6, out_col="s6"
    ).collect()
    assert all(0 <= r["s4"] < 4 and 0 <= r["s6"] < 6 for r in a)
    moved = [r for r in a if r["s4"] != r["s6"]]
    assert moved, "growing the fleet must move some keys"
    assert all(r["s6"] >= 4 for r in moved)
    # expected motion ~ 2/6 of keys; allow a generous band
    assert 0.15 < len(moved) / len(a) < 0.55


def test_rendezvous_moves_census_consistent(spark):
    """The census totals must restate the per-key assignment exactly."""
    from legal_document_ocr_spark.scale.layout import (
        rendezvous_assign,
        rendezvous_moves,
    )

    df = spark.range(0, 300).withColumnRenamed("id", "k")
    census = {r["shard_to"]: r for r in rendezvous_moves(df, "k", 8, 9).collect()}
    rows = rendezvous_assign(
        rendezvous_assign(df, "k", 8, out_col="s8"), "k", 9, out_col="s9"
    ).collect()
    assert sum(r["n_docs"] for r in census.values()) == 300
    assert sum(r["n_moved"] for r in census.values()) == sum(
        1 for r in rows if r["s8"] != r["s9"]
    )
    # moves concentrate entirely on the new shard (id 8)
    for shard, r in census.items():
        assert r["n_moved"] == (r["n_docs"] if shard == 8 else 0)


def test_l_diversity_flags_homogeneous_group(spark):
    """A QI group that is large (k-anonymous) but single-valued in the
    sensitive column must be flagged; a diverse group must not."""
    from legal_document_ocr_spark.operators.relational import l_diversity

    rows = [("s1", 1, "en")] * 5 + [
        ("s2", 1, "en"),
        ("s2", 1, "de"),
        ("s2", 1, "fr"),
    ]
    df = spark.createDataFrame(rows, "source string, band long, lang string")
    got = {r["source"]: r for r in
           l_diversity(df, ["source", "band"], "lang", l_min=2).collect()}
    assert got["s1"]["min_l"] == 1
    assert got["s1"]["risky_groups"] == 1 and got["s1"]["risky_rows"] == 5
    assert got["s1"]["risk_ppm"] == 1000000
    assert got["s2"]["min_l"] == 3 and got["s2"]["risky_groups"] == 0


def test_copurchase_pairs_hand_checked(spark):
    """Baskets {1,2,3}, {1,2}, {2,3}: pair (1,2) and (2,3) have support 2,
    (1,3) only 1 and is filtered; duplicate lines in a basket count once."""
    from legal_document_ocr_spark.operators.relational import copurchase_pairs

    rows = [
        (10, 1), (10, 2), (10, 3), (10, 2),  # dup (10,2) must not inflate
        (11, 1), (11, 2),
        (12, 2), (12, 3),
    ]
    df = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    got = {
        (r["part_a"], r["part_b"]): r["n_orders"]
        for r in copurchase_pairs(df, min_support=2).collect()
    }
    assert got == {(1, 2): 2, (2, 3): 2}


def test_hash_walks_hand_checked(spark):
    """Two-node cycle a<->b plus dangling c: walks are fully determined
    (single out-neighbor per node), and c's walk is NULL from step 1."""
    from legal_document_ocr_spark.operators.graph import hash_walks

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("b", "c")], "src string, dst string"
    )
    got = {r["start"]: r for r in hash_walks(edges, steps=3).collect()}
    assert set(got) == {"a", "b"}
    # a -> b always; b picks argmin md5('b#s#a') vs md5('b#s#c') per step
    import hashlib

    def pick(v, s, cands):
        return min(cands, key=lambda d: hashlib.md5(f"{v}#{s}#{d}".encode()).hexdigest())

    b1 = pick("b", 2, ["a", "c"])
    assert got["a"]["h1"] == "b" and got["a"]["h2"] == b1
    if b1 == "c":
        assert got["a"]["h3"] is None  # c is dangling
    bb = pick("b", 1, ["a", "c"])
    assert got["b"]["h1"] == bb


def test_revalidation_plan_precedence(spark):
    """no-store forces full_fetch even with a validator; etag beats
    last-modified; validator-less rows are full fetches."""
    from legal_document_ocr_spark.operators.urls import revalidation_plan

    rows = [
        ("h", "e1", "lm", "no-store", 10),
        ("h", "e2", None, "max-age=60", 20),
        ("h", None, "lm", None, 40),
        ("h", None, None, "max-age=60", 80),
    ]
    df = spark.createDataFrame(
        rows,
        "host string, etag string, last_modified string, "
        "cache_control string, content_length long",
    )
    got = {
        r["plan"]: (r["n_urls"], r["total_bytes"])
        for r in revalidation_plan(df).collect()
    }
    assert got == {
        "full_fetch": (2, 90),
        "conditional_etag": (1, 20),
        "conditional_modified": (1, 40),
    }


def test_rocchio_expansion_hand_checked(spark):
    """Docs 1,2 match both query terms (pseudo-relevant); doc 3 matches
    one and is excluded — expansion counts come from docs 1,2 only."""
    from legal_document_ocr_spark.operators.textops import rocchio_expansion

    rows = [
        (1, "alpha beta kiwi kiwi mango"),
        (2, "alpha beta mango"),
        (3, "alpha kiwi kiwi kiwi kiwi"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = [
        (r["token"], r["score"], r["rank"])
        for r in rocchio_expansion(df, ["alpha", "beta"], min_hits=2).collect()
    ]
    assert got == [("kiwi", 2, 1), ("mango", 2, 2)]


def test_coverage_curve_hand_checked(spark):
    """4 docs, lengths 1..4, 2 buckets: threshold t1=2 t2=4; 'common'
    first appears in bucket 1; 'rare' only in the length-4 doc ->
    bucket 2. Cumulative shares: 2/3 then 3/3."""
    from legal_document_ocr_spark.operators.textops import coverage_curve

    rows = [
        (1, "common a"),
        (2, "common a"),
        (3, "common a"),
        (4, "common rare"),
    ]
    df = spark.createDataFrame(rows, "n_chars long, text string")
    got = [
        (r["bucket"], r["n_new_terms"], r["cum_terms"], r["cum_share_ppm"])
        for r in coverage_curve(df, n_buckets=2).orderBy("bucket").collect()
    ]
    assert got == [(1, 2, 2, 666666), (2, 1, 3, 1000000)]


def test_dow_seasonality_hand_checked(spark):
    """Three Mondays and one Sunday of type 'click' -> shares 750000 /
    250000; dow is 0=Sunday..6=Saturday."""
    import datetime

    from legal_document_ocr_spark.operators.relational import dow_seasonality

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    mon = datetime.datetime(2026, 8, 17, 12, 0, 0)
    sun = datetime.datetime(2026, 8, 16, 12, 0, 0)
    rows = [(mon, "click"), (mon, "click"), (mon, "click"), (sun, "click")]
    df = spark.createDataFrame(rows, "ts timestamp, event_type string")
    got = {
        r["dow"]: (r["n"], r["share_ppm"])
        for r in dow_seasonality(df).collect()
    }
    assert got == {1: (3, 750000), 0: (1, 250000)}


def test_index_pruning_hand_checked(spark):
    """'hot' is top-1 in both docs (kept twice); 'cold' ranks below
    keep_k=1 in both (kept never)."""
    from legal_document_ocr_spark.operators.textops import index_pruning

    rows = [
        (1, "hot hot cold"),
        (2, "hot hot hot cold"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["token"]: (r["df_full"], r["df_pruned"], r["kept_ppm"])
        for r in index_pruning(df, keep_k=1, min_df=2).collect()
    }
    assert got == {"hot": (2, 2, 1000000), "cold": (2, 0, 0)}


def test_greedy_cover_hand_checked(spark):
    """Greedy picks doc 2 (3 terms), then doc 1 adds 'a' (1 new;
    tie with doc 3 on gain broken by doc_id), then doc 3 adds 'e'."""
    from legal_document_ocr_spark.operators.textops import greedy_cover

    rows = [
        (1, "a b"),
        (2, "b c d"),
        (3, "c e"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = [
        (r["round"], r["doc_id"], r["new_terms"], r["cum_terms"])
        for r in greedy_cover(df, rounds=5).orderBy("round").collect()
    ]
    assert got == [(1, 2, 3, 3), (2, 1, 1, 4), (3, 3, 1, 5)]


def test_pagerank_convergence_deltas_shrink(spark):
    """On the 3-cycle the rank is exactly stationary (uniform), so
    iterations 2 and 3 publish identical floor-nano ranks."""
    from legal_document_ocr_spark.operators.graph import pagerank_convergence

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    rows = pagerank_convergence(edges, iters=3).collect()
    assert len(rows) == 3
    assert all(r["delta_nano"] == 0 for r in rows)
    assert all(r["rank_nano"] == 333333333 for r in rows)


def test_dehyphenate_hand_checked(spark):
    """Lowercase line-break hyphens rejoin; capitalized continuations
    (real compounds) keep the hyphen; n_joins counts repairs."""
    from legal_document_ocr_spark.operators.textops import dehyphenate

    rows = [
        (1, "exam-\nple and be-\nlow"),
        (2, "well-\nKnown stays"),
        (3, "no breaks here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["text_fixed"], r["n_joins"])
           for r in dehyphenate(df).collect()}
    assert got[1] == ("example and below", 2)
    assert got[2] == ("well-\nKnown stays", 0)
    assert got[3] == ("no breaks here", 0)


def test_pagination_extract_hand_checked(spark):
    from legal_document_ocr_spark.operators.urls import pagination_extract

    rows = [
        (1, "body Page 3 of 7"),
        (2, "body Page 7 of 7"),
        (3, "no marker"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["page_no"], r["total_pages"], r["is_last"])
           for r in pagination_extract(df).collect()}
    assert got[1] == (3, 7, False)
    assert got[2] == (7, 7, True)
    assert got[3] == (None, None, None)


def test_breadcrumb_census_hand_checked(spark):
    from legal_document_ocr_spark.operators.urls import breadcrumb_census

    rows = [
        ("Home > news > a",),
        ("Home > news > b > c",),
        ("orphan trail",),
    ]
    df = spark.createDataFrame(rows, "breadcrumb string")
    got = {(r["section"], r["depth"]): r["n_pages"]
           for r in breadcrumb_census(df).collect()}
    assert got == {("news", 3): 1, ("news", 4): 1}


def test_page_series_gaps_hand_checked(spark):
    """Series 1 has pages {1,3} of 3 -> 1 missing; series 2 complete;
    series 3 has no markers -> NULL totals."""
    from legal_document_ocr_spark.operators.urls import page_series_gaps

    rows = [
        (1, 1, 3), (1, 3, 3),
        (2, 1, 2), (2, 2, 2),
        (3, None, None),
    ]
    df = spark.createDataFrame(
        rows, "series long, page_no long, total_pages long"
    )
    got = {r["series"]: (r["total_pages"], r["n_found"], r["n_missing"],
                         r["complete"])
           for r in page_series_gaps(df).collect()}
    assert got[1] == (3, 2, 1, False)
    assert got[2] == (2, 2, 0, True)
    assert got[3] == (None, 0, None, None)


def test_canonical_pick_preference_order(spark):
    """https beats http regardless of length; among same-scheme the
    shorter URL wins; ties break lexicographically."""
    from legal_document_ocr_spark.operators.urls import canonical_pick

    rows = [
        ("g1", "http://a/x"),
        ("g1", "https://a-very-long-host.example.com/path"),
        ("g2", "https://a/longer"),
        ("g2", "https://a/b"),
        ("g3", "https://a/b"),
        ("g3", "https://a/a"),
    ]
    df = spark.createDataFrame(rows, "group_key string, url string")
    got = {r["group_key"]: (r["canonical_url"], r["n_members"])
           for r in canonical_pick(df).collect()}
    assert got["g1"] == ("https://a-very-long-host.example.com/path", 2)
    assert got["g2"] == ("https://a/b", 2)
    assert got["g3"] == ("https://a/a", 2)


def test_source_similarity_hand_checked(spark):
    """Sources A and B share one of their shingles; C shares none and
    must be absent from the pair list."""
    from legal_document_ocr_spark.operators.dedup import source_similarity

    rows = [
        ("A", 1, "alpha beta gamma delta"),   # shingles: abg, bgd
        ("B", 2, "alpha beta gamma zeta"),    # shingles: abg, bgz
        ("C", 3, "one two three four"),
    ]
    df = spark.createDataFrame(rows, "source string, doc_id long, text string")
    got = [(r["source_a"], r["source_b"], r["inter"], r["jaccard_ppm"])
           for r in source_similarity(df).collect()]
    assert got == [("A", "B", 1, 333333)]


def test_stitch_series_hand_checked(spark):
    """Series 1 (2 pages of 2) stitches in page order even though rows
    arrive reversed; series 2 misses page 2 of 3 and is dropped."""
    from legal_document_ocr_spark.operators.urls import stitch_series

    rows = [
        (1, 2, 2, "world"),
        (1, 1, 2, "hello"),
        (2, 1, 3, "a"),
        (2, 3, 3, "c"),
        (3, None, None, "no marker"),
    ]
    df = spark.createDataFrame(
        rows, "series long, page_no long, total_pages long, text string"
    )
    got = {r["series"]: (r["stitched_text"], r["n_pages"])
           for r in stitch_series(df).collect()}
    assert got == {1: ("hello world", 2)}


# ---------------------------------------------------------------------------
# gzip-member framing + HTTP codings (session-18)
# ---------------------------------------------------------------------------


def test_dechunk_is_immune_to_crlf_and_fake_markers_in_chunk_data():
    """Chunk DATA containing CRLF, hex-digit lines and a fake last-chunk
    marker must pass through verbatim — the self-describing size walk never
    looks at content (a split-on-CRLF or regex decoder fails this)."""
    from legal_document_ocr_spark.sources.warc import _dechunk_one

    data = b"AB\r\n0\r\n\r\nCD" + b"5\r\nxxxxx\r\n"  # 19 bytes of traps
    enc = (
        hex(len(data))[2:].encode() + b"\r\n" + data + b"\r\n"
        b"3\r\nend\r\n"
        b"0\r\n\r\n"
    )
    body, n_chunks, trailer = _dechunk_one(enc)
    assert body == data + b"end"
    assert n_chunks == 2
    assert trailer is None


def test_dechunk_reads_trailers_and_rejects_torn_framing():
    from legal_document_ocr_spark.sources.warc import _dechunk_one

    with_trailer = b"4\r\nabcd\r\n0\r\nX-Sum: 9\r\nY: z\r\n\r\n"
    body, n, trailer = _dechunk_one(with_trailer)
    assert (body, n, trailer) == (b"abcd", 1, "X-Sum: 9\r\nY: z")

    import pytest as _pytest

    for bad in (
        b"zz\r\nab\r\n0\r\n\r\n",  # non-hex size
        b"9\r\nabcd\r\n0\r\n\r\n",  # truncated chunk data
        b"4\r\nabcdXX0\r\n\r\n",  # missing chunk-data CRLF
        b"4\r\nabcd\r\n0\r\n\r\ntrailing",  # bytes after last-chunk
        b"4\r\nabcd\r\n",  # no last-chunk
    ):
        with _pytest.raises(ValueError):
            _dechunk_one(bad)


def test_dechunk_stage_isolates_malformed_rows(spark):
    """One torn body error-flags its own row; the good row still decodes."""
    from legal_document_ocr_spark.sources.warc import dechunk_http_body

    df = spark.createDataFrame(
        [("u1", b"3\r\nabc\r\n0\r\n\r\n"), ("u2", b"ff\r\nshort\r\n0\r\n\r\n")],
        "url string, body_bytes binary",
    )
    rows = {r["url"]: r for r in dechunk_http_body(df).collect()}
    assert bytes(rows["u1"]["body"]) == b"abc" and rows["u1"]["error"] is None
    assert rows["u2"]["body"] is None
    assert "truncated chunk" in rows["u2"]["error"]


def test_gz_member_offsets_support_random_access(spark):
    """CDX contract: blob[gz_offset : gz_offset+gz_length] must inflate to
    exactly the member's record — seek-and-read without scanning the file."""
    import gzip

    from legal_document_ocr_spark.sources.warc import (
        split_gz_members,
        synthesize_warc_gz_files_df,
    )

    gz = synthesize_warc_gz_files_df(spark, "/root/testdata/sf0.001")
    blobs = {r["warc_file"]: bytes(r["blob"]) for r in gz.collect()}
    members = split_gz_members(gz).collect()
    assert members and all(r["error"] is None for r in members)
    for r in members[:50]:
        blob = blobs[r["warc_file"]]
        sl = blob[r["gz_offset"] : r["gz_offset"] + r["gz_length"]]
        assert gzip.decompress(sl) == bytes(r["payload"])
    # members tile the file exactly: offsets are a running sum of lengths
    by_file: dict = {}
    for r in members:
        by_file.setdefault(r["warc_file"], []).append(r)
    for wf, rs in by_file.items():
        rs.sort(key=lambda r: r["member_idx"])
        pos = 0
        for r in rs:
            assert r["gz_offset"] == pos
            pos += r["gz_length"]
        assert pos == len(blobs[wf])


def test_gz_member_walk_isolates_corruption_and_keeps_prefix(spark):
    """A corrupt member emits its own error row at its offset and ends that
    file's walk; every member before it is recovered intact."""
    import gzip

    from legal_document_ocr_spark.sources.warc import split_gz_members

    m1 = gzip.compress(b"record one", compresslevel=6, mtime=0)
    m2 = gzip.compress(b"record two", compresslevel=6, mtime=0)
    corrupt = bytes([0x1F, 0x8B, 0x08, 0x00]) + b"\xde\xad\xbe\xef" * 4
    blob = m1 + m2 + corrupt
    df = spark.createDataFrame([("f.warc.gz", blob)], "warc_file string, blob binary")
    rows = sorted(split_gz_members(df).collect(), key=lambda r: r["member_idx"])
    assert len(rows) == 3
    assert bytes(rows[0]["payload"]) == b"record one" and rows[0]["error"] is None
    assert bytes(rows[1]["payload"]) == b"record two" and rows[1]["error"] is None
    assert rows[2]["error"] is not None
    assert rows[2]["gz_offset"] == len(m1) + len(m2)


def test_gunzip_dispatches_on_header_not_magic_bytes(spark):
    """An identity body that happens to START with the gzip magic must pass
    through untouched — dispatch reads the declared header only."""
    import gzip

    from legal_document_ocr_spark.sources.warc import decompress_gzip_bodies

    tricky = bytes([0x1F, 0x8B]) + b" not actually gzip"
    df = spark.createDataFrame(
        [
            ("u1", None, tricky),
            ("u2", "gzip", gzip.compress(b"real", compresslevel=6, mtime=0)),
            ("u3", "gzip", b"declared but garbage"),
        ],
        "url string, content_encoding string, body_bytes binary",
    )
    rows = {r["url"]: r for r in decompress_gzip_bodies(df).collect()}
    assert bytes(rows["u1"]["body"]) == tricky and rows["u1"]["was_gzipped"] == 0
    assert bytes(rows["u2"]["body"]) == b"real" and rows["u2"]["was_gzipped"] == 1
    assert rows["u3"]["body"] is None and rows["u3"]["error"] is not None


def test_multipart_parse_is_header_spoof_resistant_and_octet_exact(spark):
    """A payload echoing Content-Disposition text must not spoof part
    headers (headers parse from the part head only), and bytes that do not
    survive a UTF-8 round-trip must come back exact (latin-1 bijection)."""
    from legal_document_ocr_spark.sources.multipart import parse_multipart

    payload = 'x\r\nContent-Disposition: form-data; name="evil"\r\ny'
    binary_field = "\x00\xff\x80 raw"
    body = (
        "--B\r\n"
        'Content-Disposition: form-data; name="file"; filename="a.bin"\r\n'
        "Content-Type: application/octet-stream\r\n\r\n"
        f"{payload}\r\n"
        "--B\r\n"
        'Content-Disposition: form-data; name="note"\r\n\r\n'
        f"{binary_field}\r\n"
        "--B--\r\n"
    ).encode("ISO-8859-1")
    df = spark.createDataFrame(
        [("u1", "B", body)], "upload_id string, boundary string, body_bytes binary"
    )
    rows = sorted(parse_multipart(df).collect(), key=lambda r: r["part_pos"])
    assert [r["name"] for r in rows] == ["file", "note"]
    assert rows[0]["filename"] == "a.bin"
    assert rows[0]["content_type"] == "application/octet-stream"
    assert bytes(rows[0]["payload"]) == payload.encode("ISO-8859-1")
    assert rows[1]["filename"] is None and rows[1]["content_type"] is None
    assert bytes(rows[1]["payload"]) == binary_field.encode("ISO-8859-1")


def test_optout_resolution_precedence_hand_checked(spark):
    """fetch > protocol > markup: the reason names the STRONGEST surface."""
    from legal_document_ocr_spark.operators.urls import optout_resolution

    df = spark.createDataFrame(
        [
            ("u_all", 1, 1, 1),
            ("u_hdr_meta", 0, 1, 1),
            ("u_meta", 0, 0, 1),
            ("u_keep", 0, 0, 0),
        ],
        "url string, robots_disallowed int, header_noindex int, meta_noindex int",
    )
    got = {r["url"]: (r["keep"], r["optout_reason"])
           for r in optout_resolution(df).collect()}
    assert got == {
        "u_all": (0, "robots.txt"),
        "u_hdr_meta": (0, "x-robots-tag"),
        "u_meta": (0, "meta-robots"),
        "u_keep": (1, None),
    }


def test_data_uri_extraction_skips_non_base64_and_empty_pages(spark):
    """Pages without data URIs emit no rows; a non-base64 data URI
    (charset form) is out of scope and must not match."""
    from legal_document_ocr_spark.operators.urls import extract_data_uris

    df = spark.createDataFrame(
        [
            ("u1", '<img src="data:text/plain,plain%20form">'.encode()),
            ("u2", b"<p>no uris at all</p>"),
            ("u3", '<img src="data:image/gif;base64,R0lGOD==">'.encode()),
        ],
        "url string, html binary",
    )
    rows = extract_data_uris(df).collect()
    assert [r["url"] for r in rows] == ["u3"]
    assert rows[0]["mime"] == "image/gif"


def test_idn_decode_handles_mixed_labels_and_isolates_bad_ace(spark):
    from legal_document_ocr_spark.operators.urls import idn_decode_hosts

    df = spark.createDataFrame(
        [("xn--mnchen-3ya.shop.example",), ("plain.example",),
         ("xn--zzzzzz.example",)],
        "host string",
    )
    rows = {r["host"]: r for r in idn_decode_hosts(df).collect()}
    assert rows["xn--mnchen-3ya.shop.example"]["unicode_host"] == "münchen.shop.example"
    assert rows["xn--mnchen-3ya.shop.example"]["is_idn"] == 1
    assert rows["plain.example"]["unicode_host"] == "plain.example"
    assert rows["plain.example"]["is_idn"] == 0
    assert rows["xn--zzzzzz.example"]["ok"] == 0
    assert rows["xn--zzzzzz.example"]["unicode_host"] is None


def test_parse_srcset_drops_empty_candidates_and_defaults_descriptor(spark):
    from legal_document_ocr_spark.operators.urls import parse_srcset

    html = '<img srcset="a.jpg 1x, , b.jpg,">'.encode()
    df = spark.createDataFrame([("u", html)], "url string, html binary")
    rows = sorted(parse_srcset(df).collect(), key=lambda r: r["candidate_pos"])
    got = [(r["candidate_pos"], r["candidate_url"], r["descriptor"]) for r in rows]
    assert got == [(0, "a.jpg", "1x"), (2, "b.jpg", None)]


def test_charset_sniff_utf16_boms_outrank_header_and_meta(spark):
    from legal_document_ocr_spark.operators.urls import charset_sniff

    rows = {
        r["url"]: r
        for r in charset_sniff(
            spark.createDataFrame(
                [
                    ("le", b"\xff\xfex\x00", "text/html; charset=utf-8"),
                    ("be", b"\xfe\xffhtml", "text/html"),
                    ("none", b'<meta charset="koi8-r">x', "text/html"),
                ],
                "url string, payload binary, content_type string",
            )
        ).collect()
    }
    assert rows["le"]["effective"] == "utf-16le"
    assert rows["be"]["effective"] == "utf-16be"
    assert rows["none"]["effective"] == "koi8-r"


def test_parse_set_cookie_attributes_and_head_only_scan(spark):
    from legal_document_ocr_spark.sources.warc import parse_set_cookie

    crlf = "\r\n"
    payload = (
        "HTTP/1.1 200 OK" + crlf
        + "Set-Cookie: sid=abc123; Path=/; Secure; HttpOnly; SameSite=Lax" + crlf
        + "Content-Type: text/html" + crlf
        + "Set-Cookie: track=1; Max-Age=31536000; Domain=.example.com" + crlf
        + crlf
        + "<html>Set-Cookie: spoof=1; Secure</html>"
    )
    df = spark.createDataFrame([("u", payload)], "url string, payload string")
    rows = sorted(parse_set_cookie(df).collect(), key=lambda r: r["cookie_idx"])
    assert [r["name"] for r in rows] == ["sid", "track"]  # body decoy ignored
    sid, track = rows
    assert (sid["secure"], sid["httponly"], sid["samesite"], sid["path"]) == (
        1, 1, "lax", "/",
    )
    assert sid["max_age"] is None and sid["domain"] is None
    assert (track["secure"], track["httponly"], track["samesite"]) == (0, 0, None)
    assert track["max_age"] == 31536000 and track["domain"] == ".example.com"


def test_parse_security_headers_census_and_decoys(spark):
    from legal_document_ocr_spark.sources.warc import parse_security_headers

    crlf = "\r\n"
    full = (
        "HTTP/1.1 200 OK" + crlf
        + "Strict-Transport-Security: max-age=63072000; includeSubDomains" + crlf
        + "Content-Security-Policy: default-src 'self'" + crlf
        + "X-Frame-Options: DENY" + crlf
        + "Referrer-Policy: strict-origin" + crlf
        + "X-Content-Type-Options: nosniff" + crlf
        + "Set-Cookie: a=1" + crlf + "Set-Cookie: b=2" + crlf
        + crlf
        + "body X-Frame-Options: SAMEORIGIN"  # body echo must not count
    )
    bare = "HTTP/1.1 200 OK" + crlf + crlf + "Strict-Transport-Security: max-age=1"
    df = spark.createDataFrame(
        [("full", full), ("bare", bare)], "url string, payload string"
    )
    rows = {r["url"]: r for r in parse_security_headers(df).collect()}
    f = rows["full"]
    assert f["hsts_max_age"] == 63072000 and f["has_csp"] == 1
    assert f["xfo"] == "deny" and f["referrer_policy"] == "strict-origin"
    assert f["nosniff"] == 1 and f["n_cookies"] == 2
    b = rows["bare"]
    assert b["hsts_max_age"] is None and b["has_csp"] == 0
    assert b["xfo"] is None and b["nosniff"] == 0 and b["n_cookies"] == 0


def test_amp_canonical_pairs_requires_bidirectional_claim(spark):
    from legal_document_ocr_spark.operators.urls import amp_canonical_pairs

    def page(url, html):
        return (url, html.encode())

    df = spark.createDataFrame(
        [
            # bidirectional pair: canonical c1 <-> amp a1
            page("c1", '<html><link rel="amphtml" href="a1"></html>'),
            page("a1", '<html amp><link rel="canonical" href="c1"></html>'),
            # one-sided: amp a2 claims c2, but c2 doesn't link back
            page("a2", '<html ⚡ lang="en"><link rel="canonical" href="c2"></html>'),
            page("c2", "<html><p>plain</p></html>"),
            # non-AMP page with a canonical link must NOT enter the amp side
            page("c3", '<html lang="en"><link rel="canonical" href="c1"></html>'),
        ],
        "url string, html binary",
    )
    rows = {(r["canonical_url"], r["amp_url"]): r for r in amp_canonical_pairs(df).collect()}
    assert set(rows) == {("c1", "a1"), ("c2", "a2")}
    good = rows[("c1", "a1")]
    assert good["bidirectional"] == 1 and good["keep_url"] == "c1"
    oneside = rows[("c2", "a2")]
    assert (oneside["claimed_by_amp"], oneside["claimed_by_canonical"]) == (1, 0)
    assert oneside["bidirectional"] == 0 and oneside["keep_url"] is None


def test_license_detect_url_anchored_and_module_decode(spark):
    from legal_document_ocr_spark.operators.urls import license_detect

    def page(url, html):
        return (url, html.encode())

    df = spark.createDataFrame(
        [
            page("by", '<html><link rel="license" '
                       'href="https://creativecommons.org/licenses/by/4.0/"></html>'),
            page("nc-nd", '<html><a rel="license" href="http://creativecommons.org'
                          '/licenses/by-nc-nd/3.0/">license</a></html>'),
            page("cc0", '<html><a href="https://creativecommons.org/publicdomain'
                        '/zero/1.0/">cc0</a></html>'),
            page("prose", "<html><p>this page is not CC-BY licensed</p></html>"),
            page("plain", "<html><p>nothing</p></html>"),
        ],
        "url string, html binary",
    )
    rows = {r["url"]: r for r in license_detect(df).collect()}
    by = rows["by"]
    assert (by["license"], by["version"], by["via_rel_license"]) == ("cc-by", "4.0", 1)
    assert (by["commercial_ok"], by["derivatives_ok"]) == (1, 1)
    ncnd = rows["nc-nd"]
    assert (ncnd["license"], ncnd["version"]) == ("cc-by-nc-nd", "3.0")
    assert (ncnd["commercial_ok"], ncnd["derivatives_ok"]) == (0, 0)
    assert ncnd["via_rel_license"] == 1
    cc0 = rows["cc0"]
    assert (cc0["license"], cc0["version"], cc0["via_rel_license"]) == ("cc0", "1.0", 0)
    assert (cc0["commercial_ok"], cc0["derivatives_ok"]) == (1, 1)
    for u in ("prose", "plain"):  # keyword prose can't false-positive
        assert rows[u]["license"] is None and rows[u]["commercial_ok"] is None
        assert rows[u]["via_rel_license"] == 0


def test_faq_pairs_requires_question_mark_and_adjacent_paragraph(spark):
    from legal_document_ocr_spark.operators.urls import faq_pairs

    html = (
        "<html><h2>What is Spark?</h2><p>A distributed engine.</p>"
        "<h3>  How   does it scale? </h3>\n<p>Via partitions.</p>"
        "<h2>Not a question</h2><p>ignored</p>"
        "<h2>Orphan question?</h2><div>not a p</div>"
        "<h2>Mismatch?</h3><p>level mismatch ignored</p></html>"
    ).encode()
    df = spark.createDataFrame([("u", html)], "url string, html binary")
    rows = sorted(faq_pairs(df).collect(), key=lambda r: r["pair_idx"])
    got = [(r["question"], r["answer"]) for r in rows]
    assert got == [
        ("What is Spark?", "A distributed engine."),
        ("How does it scale?", "Via partitions."),
    ]


def test_split_sentences_abbreviation_merge_and_trailing_fragment(spark):
    from legal_document_ocr_spark.operators.textops import split_sentences

    df = spark.createDataFrame(
        [
            (1, "First one. Dr. Smith said hi! Really? No. 7 works... tail bit"),
            (2, "   "),  # whitespace-only -> no rows
            (3, "single sentence no punct"),
        ],
        "doc_id long, text string",
    )
    rows = sorted(
        split_sentences(df).collect(), key=lambda r: (r["doc_id"], r["sent_idx"])
    )
    got = [(r["doc_id"], r["sent_idx"], r["sentence"]) for r in rows]
    assert got == [
        (1, 0, "First one."),
        (1, 1, "Dr. Smith said hi!"),  # Dr. merged forward, not a break
        (1, 2, "Really?"),
        (1, 3, "No. 7 works..."),  # No. merged; ellipsis ends normally
        (1, 4, "tail bit"),  # unpunctuated tail survives
        (3, 0, "single sentence no punct"),
    ]
    assert all(r["n_chars"] == len(r["sentence"]) for r in rows)


def test_split_sentences_plan_is_one_exchange(spark):
    """The reassembly groupBy must reuse the window's doc_id exchange —
    a second Exchange means the subset-key clustering regressed."""
    from legal_document_ocr_spark.operators.textops import split_sentences

    df = spark.createDataFrame([(1, "a. b. c.")], "doc_id long, text string")
    plan = split_sentences(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


def test_form_census_classifies_login_search_and_upload_shells(spark):
    from legal_document_ocr_spark.operators.urls import form_census

    login = (
        '<html><form method="POST" action="/login">'
        '<input type="text" name="user"><input type="password" name="pw">'
        "</form></html>"
    ).encode()
    search = (
        '<html><form method="get"><input type="search" name="q"></form>'
        '<form method="post"><input type="file" name="up"></form></html>'
    ).encode()
    plain = b"<html><p>no forms here, input type=password as prose</p></html>"
    df = spark.createDataFrame(
        [("login", login), ("search", search), ("plain", plain)],
        "url string, html binary",
    )
    rows = {r["url"]: r for r in form_census(df).collect()}
    lg = rows["login"]
    assert (lg["n_forms"], lg["n_inputs"], lg["has_password"]) == (1, 2, 1)
    assert (lg["has_search"], lg["n_post_forms"]) == (0, 1)
    se = rows["search"]
    assert (se["n_forms"], se["has_search"], se["has_upload"]) == (2, 1, 1)
    assert (se["has_password"], se["n_post_forms"]) == (0, 1)
    pl = rows["plain"]  # prose mentioning attributes is not a tag
    assert (pl["n_forms"], pl["n_inputs"], pl["has_password"]) == (0, 0, 0)


def test_phash_format_invariance_and_error_isolation(spark):
    from legal_document_ocr_spark.codecs import encode_png, encode_tiff
    from legal_document_ocr_spark.operators.multimodal import image_phash

    w, h = 16, 11
    px = bytes((7 + 13 * x + 29 * y) % 256 for y in range(h) for x in range(w))
    other = bytes((5 * x * x + 3 * y) % 256 for y in range(h) for x in range(w))
    df = spark.createDataFrame(
        [
            (1, encode_png(w, h, px, 0)),
            (2, encode_tiff(w, h, px, "L", lzw=True, predictor=2)),
            (3, encode_png(w, h, other, 0)),
            (4, b"garbage not an image"),
        ],
        "doc_id long, payload binary",
    )
    rows = {r["doc_id"]: r for r in image_phash(df).collect()}
    assert rows[1]["phash_hex"] == rows[2]["phash_hex"]  # format-invariant
    assert rows[1]["phash_hex"] != rows[3]["phash_hex"]  # content-sensitive
    assert rows[4]["phash_hex"] is None and rows[4]["error"] is not None
    assert len(rows[1]["phash_hex"]) == 16


def test_extract_code_blocks_preserves_indentation_and_unescapes(spark):
    from legal_document_ocr_spark.operators.urls import extract_code_blocks

    html = (
        "<html><p>prose</p>"
        '<pre><code class="language-python">\n'
        "def f(a, b):\n    return a &lt; b &amp;&amp; True\n</code></pre>"
        "<pre>plain  block\n  indented</pre>"
        '<pre class="x"><code class="lang-c#">x-&gt;y;</code></pre>'
        "</html>"
    ).encode()
    df = spark.createDataFrame([("u", html)], "url string, html binary")
    rows = sorted(extract_code_blocks(df).collect(), key=lambda r: r["block_idx"])
    py, plain, cs = rows
    assert py["lang_hint"] == "python"
    assert py["code"] == "def f(a, b):\n    return a < b && True"
    assert py["n_lines"] == 2
    assert plain["lang_hint"] is None
    assert plain["code"] == "plain  block\n  indented"  # interior ws kept
    assert (cs["lang_hint"], cs["code"], cs["n_lines"]) == ("c#", "x->y;", 1)


def test_extract_math_blocks_three_notations_and_delimiter_strip(spark):
    from legal_document_ocr_spark.operators.urls import extract_math_blocks

    html = (
        "<html><p>price is $5 and $7</p>"  # inline dollars must not pair
        "<p>$$\n  e^{i\\pi} + 1 = 0\n$$</p>"
        "<p>\\[ \\int_0^1 x\\,dx \\]</p>"
        '<math display="block"><mi>x</mi><mo>=</mo><mn>2</mn></math>'
        "<p>$$$$</p>"  # empty block drops
        "</html>"
    ).encode()
    df = spark.createDataFrame([("u", html)], "url string, html binary")
    rows = sorted(extract_math_blocks(df).collect(), key=lambda r: r["block_idx"])
    got = [(r["notation"], r["math"]) for r in rows]
    assert got == [
        ("latex", "e^{i\\pi} + 1 = 0"),
        ("latex", "\\int_0^1 x\\,dx"),
        ("mathml", "<mi>x</mi><mo>=</mo><mn>2</mn>"),
    ]


def test_wordpiece_segment_greedy_longest_match_no_unk(spark):
    from legal_document_ocr_spark.operators.textops import wordpiece_segment

    # top_multi=4 keeps only {ab, aba, ba, abab}; 'abab' segments whole,
    # 'abaqq' (longer than max_piece_len) forces greedy backoff through
    # 'aba' then single-char 'q's, and 'zzzz' (no multi piece survives
    # the cut) falls all the way back to singles — the no-UNK guarantee.
    df = spark.createDataFrame(
        [("abab abab abab abab abaqq",), ("abab zzzz",)], "text string"
    )
    rows = {
        r["word"]: r
        for r in wordpiece_segment(df, top_multi=4).collect()
    }
    assert rows["abab"]["segmentation"] == "abab"
    assert rows["abab"]["n_pieces"] == 1 and rows["abab"]["n"] == 5
    assert rows["abaqq"]["segmentation"] == "aba q q"  # greedy backoff
    assert rows["zzzz"]["segmentation"] == "z z z z"  # single-char floor
    assert all(r["segmentation"] for r in rows.values())


def test_harvest_image_candidates_matches_standalone_parsers(spark):
    """The fused single-scan harvest must equal the composition of the
    four standalone parsers (whose unit oracles pin per-source
    semantics) on a page exercising every source and resolution case."""
    from legal_document_ocr_spark.operators.urls import (
        extract_data_uris,
        extract_image_alt_pairs,
        harvest_image_candidates,
        opengraph_meta,
        parse_srcset,
    )

    html = (
        '<html><head><meta property="og:image" content="/og/a.jpg"></head>'
        '<body><img src="/i/a.jpg" alt="pic a">'
        '<img src="//cdn.example.net/b.jpg" alt="pic b">'
        '<img src="uncaptioned.jpg" alt="">'  # dropped: empty alt
        '<img src="data:image/gif;base64,R0lGODdh" alt="inline">'  # data, not img
        '<img srcset="/i/a.jpg 2x, , c.jpg 480w" alt="">'
        "</body></html>"
    ).encode()
    pages = spark.createDataFrame(
        [("https://h.example.com/x/1", html)], "url string, html binary"
    )
    fused = {
        (r["url"], r["candidate"], r["via"])
        for r in harvest_image_candidates(pages).collect()
    }

    def resolve(c):
        if c.startswith("//"):
            return "https:" + c
        if c.startswith("/"):
            return "https://h.example.com" + c
        return c

    composed = set()
    for r in extract_image_alt_pairs(pages).collect():
        if not r["img_url"].startswith("data:"):
            composed.add((r["url"], r["img_url"], "img"))
    for r in parse_srcset(pages).collect():
        composed.add((r["url"], resolve(r["candidate_url"]), "srcset"))
    for r in opengraph_meta(pages).collect():
        if r["og_image"]:
            composed.add((r["url"], resolve(r["og_image"]), "og"))
    for r in extract_data_uris(pages).collect():
        composed.add(
            (r["url"], f"data:{r['mime']}:{r['payload_md5']}", "data")
        )
    assert fused == composed
    assert ("https://h.example.com/x/1", "https://h.example.com/i/a.jpg", "img") in fused
    assert ("https://h.example.com/x/1", "https://cdn.example.net/b.jpg", "img") in fused


def test_page_assets_counts_and_third_party_split(spark):
    from legal_document_ocr_spark.operators.urls import page_assets

    html = (
        '<html><script src="/js/app.js"></script>'
        '<script src="https://cdn.tracker.net/t.js"></script>'
        '<script src="//ads.example.org/a.js"></script>'
        "<script>inline();</script>"  # no src -> not counted
        '<link rel="stylesheet" href="https://h.example.com/css/m.css">'
        '<link rel="alternate" href="/feed.xml">'  # not a stylesheet
        '<img src="/i/a.jpg" alt="x"><img src="/i/b.jpg" alt="y">'
        '<iframe src="https://cdn.tracker.net/frame"></iframe></html>'
    ).encode()
    df = spark.createDataFrame(
        [("https://h.example.com/p/1", html)], "url string, html binary"
    )
    r = page_assets(df).collect()[0]
    assert (r["n_scripts"], r["n_styles"], r["n_imgs"], r["n_iframes"]) == (
        3, 1, 2, 1,
    )
    # tracker script + protocol-relative ad + tracker iframe; same-host
    # absolute stylesheet and root-relative script are first-party
    assert r["n_third_party"] == 3
    assert r["third_party_hosts"] == "ads.example.org,cdn.tracker.net"


def test_image_colors_means_buckets_and_error_isolation(spark):
    from legal_document_ocr_spark.codecs import encode_png
    from legal_document_ocr_spark.operators.multimodal import image_colors

    solid = encode_png(2, 2, bytes([200, 100, 30] * 4), 2)  # solid RGB
    gray = encode_png(2, 1, bytes([10, 250]), 0)  # L replicates to RGB
    df = spark.createDataFrame(
        [(1, solid), (2, gray), (3, b"junk")],
        "doc_id long, payload binary",
    )
    rows = {r["doc_id"]: r for r in image_colors(df).collect()}
    s = rows[1]
    assert (s["mean_r"], s["mean_g"], s["mean_b"], s["n_px"]) == (200, 100, 30, 4)
    assert s["dominant_bucket"] == (200 >> 5) * 64 + (100 >> 5) * 8 + (30 >> 5)
    g = rows[2]
    assert (g["mean_r"], g["mean_g"], g["mean_b"]) == (130, 130, 130)
    assert g["dominant_bucket"] == 0  # tie between buckets of 10 and 250 -> smallest
    assert rows[3]["error"] is not None and rows[3]["mean_r"] is None


def test_split_zip_members_byte_exact_crc_and_error_isolation(spark):
    import io
    import zipfile

    from legal_document_ocr_spark.sources.archives import split_zip_members

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("a.txt", b"hello hello hello", zipfile.ZIP_DEFLATED)
        zf.writestr("dir/", b"")
        zf.writestr("b.bin", bytes(range(256)), zipfile.ZIP_STORED)
    good = buf.getvalue()
    # corrupt b.bin's stored bytes -> CRC mismatch isolates that member
    corrupt = bytearray(good)
    pos = good.find(bytes(range(256)))
    corrupt[pos] ^= 0xFF
    df = spark.createDataFrame(
        [("good.zip", good), ("bad.zip", bytes(corrupt)), ("junk.zip", b"PK\x00no")],
        "archive string, payload binary",
    )
    rows = [
        (r["archive"], r["name"], r["crc_ok"], r["payload"], r["error"])
        for r in split_zip_members(df).collect()
    ]
    by_arc = {}
    for a, n, ok, p, e in rows:
        by_arc.setdefault(a, []).append((n, ok, p, e))
    g = dict((n, (ok, p)) for n, ok, p, _ in by_arc["good.zip"])
    assert set(g) == {"a.txt", "b.bin"}  # dir skipped
    assert g["a.txt"] == (1, bytearray(b"hello hello hello"))
    assert g["b.bin"][1] == bytearray(range(256))
    bad = {n: (ok, e) for n, ok, _, e in by_arc["bad.zip"]}
    assert bad["b.bin"][0] == 0 and "BadZipFile" in bad["b.bin"][1]
    assert bad["a.txt"][0] == 1  # sibling member survives
    junk = by_arc["junk.zip"]
    assert len(junk) == 1 and "BadZipFile" in junk[0][3]


def test_media_profile_fused_matches_standalone_stages(spark):
    """The fused profile must agree with image_decode/image_phash/
    image_colors on the same payloads (shared kernels, one decode)."""
    from legal_document_ocr_spark.codecs import encode_png, encode_tiff
    from legal_document_ocr_spark.operators.multimodal import (
        image_colors,
        image_phash,
        media_profile,
    )

    w, h = 7, 5
    px = bytes((11 + 13 * x + 29 * y) % 256 for y in range(h) for x in range(w))
    df = spark.createDataFrame(
        [
            (1, encode_png(w, h, px, 0)),
            (2, encode_tiff(w, h, px, "L", lzw=True)),
            (3, encode_png(2, 2, bytes([9] * 4), 0)),  # solid
            (4, b"garbage"),
        ],
        "doc_id long, payload binary",
    )
    fused = {r["doc_id"]: r for r in media_profile(df).collect()}
    ph = {r["doc_id"]: r["phash_hex"] for r in image_phash(df).collect()}
    co = {r["doc_id"]: r for r in image_colors(df).collect()}
    for d in (1, 2, 3):
        assert fused[d]["phash_hex"] == ph[d]
        assert fused[d]["mean_r"] == co[d]["mean_r"]
        assert fused[d]["dominant_bucket"] == co[d]["dominant_bucket"]
    assert fused[1]["phash_hex"] == fused[2]["phash_hex"]  # format-invariant
    assert (fused[1]["solid"], fused[3]["solid"]) == (0, 1)
    assert fused[4]["error"] is not None and fused[4]["phash_hex"] is None


def test_split_tar_members_gz_sniff_and_tear_isolation(spark):
    import gzip
    import io
    import tarfile

    from legal_document_ocr_spark.sources.archives import split_tar_members

    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        for name, body in (("a.txt", b"alpha"), ("d/b.bin", bytes(range(64)))):
            info = tarfile.TarInfo(name)
            info.size = len(body)
            tf.addfile(info, io.BytesIO(body))
        dir_info = tarfile.TarInfo("d/")
        dir_info.type = tarfile.DIRTYPE
        tf.addfile(dir_info)  # directory skipped
    plain = buf.getvalue()
    gz = gzip.compress(plain, mtime=0)
    torn = plain[: 512 + 256]  # header + half of a.txt's data block
    df = spark.createDataFrame(
        [("p.tar", plain), ("z.tar.gz", gz), ("t.tar", torn)],
        "archive string, payload binary",
    )
    rows = {}
    for r in split_tar_members(df).collect():
        rows.setdefault(r["archive"], []).append(r)
    for arc in ("p.tar", "z.tar.gz"):
        got = {r["name"]: bytes(r["payload"]) for r in rows[arc] if r["name"]}
        assert got == {"a.txt": b"alpha", "d/b.bin": bytes(range(64))}
    t = rows["t.tar"]
    assert any(r["error"] for r in t)  # tear surfaces as an error row


def test_url_safety_kills_ssrf_vectors(spark):
    from legal_document_ocr_spark.operators.urls import url_safety

    urls = [
        "https://h.example.com/a",
        "http://h.example.com:8080/a",
        "http://h.example.com:2375/a",  # weird port
        "ftp://h.example.com/a",  # scheme
        "http://169.254.169.254/latest/meta-data",  # cloud metadata
        "http://10.0.0.5/x",
        "http://172.20.1.1/x",
        "http://172.15.1.1/x",  # just OUTSIDE 172.16/12
        "http://192.168.1.1/x",
        "http://127.0.0.1:80/x",
        "http://localhost/x",
        "http://8.8.8.8/x",  # public literal IP: kind ip4, fetchable
        "http://999.1.1.1/x",  # not a valid IPv4 -> name
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    r = {x["url"]: x for x in url_safety(df).collect()}
    assert r["https://h.example.com/a"]["fetchable"] == 1
    assert r["http://h.example.com:8080/a"]["fetchable"] == 1
    assert r["http://h.example.com:2375/a"]["port_ok"] == 0
    assert r["ftp://h.example.com/a"]["scheme_ok"] == 0
    for bad in (
        "http://169.254.169.254/latest/meta-data", "http://10.0.0.5/x",
        "http://172.20.1.1/x", "http://192.168.1.1/x",
        "http://127.0.0.1:80/x", "http://localhost/x",
    ):
        assert r[bad]["private_target"] == 1 and r[bad]["fetchable"] == 0, bad
    assert r["http://172.15.1.1/x"]["private_target"] == 0
    assert r["http://8.8.8.8/x"]["host_kind"] == "ip4"
    assert r["http://8.8.8.8/x"]["fetchable"] == 1
    assert r["http://999.1.1.1/x"]["host_kind"] == "name"


def test_unigram_viterbi_dominates_greedy_segmentation(spark):
    """The Viterbi combined objective v = 64·Σscore − n_pieces must be
    >= the greedy (WordPiece) segmentation's value for EVERY word under
    the same scored vocabulary — the optimality property that makes the
    unigram face worth having next to greedy longest-match."""
    from legal_document_ocr_spark.operators.textops import (
        unigram_scored_vocab,
        unigram_segment,
        wordpiece_segment,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    _, scored = unigram_scored_vocab(docs)
    score = {r["piece"]: r["score"] for r in scored.collect()}

    uni = {
        r["word"]: (r["best_micro"], r["n_pieces"])
        for r in unigram_segment(docs).collect()
    }
    greedy = {
        r["word"]: r["segmentation"].split(" ")
        for r in wordpiece_segment(docs).collect()
    }
    assert set(uni) == set(greedy) and uni
    tighter = 0
    for word, pieces in greedy.items():
        v_greedy = sum(64 * score[p] - 1 for p in pieces)
        b, np_ = uni[word]
        v_uni = 64 * b - np_
        assert v_uni >= v_greedy, (word, v_uni, v_greedy)
        if v_uni > v_greedy:
            tighter = tighter + 1
    # the objective must actually bite somewhere, else the entry is vacuous
    assert tighter > 0


def test_peak_concurrency_tie_order_independence(spark):
    """Crafted coincident endpoints: the half-open convention must close
    intervals before opening new ones at the same instant, and tied
    same-delta endpoints must not make the peak depend on row order."""
    import datetime as _dt

    from legal_document_ocr_spark.operators.relational import (
        peak_concurrency,
    )

    base = _dt.datetime(2024, 1, 1)

    def ev(eid, uid, sec):
        return (eid, base + _dt.timedelta(seconds=sec), uid, "click", 0.0, "{}")

    # user 1: event_id 180 -> dur 60+180%240 = 240; second starts exactly
    # at the first's end (t=240): half-open => peak 1, not 2
    # user 2: two identical-duration events at the same start => peak 2
    rows = [
        ev(180, 1, 0), ev(180 + 240, 1, 240),
        ev(120, 2, 0), ev(360, 2, 0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    )
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    got = {r["peak"]: r["n_users"] for r in peak_concurrency(df).collect()}
    assert got == {1: 1, 2: 1}


def test_session20_epoch_entries_pin_utc_themselves(spark):
    """The timezone trap (verify-skill round-2 note): epoch-sensitive
    registry entries must produce identical results whatever timezone
    the driver session starts in, because their wrappers pin UTC."""
    import duckdb

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('/root/testdata/sf0.001/{t}.parquet')"
        )
    try:
        for name in ("peak_concurrency", "seasonal_anomaly"):
            spark.conf.set(
                "spark.sql.session.timeZone", "America/New_York"
            )
            sdf = qs[name](spark, "/root/testdata/sf0.001")
            rows = sorted(
                tuple(str(v) for v in r) for r in sdf.collect()
            )
            orows = sorted(
                tuple(str(v) for v in r)
                for r in con.execute(oracles[name]).fetchall()
            )
            assert rows == orows, name
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
