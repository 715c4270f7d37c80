#!/usr/bin/env python
"""Benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR.

Default mode prints ONE JSON line:
    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {<name>: sec, ...}, "sf": <sf>, ...extras}

Per-layer timing, scaling efficiency and task skew of the flagship
pipeline come from the ledger of ``perfbench/run.py --trace 1``.

Every query is forced end-to-end with the noop sink (full column
materialization — a .count() would let Catalyst prune the UDF columns and
measure nothing).
"""

from __future__ import annotations

import json
import os
import time

from legal_document_ocr_spark.session import build_session

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# headline set: flagship pipeline + one representative per operator family
HEADLINE = [
    "extract_main_text",      # full pipeline: validate→dedup→UDF stages
    "extract_fields_vn",      # + field battery UDF
    "merge_documents_vn",     # + merge fold (applyInPandas)
    "pricing_summary",        # aggregation battery
    "revenue_by_nation",      # broadcast join chain
    "sessionize_events",      # window battery / gaps-and-islands
    "dedup_exact",            # hash-group dedup
    "minhash_pairs",          # MinHash+LSH near-dup
    "ngram_jaccard",          # shingle-join Jaccard (exact baseline)
    "neardup_verified",       # LSH candidates -> exact verify (scale path)
    "embedding_knn",          # brute-force ANN baseline
    "embedding_ivf_knn",      # IVF cell-probe ANN (scale path)
    "embedding_near_dups",    # sign-LSH bucketed cosine
    "quality_scores",         # text-analysis battery
    "repetition_stats",       # explode + stacked aggs
    "winnow_fingerprints",    # rolling-hash winnowing
    "multimodal_features",    # binary-column mapInPandas stage
    # round-2 additions
    "asof_events",            # as-of join (union-merge window)
    "domain_profile",         # per-domain skew/dup diagnosis
    "stratified_sample",      # deterministic hash sampling
    "dedup_clusters",         # pairs -> connected components -> reps
    "line_dedup",             # corpus-level boilerplate line removal
    "lm_scores",              # self-trained char-bigram LM perplexity
    # round-3 additions
    "jpeg_decode",            # real baseline-JPEG decode (mapInPandas)
    "warc_binary_parse",      # byte-framed WARC parse at scan speed
    "frontier_polite",        # robots filter + two-phase per-host budget
    "dup_substring_runs",     # ExactSubstr dedup (window-hash islands)
    "inverted_index",         # segmented posting-list index build
    "gopher_repetition",      # published repetition filters (2 agg cascades)
    "bm25_scores",            # ranked retrieval (scan-speed vocab filter)
    "curation_pipeline",      # capstone: rules->dedup->decontam->shards
    # round-3 session-4 additions
    "text_density_blocks",    # boilerpipe block scoring (zero-shuffle HOFs)
    "dsir_weights",           # hashed-bucket importance resampling weights
    "incremental_neardup",    # batch-vs-corpus MinHash admission
    "host_mirrors",           # grouped-aggregate MinHash mirror detection
    "tfidf_pairs",            # sparse TF-IDF cosine similarity join
    "shipping_priority",      # TPC-H Q3 fact-fact join + top-k
    # round-4 additions
    "cdc_chunks",             # content-defined chunking (zero-shuffle HOFs)
    "webp_decode",            # real lossless-WebP/VP8L decode (mapInPandas)
    "audio_features",         # integer-exact PCM quality gauges
    "video_frames",           # real AVI/RIFF frame extraction (mapInPandas)
    "volume_shipping",        # TPC-H Q7 fact-fact shuffle_hash + dim broadcasts
    "pii_luhn",               # Luhn-validated PII battery (zero-exchange HOFs)
    # round-4 late-session additions (column_profile stays registry-only:
    # its exact-NDV contract is the deliberate Expand plan — 21 s at
    # sf0.1 — while the 100 TB path is exact_distinct=False; benching
    # the exact variant would just measure the documented trade)
    "heavy_hitters",          # Misra-Gries candidates + exact broadcast-semi recount
    "containment_pairs",      # directed containment over the df-capped shingle join
    # round-4 session-10 additions
    "triangle_count",         # degree-ordered wedge join triangles
    "ngram_novelty",          # cross-snapshot anti-join novelty
    "compression_ratio",      # zlib repetition gauge (mapInPandas)
    "source_dup_matrix",      # hash-keyed cross-source dup matrix
    "kmv_overlap",            # per-source KMV sketches -> pairwise Jaccard
    # round-4 session-11 additions
    "ann_recall_eval",        # bucketed-vs-exact ANN recall@10 (two one-pass scans)
    "rank_fusion",            # integer-nano RRF of lexical + embedding top-20s
    "url_templates",          # codegen template census + trap flags
    # round-4 session-12 additions
    "hyperball",              # iterated HLL-register ball-size merges (r=2)
    "bloom_dedup",            # bloom filter build + probe + exact FPR ride-along
    "centroid_drift",         # per-source cross-snapshot centroid cosine
    # round-4 session-13 additions
    "kneser_ney_bigrams",     # exact-integer KN bigram LM over the corpus
    "global_shuffle",         # bucketed two-phase rank global permutation
    "split_leakage",          # dup-family group algebra, two split policies
    "crossval_ols",           # k-fold CV from subtracted sufficient stats
    "multiprobe_knn",         # Hamming-1 probe set -> bucket equi-join
    "curriculum_order",       # quantile phases + in-phase two-phase rank
    "kendall_tau",            # bounded joint-bucket pair counting
    "spearman_rho",           # two-phase unique ranks, no global sort
    "avg_precision",          # exact AP over two-phase ranks
    "keyness_terms",          # Dunning G2 on the vocab x groups table
    "grid_dbscan",            # sign-lattice density CC, zero pair dists
    "vocab_churn",            # vocabulary-sized membership-bit groupBy
    # round-4 session-15 additions
    "cdc_apply",              # CDC last-writer-wins merge (agg + one SHJ)
    "good_turing",            # counts-of-counts + bounded-dist self-join
    "burrows_delta",          # stylometric z-grid over bounded S x k
    "query_likelihood",       # Dirichlet LM retrieval (decimal log sums)
    "emd_drift",              # exact 1-D EMD on log2 buckets
    "image_dup_clusters",     # aHash pigeonhole pairs -> pointer-jump CC
    # round-4 session-16 additions
    "consistent_hash_moves",  # rendezvous re-shard audit (pure codegen battery)
    "source_similarity",      # inter-source shingle Jaccard, in-row pair fan-out
    "stitch_series",          # paginated-article reassembly (bounded collect)
    # round-4 session-18 additions
    "warc_gz_members",        # .warc.gz member walk (real CC file framing)
    "split_sentences",        # sentence grain: explode + ONE-exchange reassembly
    "wordpiece_segments",     # greedy longest-match tokenizer (vocab-table Arrow)
    "amp_pairs",              # AMP<->canonical pair election (SHJ full-outer)
    "phash_groups",           # DCT perceptual hash (mapInPandas) + count join
    "image_harvest",          # 4-parser multimodal capstone, min_by election
    "tiff_lzw_decode",        # TIFF6 LZW + predictor decode (mapInPandas)
    "media_pipeline",         # FUSED decode+pHash+colors funnel capstone
    "zip_members",            # archive-parallel ZIP member ingestion
    "page_assets",            # asset census + third-party split (codegen)
    # round-4 session-19 additions
    "variant_shred",          # Spark-4 VARIANT typed shredding (scan speed)
    "xml_field_extract",      # from_xml + xpath escape round trip (codegen)
    "homoglyph_domains",      # confusable-skeleton spoof census (translate)
    "session_window_agg",     # built-in merging sessionizer (one exchange)
    "bitmap_distinct",        # bitmap exact-distinct (mergeable 4KB buckets)
    # round-4 session-20 additions
    "unigram_segments",       # unigram-LM Viterbi tokenizer (vocab-table Arrow DP)
    "t_closeness",            # privacy-ladder TV distance on the bounded grid
    "peak_concurrency",       # sweep-line interval concurrency (per-user window)
    "cdx_zipnum",             # ZipNum cluster.idx (per-file windows only)
    "sentence_dedup",         # CCNet sentence-grain boilerplate removal
    "psi_drift",              # PSI drift monitor on log2 buckets
    "rag_corpus_pipeline",    # capstone: sentence dedup -> survivor chunking
]


def _canary(spark) -> float:
    """Co-tenancy canary: a fixed pure-JVM probe (no Python, no IO beyond
    range) whose runtime calibrates ambient load. Identical code across
    rounds — if the canary moves 3x between BENCH_r{N} files, per-query
    deltas of that size are sandbox noise, not regressions."""
    t0 = time.time()
    # decimal sum: a bigint sum of full-range hashes overflows under ANSI
    spark.range(100_000_000).selectExpr(
        "sum(cast(xxhash64(id) as decimal(38,0))) as s"
    ).collect()
    return round(time.time() - t0, 3)


def _force(df) -> int:
    """Materialize every column (noop sink), return row count cheaply after."""
    df.write.format("noop").mode("overwrite").save()
    return 0


def _sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def run_headline(
    spark, sf_dir: str, *, runs: int = 3
) -> tuple[dict[str, float], dict[str, list[float]]]:
    """min-of-``runs`` per query, plus every individual run time.

    This sandbox has bursty co-tenant load (observed ±5x on identical code
    across rounds 1-2, min-of-2 did not tame it): the minimum is the stable
    signal, and the recorded spread makes driver-vs-builder number disputes
    mechanically adjudicable (VERDICT r2 ask #8)."""
    from legal_document_ocr_spark import queries as registry

    timings: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    for name in HEADLINE:
        fn = registry.SPARK[name]
        times: list[float] = []
        for _ in range(runs):
            # isolate queries: operators persist intermediates at self-join
            # boundaries; letting them accumulate across queries squeezes
            # execution memory and skews later measurements
            spark.catalog.clearCache()
            t0 = time.time()
            _force(fn(spark, sf_dir))
            times.append(round(time.time() - t0, 3))
        timings[name] = min(times)
        spread[name] = times
    return timings, spread


def run_pipeline_throughput(spark, sf_dir: str) -> tuple[float, int]:
    """Flagship extraction docs/sec (the north metric's unit)."""
    from legal_document_ocr_spark.sources.pages import synthesize_pages_df
    from legal_document_ocr_spark.stages import run_extraction

    pages = synthesize_pages_df(spark, sf_dir)
    n = pages.count()
    t0 = time.time()
    _force(run_extraction(pages, dedup=True, with_fields=True))
    dt = time.time() - t0
    return dt, n


def main_bench() -> None:
    spark = build_session(app_name="ldos-bench", master=f"local[{CPUS}]")
    spark.sparkContext.setLogLevel("ERROR")
    canary_start = _canary(spark)
    # one warmup pass so JVM/Arrow init doesn't dominate small-SF numbers,
    # then min of 2 measured passes (bursty co-tenant load on this sandbox)
    dt_warm, n_docs = run_pipeline_throughput(spark, SF_DIR)
    dt_pipe = min(run_pipeline_throughput(spark, SF_DIR)[0] for _ in range(2))
    timings, spread = run_headline(spark, SF_DIR)
    canary_end = _canary(spark)
    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "spread": spread,
        "canary_sec": [canary_start, canary_end],
        "sf": _sf_of(SF_DIR),
        "pipeline_docs": n_docs,
        "pipeline_sec": round(dt_pipe, 3),
        "pipeline_docs_per_sec": round(n_docs / dt_pipe, 1),
        "cpus": int(CPUS),
    }
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main_bench()
