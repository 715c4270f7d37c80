"""Text-analysis operators over a documents table — pure Catalyst expressions.

Training-data-pipeline text ops (language-ID, quality scoring, token counting,
fingerprinting) plus the SQL-safe subset of the reference's field-extraction
battery (information_extraction_service.py:90-98 first-match-wins as
``F.coalesce`` chains — SURVEY.md §2.3 K9).

Everything here is JVM-side whole-stage-codegen-able: no Python in the hot
path, so at 100 TB these run at scan speed with full predicate pushdown and
column pruning. Each operator is written to be expressible 1:1 in ANSI SQL
(the DuckDB oracle in ``__spark_entry__.py`` states the same computation), so
regexes are kept to the dialect-portable subset (simple character classes, no
lookaround, no backrefs — Java regex and RE2 agree on these).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..scale.salt import ensure_parallelism

# ---------------------------------------------------------------------------
# tokenization (shared by lang-id / quality / token-count)
# ---------------------------------------------------------------------------

# BPE-ish word pattern: letter runs, digit runs, single non-space symbols —
# the deterministic stand-in for a real BPE tokenizer's pre-tokenization.
WORD_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def ws_tokens(col: Column) -> Column:
    """Whitespace tokens of a non-empty trimmed string (empty -> empty array)."""
    trimmed = F.trim(col)
    return F.when(F.length(trimmed) > 0, F.split(trimmed, r"\s+")).otherwise(
        F.array().cast("array<string>")
    )


def token_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish regex tokens per document."""
    docs = ensure_parallelism(docs)  # fan out narrow scans before the per-char/token hot loop
    c = F.col(text_col)
    return docs.select(
        F.col("doc_id"),
        F.size(ws_tokens(c)).alias("ws_tokens"),
        F.size(F.regexp_extract_all(c, F.lit(WORD_PATTERN), 0)).alias("bpe_tokens"),
        F.length(c).alias("n_chars"),
    )


# ---------------------------------------------------------------------------
# language identification (marker-token heuristic)
# ---------------------------------------------------------------------------

# Deterministic marker lists (function words / high-frequency tokens). A real
# deployment swaps in full n-gram profiles; the operator shape (score per
# language -> argmax with deterministic tiebreak) is the same.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is", "to", "in", "that", "it", "for"),
    "es": ("el", "la", "de", "y", "es", "en", "que", "los", "una", "por"),
    "de": ("der", "die", "das", "und", "ist", "zu", "den", "von", "mit", "ein"),
    "fr": ("le", "la", "de", "et", "est", "les", "des", "une", "que", "pour"),
    "vi": ("và", "của", "là", "các", "có", "được", "cho", "trong", "ngày", "số"),
}


def _marker_score(tokens: Column, markers: tuple[str, ...]) -> Column:
    lits = F.array(*[F.lit(m) for m in markers])
    return F.size(F.filter(tokens, lambda t: F.array_contains(lits, t)))


def lang_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Predict language by marker-token count argmax (ties -> lexicographic).

    Argmax is expressed as a sort over (score desc, lang asc) structs via
    ``array_max`` on (score, negated-ordering-safe lang) — implemented here as
    a greatest-of-structs comparison, fully codegen'd.
    """
    docs = ensure_parallelism(docs)  # fan out narrow scans before the per-char/token hot loop
    tokens = ws_tokens(F.lower(F.col(text_col)))
    scored = docs.select(
        F.col("doc_id"),
        *[
            _marker_score(tokens, m).alias(f"score_{lang}")
            for lang, m in sorted(LANG_MARKERS.items())
        ],
    )
    # argmax with deterministic tiebreak: left-to-right fold with strict >,
    # so the lexicographically-first language wins ties; zero score -> "und".
    langs = sorted(LANG_MARKERS)
    pred = F.lit("und")
    best = F.lit(0)
    for lang in langs:
        s = F.col(f"score_{lang}")
        pred = F.when(s > best, F.lit(lang)).otherwise(pred)
        best = F.when(s > best, s).otherwise(best)
    return scored.select("doc_id", *[f"score_{lang}" for lang in langs], pred.alias("pred_lang"))


# ---------------------------------------------------------------------------
# quality scoring
# ---------------------------------------------------------------------------

STOPWORDS = LANG_MARKERS["en"]


def quality_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation-ratio / stopword-ratio quality features + score.

    Ratios are per-row arithmetic (deterministic in IEEE double); the final
    score is rounded to 6 dp so it hash-compares across engines.
    """
    docs = ensure_parallelism(docs)  # fan out narrow scans before the per-char/token hot loop
    c = F.col(text_col)
    tokens = ws_tokens(F.lower(c))
    n_chars = F.length(c)
    n_tokens = F.size(tokens)
    n_punct = F.size(F.regexp_extract_all(c, F.lit(r"[^A-Za-z0-9\s]"), 0))
    stop_lits = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(tokens, lambda t: F.array_contains(stop_lits, t)))
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars.cast("double")).otherwise(
        F.lit(0.0)
    )
    stop_ratio = F.when(n_tokens > 0, n_stop / n_tokens.cast("double")).otherwise(
        F.lit(0.0)
    )
    mean_tok_len = F.when(
        n_tokens > 0,
        F.aggregate(
            tokens, F.lit(0.0), lambda acc, t: acc + F.length(t).cast("double")
        )
        / n_tokens.cast("double"),
    ).otherwise(F.lit(0.0))
    length_component = F.least(n_chars.cast("double") / F.lit(500.0), F.lit(1.0))
    score = F.round(
        length_component * 0.4 + stop_ratio * 0.4 + (1.0 - punct_ratio) * 0.2, 6
    )
    return docs.select(
        F.col("doc_id"),
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(mean_tok_len, 6).alias("mean_tok_len"),
        score.alias("quality_score"),
    )


# Soft-error markers: substrings whose presence on a SHORT page flags a
# served-200-but-really-an-error response (soft 404) — the crawl-cleaning
# filter that runs before any content-quality scoring.
ERROR_MARKERS: tuple[str, ...] = (
    "404",
    "page not found",
    "not found",
    "forbidden",
    "access denied",
    "internal server error",
    "does not exist",
)


def error_page_filter(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Soft-404 / error-page detection: count error-marker substrings in the
    lowercased text; a page is an error page when it carries at least one
    marker AND is short (< 50 whitespace tokens) — long pages that merely
    mention "404" are editorial content, not errors.

    Pure codegen expressions at scan speed (bounded marker literals, no
    UDF, no shuffle) — the verdict column is computed where the filter
    would be pushed. Output: (doc_id, n_tokens, marker_hits, is_error).
    """
    c = F.col(text_col)
    lc = F.lower(c)
    n_tokens = F.size(ws_tokens(c))
    hits = sum(
        (F.when(F.contains(lc, F.lit(m)), 1).otherwise(0) for m in ERROR_MARKERS),
        F.lit(0),
    )
    return docs.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        hits.cast("long").alias("marker_hits"),
        ((hits >= 1) & (n_tokens < 50)).alias("is_error"),
    )


# ---------------------------------------------------------------------------
# document fingerprinting
# ---------------------------------------------------------------------------


def fingerprints(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Content fingerprints: exact sha256 + normalized md5 (casefold/ws-collapse).

    The normalized fingerprint is the rolling-hash analogue the reference's
    pickle cache keys on (cache_manager.py:33-34, sha256 of raw bytes) —
    normalization makes it robust to whitespace/case-only edits.
    """
    docs = ensure_parallelism(docs)  # fan out narrow scans before the per-char/token hot loop
    c = F.col(text_col)
    normalized = F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))
    return docs.select(
        F.col("doc_id"),
        F.sha2(c, 256).alias("exact_fp"),
        F.md5(normalized).alias("norm_fp"),
    )


def winnow_fingerprints(
    docs: DataFrame,
    text_col: str = "text",
    *,
    k: int = 8,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al.): rolling k-char-gram
    hashes, minimum per sliding window of w, distinct selected values.

    Output: (doc_id, n_grams, n_selected, winnow_fp) where winnow_fp is the
    md5 of the sorted selected hash set — a compact, alignment-robust content
    fingerprint (two docs sharing long substrings share selected minima).

    Plan shape: the gram-hash array is materialized behind an exchange fence
    before the window pass — the sliding-window transform references it once
    per window, and without the fence Catalyst would inline (and re-hash) the
    whole gram array per window element, turning O(n·w) into O(n²) digests.
    """
    docs = ensure_parallelism(docs)  # fan out narrow scans before the per-char/token hot loop
    from ..operators.dedup import base_hash28

    c = F.col(text_col)
    # char k-grams via split + k shifted slices zipped with concat:
    # substring(c, i, k) per position re-scans the UTF-8 prefix per call
    # (O(chars²) per doc — round-4 lm_scores lesson); split materializes
    # the char array once and the zip_with lambdas touch only bound args.
    chars = F.split(c, "")
    mg = F.length(c) - (k - 1)
    gram = None
    for j in range(k):
        part = F.slice(chars, 1 + j, F.greatest(mg, F.lit(0)))
        gram = (
            part
            if gram is None
            else F.zip_with(gram, part, lambda a, b: F.concat(a, b))
        )
    hashes = F.transform(gram, base_hash28)
    hashed = docs.select("doc_id", hashes.alias("hs")).repartition("doc_id")
    m = F.size("hs")
    # sliding-window minima as an elementwise fold of w SHIFTED SLICES
    # (the same split/slice/zip_with discipline as the grams above): a
    # per-position slice+array_min allocates a w-array per element —
    # measured 2.6x slower than this fold at sf0.1
    mins = None
    for j in range(w):
        part = F.slice("hs", 1 + j, F.greatest(m - (w - 1), F.lit(0)))
        mins = part if mins is None else F.zip_with(
            mins, part, lambda a, b: F.least(a, b)
        )
    win_mins = F.when(m >= w, mins).otherwise(
        F.when(m > 0, F.array(F.array_min("hs"))).otherwise(
            F.array().cast("array<bigint>")
        )
    )
    selected = F.array_sort(F.array_distinct(win_mins))
    return hashed.select(
        "doc_id",
        m.cast("long").alias("n_grams"),
        F.size(selected).cast("long").alias("n_selected"),
        F.md5(F.concat_ws(",", F.transform(selected, lambda x: x.cast("string")))).alias(
            "winnow_fp"
        ),
    )


def repetition_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Repetition features for quality filtering: distinct-token ratio and
    the dominant token's share. explode -> two stacked aggregations (token
    counts, then per-doc max) — both map-side combinable."""
    docs = ensure_parallelism(docs)  # fan out narrow scans before the per-char/token hot loop
    tokens = docs.select(
        "doc_id", F.explode(ws_tokens(F.lower(F.col(text_col)))).alias("tok")
    )
    per_tok = tokens.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
    return (
        per_tok.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count("*").alias("n_distinct"),
            F.max("c").alias("top_token_count"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_distinct",
            F.round(F.col("n_distinct") / F.col("n_tokens").cast("double"), 6).alias(
                "distinct_ratio"
            ),
            F.round(
                F.col("top_token_count") / F.col("n_tokens").cast("double"), 6
            ).alias("top_token_share"),
        )
    )


def char_entropy(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Character-level Shannon entropy (bits/char) — the randomness quality
    signal of web-corpus curation: near-zero flags repeated-char spam,
    ~4 bits is normal prose, high values flag base64/minified/encrypted
    blobs (the C4/Gopher heuristic family alongside quality_scores).

    Scale shape: explode to (doc_id, char) -> two stacked map-side-combined
    aggregations (per-char-class counts, then the per-doc entropy sum) —
    the repetition_stats shape; the join-back to the full corpus is
    shuffle_hash, nothing corpus-sized is broadcast.

    Determinism across engines: entropy = -(1/n) * sum(cnt * log2(cnt/n));
    each class contributes cnt * round(log2(cnt/n), 6) summed as DECIMAL
    (exact, order-independent — libm log2 differs across engines by 1 ulp),
    then ONE double division and floor(micro) at the end (lm_scores
    discipline). Output: (doc_id, n_chars, n_distinct_chars, entropy_micro)
    with NULL entropy for empty documents.
    """
    docs = ensure_parallelism(docs)  # fan out narrow scans before the per-char/token hot loop
    c = F.col(text_col)
    n = F.length(c)
    # split('') materializes the char array in one O(chars) pass —
    # substr(i, 1) inside a position transform re-scans the UTF-8 prefix
    # per call, O(chars²) per doc (round-4 lm_scores lesson)
    ex = docs.where(n > 0).select(
        "doc_id", n.alias("n"), F.explode(F.split(c, "")).alias("ch")
    )
    pt = ex.groupBy("doc_id", "n", "ch").agg(F.count("*").alias("cnt"))
    term = F.col("cnt").cast("decimal(18,0)") * F.round(
        F.log2(F.col("cnt") / F.col("n").cast("double")), 6
    ).cast("decimal(18,6)")
    ent = pt.groupBy("doc_id", "n").agg(
        F.sum(term).alias("s"), F.count("*").alias("n_distinct")
    )
    return (
        docs.select("doc_id", n.cast("long").alias("n_chars"))
        .join(ent.select("doc_id", "s", "n_distinct").hint("shuffle_hash"),
              "doc_id", "left")
        .select(
            "doc_id",
            "n_chars",
            F.coalesce("n_distinct", F.lit(0)).cast("long").alias(
                "n_distinct_chars"
            ),
            F.when(
                F.col("s").isNotNull(),
                F.floor(
                    (-(F.col("s").cast("double")) / F.col("n_chars"))
                    * 1000000.0
                ).cast("long"),
            ).alias("entropy_micro"),
        )
    )


# ---------------------------------------------------------------------------
# normalization / redaction / corpus vocabulary
# ---------------------------------------------------------------------------


def nfc_normalized(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Unicode NFC normalization (UAX #15) — the canonicalization pass a
    multilingual corpus needs before exact dedup (composed vs decomposed
    diacritics hash differently; Vietnamese is full of both encodings in the
    wild). Spark has no NFC builtin, so this is an Arrow-batched pandas UDF
    over Python's unicodedata; DuckDB's nfc_normalize implements the same
    UAX #15 (verified equal on diacritic/ligature cases), so the oracle can
    state the identical computation."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        import unicodedata

        for s in batches:
            yield s.map(
                lambda t: unicodedata.normalize("NFC", t)
                if t is not None
                else None
            )

    return docs.withColumn("text_nfc", _nfc(F.col(text_col)))


# Dialect-portable PII patterns (simple classes only — Java regex and RE2
# agree): the anonymization pass of a web-text curation pipeline.
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_PATTERN = r"\+?[0-9][0-9 \-]{7,}[0-9]"


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact emails then phone-number-shaped digit runs (order matters: the
    email pass consumes its local digits so the phone pass can't bite into
    redacted addresses). Adds ``n_emails``/``n_phones`` counts and the
    ``redacted`` text — pure codegen (regexp_count + regexp_replace)."""
    c = F.col(text_col)
    no_email = F.regexp_replace(c, EMAIL_PATTERN, "[EMAIL]")
    return df.withColumns(
        {
            "n_emails": F.regexp_count(c, F.lit(EMAIL_PATTERN)).cast("long"),
            "n_phones": F.regexp_count(
                no_email, F.lit(PHONE_PATTERN)
            ).cast("long"),
            "redacted": F.regexp_replace(no_email, PHONE_PATTERN, "[PHONE]"),
        }
    )


def chunk_documents(
    docs: DataFrame,
    text_col: str = "text",
    *,
    window: int = 50,
    stride: int = 40,
) -> DataFrame:
    """Sliding-window token chunking — the context-window preparation step of
    a training pipeline: each document becomes overlapping ``window``-token
    chunks advancing by ``stride`` (overlap = window - stride), preserving
    order. Output: (doc_id, chunk_id, n_tokens, chunk_text); empty documents
    produce no chunks.

    Pure array expressions (tokenize once, slice per chunk) — stays in
    whole-stage codegen, fan-out is a single posexplode; no shuffle at all,
    so the operator scales exactly as the scan does.
    """
    # bind the token array in its own projection so the slice lambda
    # references a bound column — referencing the raw split() expression
    # inside the HOF re-tokenizes per chunk (PLANS #70/#80 discipline)
    bound = docs.select(
        "doc_id", ws_tokens(F.lower(F.col(text_col))).alias("__toks")
    )
    toks = F.col("__toks")
    n = F.size(toks)
    s, w = F.lit(stride), F.lit(window)
    n_chunks = F.floor((F.greatest(n - w, F.lit(0)) + s - 1) / s).cast("int") + 1
    starts = F.when(n > 0, F.sequence(F.lit(0), n_chunks - 1)).otherwise(
        F.array().cast("array<int>")
    )
    chunks = F.transform(starts, lambda i: F.slice(toks, i * s + 1, window))
    return (
        bound.select("doc_id", F.posexplode(chunks).alias("chunk_id", "c"))
        .select(
            "doc_id",
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.size("c").cast("long").alias("n_tokens"),
            F.array_join("c", " ").alias("chunk_text"),
        )
    )


def pack_sequences(
    docs: DataFrame,
    text_col: str = "text",
    *,
    seq_len: int = 64,
    bucket_size: int = 100_000,
) -> DataFrame:
    """Concat-and-split sequence packing (the GPT-style batch layout): lay
    every document's tokens end-to-end in doc_id order and cut fixed
    ``seq_len`` sequences; emit each document's placement. Output:
    (doc_id, n_tokens, start_offset, first_seq, last_seq) for documents with
    tokens — the metadata a loader needs to pack without materializing
    token-level rows.

    The global running offset is the scale hazard: ``sum() OVER (ORDER BY
    doc_id)`` is a single-partition window. Same cure as
    adjacent_word_overlap — cumsum inside id-range buckets (ordering by
    (bucket, doc_id) == ordering by doc_id), then add per-bucket offsets
    computed from the bounded bucket-total table (corpus/bucket_size rows,
    the only single-partition window). The oracle states the plain global
    window — identical result, different (scalable) plan.
    """
    # persisted: consumed by BOTH the in-bucket cumsum and the bucket-total
    # aggregate — without it the tokenize+size scan runs twice. Rows are
    # (long, long, long): metadata only, token arrays never enter this path.
    base = docs.select(
        "doc_id",
        F.size(ws_tokens(F.lower(F.col(text_col)))).cast("long").alias("n_tokens"),
        F.floor(F.col("doc_id") / bucket_size).alias("_bucket"),
    ).where(F.col("n_tokens") > 0).persist()
    in_bucket = Window.partitionBy("_bucket").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    local = base.withColumn(
        "_local_off", F.coalesce(F.sum("n_tokens").over(in_bucket), F.lit(0))
    )
    totals = base.groupBy("_bucket").agg(F.sum("n_tokens").alias("_tot"))
    over_buckets = Window.orderBy("_bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = totals.withColumn(
        "_bucket_off", F.coalesce(F.sum("_tot").over(over_buckets), F.lit(0))
    ).select("_bucket", "_bucket_off")
    packed = local.join(F.broadcast(offs), "_bucket").select(
        "doc_id",
        "n_tokens",
        (F.col("_local_off") + F.col("_bucket_off")).alias("start_offset"),
    )
    return packed.select(
        "doc_id",
        "n_tokens",
        "start_offset",
        F.floor(F.col("start_offset") / seq_len).alias("first_seq"),
        F.floor(
            (F.col("start_offset") + F.col("n_tokens") - 1) / seq_len
        ).alias("last_seq"),
    )


def bpe_pair_counts(
    docs: DataFrame, text_col: str = "text", *, top_k: int = 50
) -> DataFrame:
    """The inner loop of BPE tokenizer training: count adjacent
    character-pair frequencies WITHIN tokens across the corpus and return
    the top-k merge candidates. One explode → one map-side-combined groupBy
    onto the bounded pair vocabulary → TakeOrdered top-k (no full sort).
    Deterministic tiebreak (count desc, pair asc) so the result is a set.
    """
    toks = ws_tokens(F.lower(F.col(text_col)))
    pairs_per_doc = F.flatten(
        F.transform(
            toks,
            lambda t: F.transform(
                F.when(F.length(t) >= 2, F.sequence(F.lit(1), F.length(t) - 1))
                .otherwise(F.array().cast("array<int>")),
                lambda i: t.substr(i, F.lit(2)),
            ),
        )
    )
    return (
        docs.select(F.explode(pairs_per_doc).alias("pair"))
        .groupBy("pair")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("pair"))
        .limit(top_k)
    )


def holdout_split(
    docs: DataFrame,
    *,
    key_col: str = "doc_id",
    val_pct: int = 5,
    test_pct: int = 5,
) -> DataFrame:
    """Deterministic train/val/test assignment — the split every training
    run needs, content-addressed so membership never changes when the
    corpus grows or repartitions (a doc can never silently migrate from
    test into train). Buckets: [0, val) -> val, [val, val+test) -> test,
    rest -> train, over the md5 bucket in [0, 10000).
    """
    from .sampling import hash_bucket

    b = hash_bucket(F.col(key_col))  # [0, 10000): percent = bucket / 100
    split = (
        F.when(b < val_pct * 100, F.lit("val"))
        .when(b < (val_pct + test_pct) * 100, F.lit("test"))
        .otherwise(F.lit("train"))
    )
    return docs.select(key_col, split.alias("split"))


def lm_scores(
    docs: DataFrame, text_col: str = "text", *, map_literal_max: int = 4096
) -> DataFrame:
    """CCNet-style LM quality scoring with a SELF-TRAINED character-bigram
    model: P(c2|c1) from corpus counts, per-document score = average negative
    log-likelihood of its bigrams (lower = more "normal" text — the
    perplexity filter of web-corpus curation, with the n-gram model trained
    on the corpus itself so no external artifact is needed).

    Scale shape (fused in round 3 per VERDICT r2 ask #9): TRAINING explodes
    the corpus to bigrams once — two map-side-combined groupBys onto the
    bounded alphabet²-sized vocabulary, so the shuffle carries only vocab
    rows. SCORING depends on the vocab size the training pass measured:

    - vocab <= ``map_literal_max`` (alphabetic scripts: ~100s of bigrams):
      the model collects to the driver — it IS a scalar-sized artifact —
      and scoring is a pure projection folded over each document in ONE
      scan. No persist, no scoring explode, no broadcast join, no
      groupBy(doc_id) shuffle, no join-back (measured 5.5 s -> one scan
      at sf0.1 in round 3). Round 4 made the scan itself O(chars) instead
      of O(chars * vocab + chars²): documents are split into a char array
      ONCE (``substr(i, ·)`` inside a position transform re-scans the
      UTF-8 prefix per call — O(n²) per doc — and any computed expression
      referenced inside a HOF lambda is re-inlined PER ELEMENT, the
      CollapseProject trap, measured 10x backwards on a translate()
      variant); bigram pairs come from zip_with over two slices (lambda
      args are bound values — never re-inlined), and when the alphabet
      fits 7-bit (K <= 127) each lookup is an O(1) element_at into a
      K*K array literal indexed by translate()-encoded char codes
      (measured 3.7 s -> 0.8 s at sf0.1, bit-identical). Larger
      alphabets keep the map-literal lookup (O(vocab) per bigram) on the
      zip_with shape; both paths sum the identical 6-dp decimals.
    - vocab > ``map_literal_max`` (CJK corpora blow up char-bigram vocab):
      fall back to the explode + broadcast-model join + groupBy(doc_id)
      shape — the join is then the right tool, and a multi-MB map literal
      would bloat the plan past codegen limits.

    Determinism across engines: each bigram's ln P is rounded to 6 dp and
    summed as DECIMAL (exact, order-independent — 6 dp because libm ln
    differs across engines by 1 ulp and decimal-rounding tie probability
    scales with ulp/granularity), then one double division and floor(·1e6)
    at the end. Both scoring paths sum the identical decimals, so they are
    bit-equal by exactness of decimal addition.

    Output: (doc_id, n_bigrams, nll_micro) for every document; NULL score
    for documents shorter than 2 characters.
    """
    lt = F.lower(F.col(text_col))

    def _bigram_pairs(col):
        """(A, B) char-array slices such that zip(A, B) enumerates the
        column's adjacent char pairs — split once per row, O(chars)."""
        chars = F.split(col, "")
        return (
            F.slice(chars, 1, F.length(col) - 1),
            F.slice(chars, 2, F.length(col) - 1),
        )

    src = docs.select("doc_id", lt.alias("lt")).where(F.length("lt") >= 2)
    a_t, b_t = _bigram_pairs(F.col("lt"))
    ex = src.select(
        "doc_id",
        F.explode(F.zip_with(a_t, b_t, lambda a, b: F.concat(a, b))).alias(
            "bg"
        ),
    )
    mc = ex.groupBy("bg").agg(F.count("*").alias("cnt"))
    pc = mc.groupBy(F.substring("bg", 1, 1).alias("c1")).agg(
        F.sum("cnt").alias("pcnt")
    )
    model = (
        mc.join(pc, F.substring("bg", 1, 1) == F.col("c1"))
        .select(
            "bg",
            F.round(F.log(F.col("cnt") / F.col("pcnt").cast("double")), 6)
            .cast("decimal(28,12)")
            .alias("lnp"),
        )
    )
    model_rows = model.collect()  # bounded: alphabet² vocabulary
    if len(model_rows) <= map_literal_max:
        zero = F.lit(0).cast("decimal(28,12)")
        alphabet = sorted({c for r in model_rows for c in r["bg"]})
        k = len(alphabet)
        if model_rows and k <= 127:
            # O(1) lookup: translate() encodes each char to 1..k once per
            # row, then (a,b) indexes a k*k array literal (absent pairs
            # are NULL, same as the map path's try_element_at — and every
            # bigram of a scored doc exists in the self-trained model).
            pos = {c: i for i, c in enumerate(alphabet)}
            flat: list = [None] * (k * k)
            for r in model_rows:
                flat[pos[r["bg"][0]] * k + pos[r["bg"][1]]] = r["lnp"]
            arr = F.array(
                *[F.lit(v).cast("decimal(28,12)") for v in flat]
            )
            enc = F.translate(
                lt,
                "".join(alphabet),
                "".join(chr(i + 1) for i in range(k)),
            )
            a_s, b_s = _bigram_pairs(enc)
            vals = F.zip_with(
                a_s,
                b_s,
                lambda a, b: F.element_at(
                    arr, (F.ascii(a) - 1) * k + F.ascii(b)
                ),
            )
        elif model_rows:
            # alphabet too wide for 7-bit translate codes: keep the map
            # literal (O(vocab) per lookup) on the same zip_with shape.
            entries = []
            for r in model_rows:
                entries.append(F.lit(r["bg"]))
                entries.append(F.lit(r["lnp"]).cast("decimal(28,12)"))
            lnp_map = F.create_map(*entries)
            a_s, b_s = _bigram_pairs(lt)
            vals = F.zip_with(
                a_s,
                b_s,
                lambda a, b: F.try_element_at(lnp_map, F.concat(a, b)),
            )
        else:
            vals = None
        s = (
            F.aggregate(
                vals,
                zero,
                lambda acc, x: (acc + x).cast("decimal(28,12)"),
            )
            if vals is not None
            else zero
        )
        m = (F.length(lt) - 1).cast("long")
        long_enough = F.length(lt) >= 2
        return docs.select(
            "doc_id",
            F.when(long_enough, m).otherwise(F.lit(0)).cast("long").alias(
                "n_bigrams"
            ),
            F.when(
                long_enough,
                F.floor((-(s.cast("double")) / m) * 1000000.0).cast("long"),
            ).alias("nll_micro"),
        )
    sc = (
        ex.join(F.broadcast(model), "bg")
        .groupBy("doc_id")
        .agg(F.sum("lnp").alias("s"), F.count("*").alias("m"))
    )
    return (
        docs.select("doc_id")
        .join(sc.hint("shuffle_hash"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("m", F.lit(0)).cast("long").alias("n_bigrams"),
            F.when(
                F.col("m").isNotNull(),
                F.floor(
                    (-(F.col("s").cast("double")) / F.col("m")) * 1000000.0
                ).cast("long"),
            ).alias("nll_micro"),
        )
    )


def packed_sequence_rows(
    docs: DataFrame,
    text_col: str = "text",
    *,
    seq_len: int = 64,
    bucket_size: int = 100_000,
) -> DataFrame:
    """Materialize the packed training sequences ``pack_sequences`` lays out:
    every token gets its global index (doc start_offset + in-doc position),
    sequences are the ``seq_len``-sized cuts of that stream — documents
    crossing a boundary are split, sequences mixing documents are merged,
    exactly like a GPT-style loader. Output: (seq_id, n_tokens, seq_text);
    all sequences are full except the final one.

    Scale shape: the token explode is the honest cost (corpus tokens × 1
    rows — this IS the materialization a loader performs); the only shuffle
    after it is one partial-aggregated groupBy on seq_id, where each group
    is bounded at seq_len tokens. The per-doc metadata joins in by
    shuffle_hash (corpus-sized, never broadcast); in-sequence order is
    restored by sorting the ≤seq_len collected (gidx, tok) structs.
    """
    meta = pack_sequences(
        docs, text_col, seq_len=seq_len, bucket_size=bucket_size
    ).select("doc_id", "start_offset")
    toks = docs.select(
        "doc_id",
        F.posexplode(ws_tokens(F.lower(F.col(text_col)))).alias("pos", "tok"),
    )
    j = toks.join(meta.hint("shuffle_hash"), "doc_id").select(
        (F.col("start_offset") + F.col("pos")).alias("gidx"), "tok"
    )
    return (
        j.groupBy(F.floor(F.col("gidx") / seq_len).alias("seq_id"))
        .agg(
            F.count("*").alias("n_tokens"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("gidx", "tok"))),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("seq_text"),
        )
    )


# fastText-style linear quality classifier: fixed, published-shape weights
# over the same feature battery quality_scores computes. Pure per-row
# arithmetic (same operation order both engines -> bit-identical doubles).
QUALITY_CLF_WEIGHTS = {
    "length_component": 1.2,
    "stop_ratio": 2.0,
    "punct_ratio": -3.0,
    "mean_tok_len_capped": 0.8,
    "distinct_ratio": 1.5,
}
QUALITY_CLF_BIAS = -1.78  # ≈ -(p10 of w·x on the test corpus): keep ~90%


def quality_classifier(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Linear quality-classifier INFERENCE (the keep/drop model a curation
    funnel consumes): logit = w·x + b over per-row features, label = logit>=0.

    The logit is emitted instead of a sigmoid probability: the decision is
    identical (sigmoid is monotone) and the score stays pure arithmetic, so
    the DuckDB oracle reproduces it bit-for-bit — exp() last-ulp divergence
    across libms would otherwise flip rounded boundaries. The score column is
    ``floor(logit * 1e6)`` as a bigint rather than round(·, 6): decimal
    HALF_UP ties one ulp apart resolve differently across engines (measured:
    one row in 500 at sf0.01), while floor of the identical binary double is
    exact everywhere. Whole expression is JVM codegen (no UDF); features are
    computed once per row in one pass.
    """
    docs = ensure_parallelism(docs)  # fan out narrow scans before the per-char/token hot loop
    c = F.col(text_col)
    tokens = ws_tokens(F.lower(c))
    n_chars = F.length(c)
    n_tokens = F.size(tokens)
    n_punct = F.size(F.regexp_extract_all(c, F.lit(r"[^A-Za-z0-9\s]"), 0))
    stop_lits = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(tokens, lambda t: F.array_contains(stop_lits, t)))
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars.cast("double")).otherwise(
        F.lit(0.0)
    )
    stop_ratio = F.when(n_tokens > 0, n_stop / n_tokens.cast("double")).otherwise(
        F.lit(0.0)
    )
    mean_tok_len = F.when(
        n_tokens > 0,
        F.aggregate(
            tokens, F.lit(0.0), lambda acc, t: acc + F.length(t).cast("double")
        )
        / n_tokens.cast("double"),
    ).otherwise(F.lit(0.0))
    length_component = F.least(n_chars.cast("double") / F.lit(500.0), F.lit(1.0))
    mean_tok_len_capped = F.least(mean_tok_len / F.lit(10.0), F.lit(1.0))
    distinct_ratio = F.when(
        n_tokens > 0,
        F.size(F.array_distinct(tokens)) / n_tokens.cast("double"),
    ).otherwise(F.lit(0.0))
    w = QUALITY_CLF_WEIGHTS
    logit = (
        length_component * F.lit(w["length_component"])
        + stop_ratio * F.lit(w["stop_ratio"])
        + punct_ratio * F.lit(w["punct_ratio"])
        + mean_tok_len_capped * F.lit(w["mean_tok_len_capped"])
        + distinct_ratio * F.lit(w["distinct_ratio"])
        + F.lit(QUALITY_CLF_BIAS)
    )
    return docs.select(
        "doc_id",
        F.floor(logit * F.lit(1000000.0)).cast("long").alias("clf_logit_micro"),
        (logit >= 0).cast("int").alias("clf_keep"),
    )


def line_dedup(
    docs: DataFrame,
    text_col: str = "text",
    *,
    line_tokens: int = 10,
    max_df: int = 5,
) -> DataFrame:
    """Corpus-level boilerplate line removal (the RefinedWeb/CCNet shape):
    drop every line that occurs in more than ``max_df`` DISTINCT documents,
    keep the rest in order. The web-scale generalization of the reference's
    per-document block keep/drop (kernels.py K2/P3 density filter): headers,
    nav strips and cookie banners repeat VERBATIM across a site's pages, so
    document frequency of the line — not any per-page heuristic — is the
    boilerplate signal.

    "Lines" here are deterministic ``line_tokens``-token segments of the
    normalized (lowercased, whitespace-split) text, so the operator is
    corpus-structure-agnostic and the oracle can state the identical
    segmentation.

    Scale shape: explode to (doc_id, pos, line) -> groupBy(md5(line)) with a
    partial-aggregated distinct-doc count -> join the verdict back ON THE
    SAME key, so the exchange introduced by the groupBy is reused by the
    join (one shuffle of 32-byte keys covers both); reassembly is one
    groupBy(doc_id) over sort-ready (pos, line) structs. No corpus-sized
    broadcast anywhere; the hot keys (most-repeated boilerplate lines) are
    exactly the rows the filter discards before reassembly.

    Output: (doc_id, n_lines, n_kept, kept_text) for every input document —
    kept_text NULL when everything was boilerplate (or the doc was empty).
    """
    docs = ensure_parallelism(docs)  # fan out narrow scans before the per-char/token hot loop
    # bind toks, then lines, each in its own projection: referencing the
    # raw split() inside the slice lambda re-tokenizes per line, and
    # size(lines) next to lines.alias() evaluates the transform twice
    # (PLANS #70/#80 discipline)
    bound = docs.select(
        "doc_id", ws_tokens(F.lower(F.col(text_col))).alias("__toks")
    )
    toks = F.col("__toks")
    n = F.size(toks)
    lt = F.lit(line_tokens)
    # ceil(n/lt) line slices; sequence(0,-1) is DESCENDING, hence the guard
    idx = F.when(n > 0, F.sequence(F.lit(0), F.ceil(n / lt).cast("int") - 1)).otherwise(
        F.array().cast("array<int>")
    )
    lines = F.transform(
        idx, lambda i: F.array_join(F.slice(toks, i * lt + 1, line_tokens), " ")
    )
    base = bound.select("doc_id", lines.alias("lines")).select(
        "doc_id", "lines", F.size("lines").alias("n_lines")
    )
    exploded = base.select(
        "doc_id", "n_lines", F.posexplode("lines").alias("pos", "line")
    ).withColumn("h", F.md5("line"))
    dfreq = exploded.groupBy("h").agg(
        F.count_distinct("doc_id").alias("line_df")
    )
    # shuffle_hash: dfreq has one row per DISTINCT LINE — corpus-sized, never
    # broadcastable (the planner happily broadcasts it at test scale; at 100 TB
    # that's the driver-funnel trap BASELINE.md measured at 0.26 scaling).
    # Both sides are already exchanged on h, so the hint costs nothing extra.
    kept = (
        exploded.join(dfreq.hint("shuffle_hash"), "h")
        .where(F.col("line_df") <= max_df)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s["line"],
                ),
                " ",
            ).alias("kept_text"),
        )
    )
    return (
        base.select("doc_id", "n_lines")
        .join(kept.hint("shuffle_hash"), "doc_id", "left")  # kept is corpus-sized
        .select(
            "doc_id",
            "n_lines",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            "kept_text",
        )
    )


def inverted_index(
    docs: DataFrame, text_col: str = "text", *, seg_buckets: int = 8
) -> DataFrame:
    """Positional inverted-index build: term -> posting-list SEGMENTS, the
    classic IR index construction as two map-side-combined shuffles.

    The web-scale skew trap this shape dodges: assembling a stopword's
    postings with one collect per term routes the corpus's most frequent
    term through ONE reducer. Segmenting by doc_id bucket bounds every
    reducer at ~1/seg_buckets of the worst term's postings (seg_buckets
    scales with corpus size; at rest (term, seg) is the index table's sort
    key, so a term lookup reads seg_buckets co-located ranges).

    Output: (term, seg, n_docs, n_postings, postings) — postings is the
    segment's posting list serialized "doc:p1|p2;doc:p1" ordered by doc_id,
    positions 0-based ascending (string-serialized: engine-portable and
    splittable back at read time).
    """
    docs = ensure_parallelism(docs)  # fan out narrow scans before the per-char/token hot loop
    tok = docs.select(
        "doc_id",
        F.posexplode(ws_tokens(F.lower(F.col(text_col)))).alias("pos", "term"),
    )
    perdoc = tok.groupBy(
        "term", (F.col("doc_id") % seg_buckets).cast("long").alias("seg"), "doc_id"
    ).agg(
        F.sort_array(F.collect_list("pos")).alias("pos_list"),
        F.count("*").alias("tf"),
    )
    entry = F.concat(
        F.col("doc_id").cast("string"),
        F.lit(":"),
        F.concat_ws("|", F.transform("pos_list", lambda p: p.cast("string"))),
    )
    return (
        perdoc.select("term", "seg", "doc_id", "tf", entry.alias("entry"))
        .groupBy("term", "seg")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("tf").cast("long").alias("n_postings"),
            F.concat_ws(
                ";",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("doc_id", "entry"))),
                    lambda s: s["entry"],
                ),
            ).alias("postings"),
        )
    )


def tfidf_top_terms(
    docs: DataFrame, k: int = 3, text_col: str = "text"
) -> DataFrame:
    """Per-document top-k TF-IDF terms: tf = c/doc_tokens, idf = ln(N/df),
    ranked on the 6-dp-rounded score (tiebreak: token asc) so the ordering is
    engine-portable.

    Scale shape: token explode -> (doc, token) counts (map-side combined) ->
    document-frequency join on token -> rank window partitioned by doc_id.
    The window partition is ONE DOCUMENT's vocabulary — bounded by document
    length, never by corpus size, so (unlike a per-query kNN window) it
    cannot concentrate a reducer. N arrives as a broadcast 1-row aggregate.
    """
    docs = ensure_parallelism(docs)  # fan out narrow scans before the per-char/token hot loop
    from pyspark.sql import Window

    c = F.col(text_col)
    toks = docs.select(
        "doc_id", F.explode(ws_tokens(F.lower(c))).alias("token")
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("c"))
    n_tok = tf.groupBy("doc_id").agg(F.sum("c").alias("n_tokens"))
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df"))
    total = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(n_tok, "doc_id")
        .join(dfreq, "token")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "token",
            F.round(
                (F.col("c") / F.col("n_tokens").cast("double"))
                * F.log(F.col("n_docs") / F.col("df").cast("double")),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "token")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy("doc_id", "rank")
    )


def top_terms(docs: DataFrame, k: int = 20, text_col: str = "text") -> DataFrame:
    """Corpus top-k vocabulary (stopwords removed): explode -> map-side-
    combined count -> TakeOrdered top-k (count desc, token asc — total
    order). The corpus-profiling pass that drives tokenizer/mix decisions."""
    toks = docs.select(
        F.explode(ws_tokens(F.lower(F.col(text_col)))).alias("token")
    ).where(~F.col("token").isin(*STOPWORDS))
    return (
        toks.groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("token"))
        .limit(k)
    )


def extraction_eval(
    df: DataFrame,
    pred_col: str = "extracted_text",
    gold_col: str = "gold_text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Token-multiset precision/recall/F1 of an extraction against gold —
    the scorer behind the north rule's "byte-identical extracted text"
    gate, relaxed to token overlap so partial extractors are measurable
    (boilerplate kept -> precision drops; content dropped -> recall drops).
    Reference analogue: the golden-file comparisons in the reference's
    test suite (SURVEY.md §5), promoted to a corpus-scale operator.

    Shape: explode both sides to (id, token) counts (map-side combined),
    ONE co-partitioned full-outer join on (id, token) — both sides arrive
    hash-partitioned on the same key, so no broadcast and no re-exchange —
    then one groupBy(id). Multiset intersection = sum of min(count_pred,
    count_gold) per token. Metrics are emitted as floor(metric * 1e6)
    bigints via integer division (micro-F1 = 2i/(na+nb) exactly), so no
    float rounding can diverge across engines. Docs where BOTH sides
    tokenize empty are omitted (no tokens -> no rows survive the join).
    """
    idc = F.col(id_col)
    a = (
        df.select(idc.alias("id"), F.explode(ws_tokens(F.col(pred_col))).alias("tok"))
        .groupBy("id", "tok")
        .agg(F.count(F.lit(1)).alias("ca"))
    )
    b = (
        df.select(idc.alias("id"), F.explode(ws_tokens(F.col(gold_col))).alias("tok"))
        .groupBy("id", "tok")
        .agg(F.count(F.lit(1)).alias("cb"))
    )
    j = a.join(b, ["id", "tok"], "full_outer").select(
        "id",
        F.coalesce("ca", F.lit(0)).alias("ca"),
        F.coalesce("cb", F.lit(0)).alias("cb"),
    )
    per = j.groupBy("id").agg(
        F.sum(F.least("ca", "cb")).alias("inter"),
        F.sum("ca").alias("na"),
        F.sum("cb").alias("nb"),
    )
    def micro(num: str, den: str) -> Column:
        return (
            F.when(F.expr(den) > 0, F.expr(f"({num}) div ({den})"))
            .otherwise(F.lit(0))
            .cast("long")
        )
    return per.select(
        F.col("id").alias(id_col),
        F.col("na").cast("long").alias("pred_tokens"),
        F.col("nb").cast("long").alias("gold_tokens"),
        F.col("inter").cast("long").alias("overlap_tokens"),
        micro("inter * 1000000", "na").alias("precision_ppm"),
        micro("inter * 1000000", "nb").alias("recall_ppm"),
        micro("2 * inter * 1000000", "na + nb").alias("f1_ppm"),
    )


# ---------------------------------------------------------------------------
# per-host template-line detection (round 3)
# ---------------------------------------------------------------------------


def host_template_lines(
    docs: DataFrame,
    text_col: str = "text",
    host_col: str = "host",
    *,
    line_tokens: int = 10,
    min_frac_micro: int = 500000,
    min_docs: int = 2,
) -> DataFrame:
    """Per-HOST boilerplate template detection — the site-template miner:
    a line that appears on >= 50% of a single host's pages is that site's
    nav/footer/cookie-banner, even if it appears nowhere else in the
    corpus. The host-scoped complement of corpus-global ``line_dedup``
    (same CCNet/RefinedWeb family): global df-caps catch cross-site
    boilerplate, but a 100-page site's template repeats only 100 times in
    a 10^10-page corpus — invisible globally, dominant within the host.
    Reference analogue: the per-document repeated-block heuristic
    (kernels.py K2/P3 density filter), lifted from page-internal to
    host-internal evidence.

    Lines are the same deterministic ``line_tokens``-token segments as
    ``line_dedup`` so the two operators compose on one segmentation.

    Scale shape: distinct (host, doc, line-hash) via a map-side-combined
    groupBy -> per-(host, line) distinct-doc counts -> join per-host page
    counts ON host with shuffle_hash (one row per host is still ~10^8
    rows at crawl scale — never broadcast). The hot keys are the template
    lines themselves, which is exactly the bounded output; payload text
    rides as min(line) so the exchange carries one line per hash, not one
    per occurrence.

    Output: (host, line, n_docs, host_docs, frac_micro) for lines at
    >= ``min_frac_micro`` of the host's pages (floor micro-units) and
    >= ``min_docs`` distinct pages.
    """
    # bind toks in its own projection — the slice lambda must reference a
    # bound column, not the raw split() (PLANS #70/#80 discipline)
    bound = docs.select(
        F.col(host_col).alias("host"),
        F.col("doc_id"),
        ws_tokens(F.lower(F.col(text_col))).alias("__toks"),
    )
    toks = F.col("__toks")
    n = F.size(toks)
    lt = F.lit(line_tokens)
    idx = F.when(n > 0, F.sequence(F.lit(0), F.ceil(n / lt).cast("int") - 1)).otherwise(
        F.array().cast("array<int>")
    )
    lines = F.transform(
        idx, lambda i: F.array_join(F.slice(toks, i * lt + 1, line_tokens), " ")
    )
    exploded = bound.select(
        "host",
        "doc_id",
        F.explode(lines).alias("line"),
    ).withColumn("h", F.md5("line"))
    per_line = exploded.groupBy("host", "h").agg(
        F.count_distinct("doc_id").alias("n_docs"),
        F.min("line").alias("line"),
    )
    host_docs = docs.groupBy(F.col(host_col).alias("host")).agg(
        F.count_distinct("doc_id").alias("host_docs")
    )
    frac = F.floor(F.col("n_docs") * 1000000 / F.col("host_docs"))
    return (
        per_line.join(host_docs.hint("shuffle_hash"), "host")
        .where((frac >= min_frac_micro) & (F.col("n_docs") >= min_docs))
        .select(
            "host",
            "line",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("host_docs").cast("long").alias("host_docs"),
            frac.cast("long").alias("frac_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Gopher-style document quality rules (Rae et al. 2021, appendix A)
# ---------------------------------------------------------------------------

# The published Gopher rule stopword set (distinct from the lang-ID
# STOPWORDS above): a document must contain at least two of these.
GOPHER_STOPWORDS: tuple[str, ...] = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)


def gopher_rules(
    docs: DataFrame, text_col: str = "text", *, line_tokens: int = 10
) -> DataFrame:
    """Gopher document-quality rule battery (Rae et al. 2021 appendix A —
    the published web-corpus filter the reference's per-page keep/drop
    heuristics correspond to at document granularity):

    - word count in [50, 100_000]
    - mean word length in [3, 10]
    - symbol-to-word ratio ('#' / '...' / U+2026) <= 0.1
    - fraction of bullet-starting lines <= 0.9
    - fraction of ellipsis-ending lines <= 0.3
    - fraction of words with at least one alphabetic character >= 0.8
    - at least 2 hits from the published 8-word stopword set

    "Lines" are the same deterministic ``line_tokens``-token segments used
    by ``line_dedup`` (the corpus-structure-agnostic stand-in; a real crawl
    corpus would split on newlines) — bullet = segment starts with '-', '*'
    or U+2022; ellipsis = segment ends with '...' or U+2026.

    Everything is per-row whole-stage-codegen arithmetic over one token
    array — no shuffle, no UDF; at 100 TB this runs at scan speed with
    column pruning down to (doc_id, text). Ratios round to 6 dp for
    engine-portable hashing.

    Output: (doc_id, n_words, mean_word_len, symbol_ratio, frac_alpha_words,
    n_stop_hits, frac_bullet_lines, frac_ellipsis_lines, gopher_pass).
    """
    docs = ensure_parallelism(docs)  # fan out narrow scans before the per-char/token hot loop
    c = F.col(text_col)
    # bind the token array in its own projection: the line-slice lambda
    # and the aggregate/filter HOFs must reference a bound column, not
    # the raw split() expression (PLANS #70/#80 discipline)
    docs = docs.select("doc_id", c.alias(text_col), ws_tokens(F.lower(c)).alias("__toks"))
    toks = F.col("__toks")
    n = F.size(toks)
    nd = n.cast("double")
    mean_len = F.when(
        n > 0,
        F.aggregate(toks, F.lit(0.0), lambda a, t: a + F.length(t).cast("double"))
        / nd,
    ).otherwise(F.lit(0.0))
    n_sym = F.size(F.regexp_extract_all(c, F.lit("#|\\.\\.\\.|…"), 0))
    symbol_ratio = F.when(n > 0, n_sym / nd).otherwise(F.lit(0.0))
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
    frac_alpha = F.when(n > 0, n_alpha / nd).otherwise(F.lit(0.0))
    stop_lits = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_lits, t)))
    # deterministic line segments (same construction as line_dedup)
    lt = F.lit(line_tokens)
    idx = F.when(
        n > 0, F.sequence(F.lit(0), F.ceil(n / lt).cast("int") - 1)
    ).otherwise(F.array().cast("array<int>"))
    lines_expr = F.transform(
        idx, lambda i: F.array_join(F.slice(toks, i * lt + 1, line_tokens), " ")
    )
    # lines feeds three HOFs below — bind it once too
    docs = docs.select("doc_id", "__toks", lines_expr.alias("__lines"), c.alias(text_col))
    lines = F.col("__lines")
    n_lines = F.size(lines)
    nld = n_lines.cast("double")
    n_bullet = F.size(F.filter(lines, lambda l: l.rlike("^[\\-\\*•]")))
    n_ellip = F.size(F.filter(lines, lambda l: l.rlike("(\\.\\.\\.|…)$")))
    frac_bullet = F.when(n_lines > 0, n_bullet / nld).otherwise(F.lit(0.0))
    frac_ellip = F.when(n_lines > 0, n_ellip / nld).otherwise(F.lit(0.0))
    gopher_pass = (
        (n >= 50) & (n <= 100_000)
        & (mean_len >= 3.0) & (mean_len <= 10.0)
        & (symbol_ratio <= 0.1)
        & (frac_bullet <= 0.9)
        & (frac_ellip <= 0.3)
        & (frac_alpha >= 0.8)
        & (n_stop >= 2)
    )
    return docs.select(
        "doc_id",
        n.cast("long").alias("n_words"),
        F.round(mean_len, 6).alias("mean_word_len"),
        F.round(symbol_ratio, 6).alias("symbol_ratio"),
        F.round(frac_alpha, 6).alias("frac_alpha_words"),
        n_stop.cast("long").alias("n_stop_hits"),
        F.round(frac_bullet, 6).alias("frac_bullet_lines"),
        F.round(frac_ellip, 6).alias("frac_ellipsis_lines"),
        gopher_pass.alias("gopher_pass"),
    )


def gopher_repetition(
    docs: DataFrame, text_col: str = "text", *, line_tokens: int = 10
) -> DataFrame:
    """Gopher repetition-removal metrics (Rae et al. 2021 appendix A): the
    within-document duplication signals that catch templated/spun pages the
    token-level ``repetition_stats`` misses.

    - dup_line_frac: fraction of line segments whose text occurs more than
      once within the document (ALL members of a duplicated group count);
    - dup_line_char_frac: fraction of line characters inside such segments;
    - top_bigram_char_frac: characters covered by the most frequent token
      bigram (count x bigram length / total text chars), ties broken toward
      the lexicographically LARGEST bigram via a sortable zero-padded
      "count:bigram" string-encoded argmax — deterministic in both engines
      (DuckDB max_by leaves ties unspecified, so neither side uses it).

    Lines are the deterministic ``line_tokens``-token segments shared with
    ``line_dedup`` / ``gopher_rules``; bigrams are adjacent lowercase
    whitespace-token pairs.

    Scale shape: two independent explode -> groupBy(doc_id, unit) ->
    groupBy(doc_id) cascades (lines, bigrams), each map-side combinable on
    a (doc_id, md5) key, then one shuffle_hash join on doc_id — no
    corpus-sized broadcast, no window, no UDF. Per-doc group cardinality is
    bounded by document length, so no skew beyond document size itself
    (handled upstream by size-bucket salting in the extraction stage).

    Output: (doc_id, n_lines, dup_line_frac, dup_line_char_frac,
    top_bigram_char_frac) for every input document; fractions are 0.0 for
    docs too short to form the unit. Rounded to 6 dp.
    """
    docs = ensure_parallelism(docs)  # fan out narrow scans before the per-char/token hot loop
    c = F.col(text_col)
    # bind toks before slicing lines from it — the slice lambda must
    # reference a bound column (PLANS #70/#80 discipline)
    bound = docs.select(
        "doc_id",
        F.length(c).cast("long").alias("n_chars"),
        ws_tokens(F.lower(c)).alias("toks"),
    )
    toks = F.col("toks")
    n = F.size(toks)
    lt = F.lit(line_tokens)
    idx = F.when(
        n > 0, F.sequence(F.lit(0), F.ceil(n / lt).cast("int") - 1)
    ).otherwise(F.array().cast("array<int>"))
    lines = F.transform(
        idx, lambda i: F.array_join(F.slice(toks, i * lt + 1, line_tokens), " ")
    )
    base = bound.select(
        "doc_id",
        "n_chars",
        lines.alias("lines"),
        "toks",
    )
    # --- duplicate line segments -----------------------------------------
    line_rows = base.select("doc_id", F.explode("lines").alias("line"))
    per_line = line_rows.groupBy("doc_id", F.md5("line").alias("h")).agg(
        F.count("*").alias("cnt"), F.min(F.length("line")).alias("llen")
    )
    line_agg = per_line.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_lines"),
        F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0)).alias("dup_lines"),
        F.sum(F.col("cnt") * F.col("llen")).alias("line_chars"),
        F.sum(
            F.when(F.col("cnt") > 1, F.col("cnt") * F.col("llen")).otherwise(0)
        ).alias("dup_line_chars"),
    )
    # --- top bigram ------------------------------------------------------
    bi_idx = F.when(
        F.size("toks") >= 2, F.sequence(F.lit(1), F.size("toks") - 1)
    ).otherwise(F.array().cast("array<int>"))
    bigrams = F.transform(
        bi_idx,
        lambda i: F.concat_ws(
            " ", F.element_at("toks", i), F.element_at("toks", i + 1)
        ),
    )
    bi_rows = base.select("doc_id", F.explode(bigrams).alias("bg"))
    per_bg = bi_rows.groupBy("doc_id", "bg").agg(F.count("*").alias("cnt"))
    # string-encoded argmax: lpad count to 12 digits so lexicographic order
    # equals (count, bigram) order; recover count and bigram length after
    bg_top = per_bg.groupBy("doc_id").agg(
        F.max(
            F.concat(F.lpad(F.col("cnt").cast("string"), 12, "0"), F.lit(":"), "bg")
        ).alias("enc")
    ).select(
        "doc_id",
        F.substring("enc", 1, 12).cast("long").alias("top_cnt"),
        (F.length("enc") - 13).cast("long").alias("top_len"),
    )
    out = (
        base.select("doc_id", "n_chars")
        .join(line_agg.hint("shuffle_hash"), "doc_id", "left")
        .join(bg_top.hint("shuffle_hash"), "doc_id", "left")
    )
    nl = F.coalesce(F.col("n_lines"), F.lit(0))
    return out.select(
        "doc_id",
        nl.cast("long").alias("n_lines"),
        F.round(
            F.when(nl > 0, F.coalesce("dup_lines", F.lit(0)) / nl.cast("double"))
            .otherwise(F.lit(0.0)),
            6,
        ).alias("dup_line_frac"),
        F.round(
            F.when(
                F.coalesce("line_chars", F.lit(0)) > 0,
                F.coalesce("dup_line_chars", F.lit(0))
                / F.col("line_chars").cast("double"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("dup_line_char_frac"),
        F.round(
            F.when(
                (F.col("n_chars") > 0) & F.col("top_cnt").isNotNull(),
                (F.col("top_cnt") * F.col("top_len")) / F.col("n_chars").cast("double"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("top_bigram_char_frac"),
    )


# ---------------------------------------------------------------------------
# mojibake / encoding-damage detection
# ---------------------------------------------------------------------------

# UTF-8 bytes re-decoded as latin-1/cp1252 leave these signatures: a stray
# 'A-tilde' (U+00C3) or 'A-circumflex' (U+00C2) followed by a character in
# the re-decoded continuation range (2-byte sequences, e.g. e-acute ->
# 'Ã©'), and 'â€&#x2039;x' triples (3-byte punctuation, e.g.
# RIGHT SINGLE QUOTE -> 'â€™'). The ftfy-style detector
# counts signature hits — repair is a byte-level re-decode left to ingest;
# at curation time the COUNT is the routing signal (re-decode queue vs
# clean path). The continuation range is written with explicit escapes:
# U+0080-U+00BF contains C1 control characters that must never appear raw.
MOJIBAKE_PATTERN = (
    "\\u00c3[\\u0080-\\u00bf]"      # 2-byte seq lead (e.g. e-acute -> C3 A9)
    "|\\u00e2[\\u0080-\\u00bf][\\u0080-\\u00ff]"  # 3-byte punctuation triple
    "|\\u00c2[\\u00a0-\\u00bf]"     # stray C2 before NBSP/symbol range
)


def mojibake_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Encoding-damage (mojibake) detection: count UTF-8-as-latin-1
    double-encoding signatures per document and flag documents needing a
    re-decode pass — the charset-triage analogue of the reference's decode
    fallback chain (SURVEY §2 S4: utf-8 -> cp1258 -> latin-1), lifted from
    per-file exception handling to a corpus-wide scan-speed signal.

    Pure codegen: one regexp_extract_all over the text, no shuffle/UDF.
    Output: (doc_id, n_chars, mojibake_hits, mojibake_per_kchar, is_mojibake)
    with is_mojibake = at least 2 hits AND more than 0.5 hits per 1000 chars
    (a single stray signature in clean prose is not damage).
    """
    docs = ensure_parallelism(docs)  # fan out narrow scans before the per-char/token hot loop
    c = F.col(text_col)
    n_chars = F.length(c)
    hits = F.size(F.regexp_extract_all(c, F.lit(MOJIBAKE_PATTERN), 0))
    per_kchar = F.when(
        n_chars > 0, F.round(hits * 1000.0 / n_chars.cast("double"), 6)
    ).otherwise(F.lit(0.0))
    return docs.select(
        "doc_id",
        n_chars.cast("long").alias("n_chars"),
        hits.cast("long").alias("mojibake_hits"),
        per_kchar.alias("mojibake_per_kchar"),
        ((hits >= 2) & (per_kchar > 0.5)).alias("is_mojibake"),
    )


# ---------------------------------------------------------------------------
# token-balanced shard assignment
# ---------------------------------------------------------------------------


def shard_assign(
    docs: DataFrame,
    text_col: str = "text",
    *,
    tokens_per_shard: int = 2000,
    bucket_size: int = 100_000,
) -> DataFrame:
    """Token-balanced output sharding: lay documents end-to-end in a
    deterministic hash order (portable md5 rank — decorrelates shard fill
    from crawl order so every shard is an unbiased corpus sample) and cut
    shards of ``tokens_per_shard`` tokens — the writer-side layout step of
    a training-data pipeline (each shard becomes one output file of roughly
    equal token count, regardless of document-length skew).

    A document lands in the shard where its span STARTS (documents are not
    split across shards here — that's ``pack_sequences``' job at sequence
    granularity).

    Scale shape: the global running offset uses the same bucketed two-phase
    cumsum as ``pack_sequences`` — cumsum inside hash-range buckets (the
    rank hash is uniform, so buckets are balanced by construction), then
    per-bucket offsets from the bounded bucket-total table (the only
    single-partition window, 2^60/bucket-width rows). The oracle states the
    plain global window — identical result, scalable plan.

    Output: (doc_id, n_tokens, rank_hash, start_offset, shard).
    """
    rank_hash = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("decimal(20,0)")
        .cast("long")
    )
    n_buckets = 1024  # bounded: the bucket-total table is <= n_buckets rows
    base = (
        docs.select(
            "doc_id",
            F.size(ws_tokens(F.lower(F.col(text_col)))).cast("long").alias("n_tokens"),
            rank_hash.alias("rank_hash"),
        )
        .where(F.col("n_tokens") > 0)
        .withColumn(
            "_bucket", F.floor(F.col("rank_hash") / F.lit((1 << 60) // n_buckets))
        )
        .persist()  # consumed by the in-bucket cumsum AND the bucket totals
    )
    in_bucket = Window.partitionBy("_bucket").orderBy(
        "rank_hash", "doc_id"
    ).rowsBetween(Window.unboundedPreceding, -1)
    local = base.withColumn(
        "_local_off", F.coalesce(F.sum("n_tokens").over(in_bucket), F.lit(0))
    )
    totals = base.groupBy("_bucket").agg(F.sum("n_tokens").alias("_tot"))
    over_buckets = Window.orderBy("_bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = totals.withColumn(
        "_bucket_off", F.coalesce(F.sum("_tot").over(over_buckets), F.lit(0))
    ).select("_bucket", "_bucket_off")
    return (
        local.join(F.broadcast(offs), "_bucket")
        .select(
            "doc_id",
            "n_tokens",
            "rank_hash",
            (F.col("_local_off") + F.col("_bucket_off")).alias("start_offset"),
        )
        .withColumn("shard", F.floor(F.col("start_offset") / tokens_per_shard))
    )


# ---------------------------------------------------------------------------
# BM25 ranked retrieval over the corpus
# ---------------------------------------------------------------------------


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    *,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 scoring of every matching document against a bounded query
    term set — the ranked-retrieval counterpart to ``inverted_index`` (which
    builds the at-rest index; this is the score a search over that index
    computes). Lucene-shape idf: ln((N - df + 0.5)/(df + 0.5) + 1), always
    positive, so stopword-heavy queries cannot flip signs between engines.

    Determinism contract: idf and the per-(doc, term) partial score are
    per-row double expressions with a pinned operation order; the per-doc
    SUM over matched terms goes through round(., 12)::decimal(28,12) —
    exact, order-independent where a parallel double sum is not — and the
    emitted score is floor(score * 1e6) (same nano/micro-unit convention as
    pagerank: cross-engine ulp drift cannot flip a rounded decimal).

    Scale shape: tokens are filtered to the BOUNDED query vocabulary before
    anything shuffles (array_contains against a literal array — predicate at
    scan speed, so the exploded stream is |hits| rows, not corpus tokens);
    (doc, term) counts and per-doc length are map-side-combined groupBys;
    df/idf is a |terms|-row aggregate joined back by BROADCAST (bounded —
    the one legitimate broadcast here); avgdl is a 1-row decimal aggregate
    crossJoined. One corpus-sized exchange total (doc_id).

    Output: (doc_id, n_terms_matched, dl, score_micro) for documents
    matching at least one query term.
    """
    docs = ensure_parallelism(docs)  # fan out narrow scans before the per-char/token hot loop
    terms = sorted(set(t.lower() for t in query_terms))
    term_lits = F.array(*[F.lit(t) for t in terms])
    toks = ws_tokens(F.lower(F.col(text_col)))
    base = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("dl"),
        F.filter(toks, lambda t: F.array_contains(term_lits, t)).alias("hits"),
    ).persist()  # consumed by totals AND the match stream
    totals = base.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("dl").cast("decimal(28,0)")).alias("sum_dl"),
    )
    matches = (
        base.where(F.size("hits") > 0)
        .select("doc_id", "dl", F.explode("hits").alias("term"))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = matches.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        matches.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            "dl",
            (
                F.log(
                    (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                    + 1.0
                )
                * (F.col("tf") * (k1 + 1.0))
                / (
                    F.col("tf")
                    + k1
                    * (
                        1.0
                        - b
                        + b
                        * F.col("dl")
                        / (
                            F.col("sum_dl").cast("double")
                            / F.col("n_docs").cast("double")
                        )
                    )
                )
            ).alias("part"),
        )
    )
    return (
        scored.groupBy("doc_id", "dl")
        .agg(
            F.count("*").alias("n_terms_matched"),
            F.sum(F.round("part", 12).cast("decimal(28,12)")).alias("s"),
        )
        .select(
            "doc_id",
            F.col("n_terms_matched").cast("long").alias("n_terms_matched"),
            "dl",
            F.floor(F.col("s").cast("double") * 1000000.0).cast("long").alias(
                "score_micro"
            ),
        )
    )


# ---------------------------------------------------------------------------
# PMI collocation mining
# ---------------------------------------------------------------------------


def pmi_collocations(
    docs: DataFrame,
    text_col: str = "text",
    *,
    min_count: int = 5,
    top_k: int = 50,
) -> DataFrame:
    """Pointwise-mutual-information collocation mining over adjacent token
    pairs (Church & Hanks 1990) — the phrase-detection pass a tokenizer/
    embedding pipeline runs to promote "new york"-style units, and a spam
    signal when a site's top collocations are navigation boilerplate.

    pmi = ln(c_ab * T / (c_a * c_b)) over adjacent-pair count c_ab, unigram
    counts c_a/c_b and total pair count T — all exact integers inside one
    ln call, so both engines evaluate the identical double. Emitted as
    floor(pmi * 1e6); ranking key is (pmi_micro DESC, bigram ASC) — fully
    deterministic, no float comparison.

    Scale shape: two map-side-combined explode->groupBy passes (pairs,
    unigrams); pairs join unigrams TWICE on the term key — both sides are
    vocabulary-sized (unbounded on a web corpus), so both joins are pinned
    shuffle_hash, never a planner broadcast; T is a 1-row decimal aggregate
    crossJoined. Top-k is a global TakeOrdered over the min_count-filtered
    pair table — the limit composes with the deterministic key.

    Output: top_k rows (bigram, c_ab, c_a, c_b, pmi_micro).
    """
    docs = ensure_parallelism(docs)  # fan out narrow scans before the per-char/token hot loop
    toks_df = docs.select(ws_tokens(F.lower(F.col(text_col))).alias("toks")).persist()
    uni = (
        toks_df.select(F.explode("toks").alias("t"))
        .groupBy("t")
        .agg(F.count("*").alias("c"))
    )
    bi_idx = F.when(
        F.size("toks") >= 2, F.sequence(F.lit(1), F.size("toks") - 1)
    ).otherwise(F.array().cast("array<int>"))
    pairs = (
        toks_df.select(
            F.explode(
                F.transform(
                    bi_idx,
                    lambda i: F.struct(
                        F.element_at("toks", i).alias("a"),
                        F.element_at("toks", i + 1).alias("b"),
                    ),
                )
            ).alias("p")
        )
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("c_ab"))
        .where(F.col("c_ab") >= min_count)
    )
    t_total = (
        toks_df.select(
            F.greatest(F.size("toks") - 1, F.lit(0)).cast("long").alias("n")
        ).agg(F.sum(F.col("n").cast("decimal(28,0)")).alias("t"))
    )
    ua = uni.select(F.col("t").alias("a"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("t").alias("b"), F.col("c").alias("c_b"))
    scored = (
        pairs.join(ua.hint("shuffle_hash"), "a")
        .join(ub.hint("shuffle_hash"), "b")
        .crossJoin(F.broadcast(t_total))
        .select(
            F.concat_ws(" ", "a", "b").alias("bigram"),
            F.col("c_ab").cast("long").alias("c_ab"),
            F.col("c_a").cast("long").alias("c_a"),
            F.col("c_b").cast("long").alias("c_b"),
            # c_a * c_b as DOUBLES: at 1e12 tokens the bigint product of two
            # frequent-term counts overflows int64 (silently, non-ANSI)
            F.floor(
                F.log(
                    (F.col("c_ab") * F.col("t").cast("double"))
                    / (F.col("c_a").cast("double") * F.col("c_b").cast("double"))
                )
                * 1000000.0
            ).cast("long").alias("pmi_micro"),
        )
    )
    return scored.orderBy(F.col("pmi_micro").desc(), F.col("bigram").asc()).limit(
        top_k
    )


# ---------------------------------------------------------------------------
# C4 document filter battery
# ---------------------------------------------------------------------------


def c4_filters(
    docs: DataFrame, text_col: str = "text", *, line_tokens: int = 10
) -> DataFrame:
    """C4 cleaning-rule battery (Raffel et al. 2020 section 2.2) at document
    granularity — the companion to ``gopher_rules`` from the other published
    web-corpus lineage:

    - terminal-punctuation rule: fraction of lines ending in . ! ? or "
      (C4 keeps only such lines; emitted as a fraction so the caller picks
      the drop-vs-keep granularity)
    - at least 3 sentences (terminal-punctuation runs over the text)
    - no '{' (code/markup leak), no 'lorem ipsum', no 'javascript' token
      (the enable-JS boilerplate marker)

    Lines are the deterministic ``line_tokens``-token segments shared with
    the gopher battery. Pure single-scan codegen — no shuffle, no UDF.

    Output: (doc_id, n_lines, frac_terminal_lines, n_sentences, has_brace,
    has_lorem, has_javascript, c4_keep).
    """
    docs = ensure_parallelism(docs)  # fan out narrow scans before the per-char/token hot loop
    c = F.col(text_col)
    # bind lowered text + toks before the line-slice HOF (PLANS #70/#80)
    docs = docs.select(
        "doc_id",
        c.alias(text_col),
        F.lower(c).alias("__lc"),
        ws_tokens(F.lower(c)).alias("__toks"),
    )
    lc = F.col("__lc")
    toks = F.col("__toks")
    n = F.size(toks)
    lt = F.lit(line_tokens)
    idx = F.when(
        n > 0, F.sequence(F.lit(0), F.ceil(n / lt).cast("int") - 1)
    ).otherwise(F.array().cast("array<int>"))
    lines = F.transform(
        idx, lambda i: F.array_join(F.slice(toks, i * lt + 1, line_tokens), " ")
    )
    n_lines = F.size(lines)
    n_term = F.size(F.filter(lines, lambda l: l.rlike("[.!?\"]$")))
    frac_term = F.when(
        n_lines > 0, n_term / n_lines.cast("double")
    ).otherwise(F.lit(0.0))
    n_sent = F.size(F.regexp_extract_all(c, F.lit("[.!?]"), 0))
    has_brace = F.contains(c, F.lit("{"))
    has_lorem = F.contains(lc, F.lit("lorem ipsum"))
    has_js = F.array_contains(toks, "javascript")
    keep = (
        (n_sent >= 3) & ~has_brace & ~has_lorem & ~has_js
    )
    return docs.select(
        "doc_id",
        n_lines.cast("long").alias("n_lines"),
        F.round(frac_term, 6).alias("frac_terminal_lines"),
        n_sent.cast("long").alias("n_sentences"),
        has_brace.alias("has_brace"),
        has_lorem.alias("has_lorem"),
        has_js.alias("has_javascript"),
        keep.alias("c4_keep"),
    )


# (column suffix, Java regex class, RE2 class for the DuckDB oracle) —
# Unicode SCRIPT properties, identical membership in both engines for the
# Basic Multilingual Plane scripts a web corpus routinely mixes
SCRIPT_CLASSES: tuple[tuple[str, str, str], ...] = (
    ("latin", r"\p{IsLatin}", r"\p{Latin}"),
    ("han", r"\p{IsHan}", r"\p{Han}"),
    ("cyrillic", r"\p{IsCyrillic}", r"\p{Cyrillic}"),
    ("greek", r"\p{IsGreek}", r"\p{Greek}"),
    ("arabic", r"\p{IsArabic}", r"\p{Arabic}"),
)


def script_mix(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document Unicode script histogram — the language-ID prior and
    mojibake/spam tell of a web corpus (a 'de' page that is 40% Cyrillic is
    mislabeled or injected). Counts per script class run as ONE pass of
    JVM regexp_count expressions at scan speed: no explode, no shuffle,
    whole-stage codegen end to end — the cheapest possible 100 TB shape.

    Dominant script = the largest of the five counts, ties broken by the
    fixed SCRIPT_CLASSES order (latin first), 'none' when the document has
    no scripted characters at all (digits/punctuation only). The ratio
    emits floor(micro) bigints (float-portability discipline).

    Output: (doc_id, n_chars, n_latin, n_han, n_cyrillic, n_greek,
    n_arabic, dominant_script, latin_ratio_micro).
    """
    docs = ensure_parallelism(docs)  # fan out narrow scans before the per-char/token hot loop
    c = F.col(text_col)
    n = F.length(c)
    counts = {
        name: F.regexp_count(c, F.lit(java)).cast("long")
        for name, java, _ in SCRIPT_CLASSES
    }
    names = [name for name, _, _ in SCRIPT_CLASSES]
    dominant = F.lit("none")
    # build the CASE chain back-to-front so earlier classes win ties
    for i in range(len(names) - 1, -1, -1):
        me = F.col(f"n_{names[i]}")
        beats = [me >= F.col(f"n_{other}") for other in names[i + 1 :]]
        cond = (me > 0)
        for b in beats:
            cond = cond & b
        dominant = F.when(cond, F.lit(names[i])).otherwise(dominant)
    return (
        docs.select(
            "doc_id",
            n.cast("long").alias("n_chars"),
            *[counts[name].alias(f"n_{name}") for name in names],
        )
        .withColumn("dominant_script", dominant)
        .withColumn(
            "latin_ratio_micro",
            F.when(
                F.col("n_chars") > 0,
                F.floor(F.col("n_latin") * 1000000 / F.col("n_chars")),
            ).cast("long"),
        )
    )


def bpe_train_merges(
    docs: DataFrame, text_col: str = "text", *, n_merges: int = 3
) -> DataFrame:
    """BPE tokenizer TRAINING (Sennrich et al. 2016): learn the first
    ``n_merges`` merge rules from the corpus — the iterative loop
    ``bpe_pair_counts`` is one round of. Output is the trained artifact:
    (merge_rank, left_sym, right_sym, merged, pair_count).

    The 100 TB shape is the one real BPE trainers use: ONE corpus-sized
    pass builds the word-frequency VOCAB (groupBy token — map-side
    combined, bounded by distinct words, independent of corpus row count);
    every training round then runs on the vocab alone — pair counts are a
    groupBy over vocab-sized rows, the argmax is a 1-row collect, and the
    merge applies as an array fold per vocab word. The corpus is never
    touched again after pass one.

    Merge application is the greedy LEFT-TO-RIGHT non-overlapping fold of
    the BPE definition ('l l l' + (l,l) -> 'll l', 'a b a b' + (a,b) ->
    'ab ab'), implemented as an aggregate over the symbol array — string
    replace() misses back-to-back occurrences because the shared boundary
    is consumed. Tie-break: (count DESC, left ASC, right ASC), stated
    identically in the oracle. No end-of-word marker (documented
    simplification). ``localCheckpoint`` per round truncates lineage.

    Intended regime (test-pinned): ``n_merges`` is a SMALL-VOCAB bound —
    each round is a driver-scheduled pair-count + argmax + fold over the
    vocab table (~2 Spark jobs/round), so a 32k-merge production
    tokenizer would schedule ~64k jobs; that workload belongs in a
    single-node trainer over the ALREADY-AGGREGATED word-frequency vocab
    (the one corpus-sized pass here produces exactly that artifact —
    at most |distinct words| rows, collectable at any corpus size), not
    in per-round Spark jobs. Calls with n_merges > 256 raise ValueError
    rather than silently scheduling tens of thousands of jobs.
    """
    if n_merges > 256:
        raise ValueError(
            "bpe_train_merges is bounded to n_merges <= 256 (each round "
            "is a driver-scheduled Spark job pair over the vocab table; "
            "train large vocabularies single-node from the word-frequency "
            "vocab this operator's first pass aggregates)"
        )
    toks = ws_tokens(F.lower(F.col(text_col)))
    word = F.col("word")
    vocab = (
        docs.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .select(
            "word",
            "n",
            F.transform(
                F.sequence(F.lit(1), F.length(word)),
                lambda i: word.substr(i, F.lit(1)),
            ).alias("syms"),
        )
        .localCheckpoint()
    )
    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        pair_idx = F.sequence(F.lit(1), F.size("syms") - 1)
        top = (
            vocab.where(F.size("syms") >= 2)
            .select(
                "n",
                F.explode(
                    F.transform(
                        pair_idx,
                        lambda i: F.struct(
                            F.element_at("syms", i).alias("a"),
                            F.element_at("syms", i + 1).alias("b"),
                        ),
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("n").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("a"), F.col("b"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, cnt = top[0].a, top[0].b, int(top[0].cnt)
        merged = a + b
        merges.append((rank, a, b, merged, cnt))
        la, lb, lm = F.lit(a), F.lit(b), F.lit(merged)
        fold = F.aggregate(
            F.col("syms"),
            F.array().cast("array<string>"),
            lambda acc, x: F.when(
                (F.size(acc) > 0) & (F.element_at(acc, -1) == la) & (x == lb),
                F.when(F.size(acc) == 1, F.array(lm)).otherwise(
                    F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(lm))
                ),
            ).otherwise(F.concat(acc, F.array(x))),
        )
        vocab = vocab.select("word", "n", fold.alias("syms")).localCheckpoint()
    spark = docs.sparkSession
    return spark.createDataFrame(
        merges,
        "merge_rank int, left_sym string, right_sym string, "
        "merged string, pair_count bigint",
    )


def bpe_tokenize_counts(
    docs: DataFrame, text_col: str = "text", *, n_merges: int = 3
) -> DataFrame:
    """The APPLY half of BPE: train ``n_merges`` rules (bpe_train_merges),
    tokenize the corpus with them, and report per-document token counts —
    the fertility statistic (BPE tokens per word) that sizes a training
    run's token budget.

    Scale shape: the APPLY path is ONE explode + ONE shuffle_hash join on
    word against the (word -> merged symbols) vocab + ONE groupBy(doc_id)
    — the corpus-sized path never runs the fold, it looks up each word's
    symbol count. The vocab is bounded by distinct words, not corpus rows
    (shuffle-joined, never broadcast — web-scale vocabularies are
    multi-GB). This function trains in place for self-containment; a
    production pipeline persists the trained vocab between runs and skips
    straight to the lookup join.

    Output: (doc_id, n_words, n_bpe_tokens) — empty docs (0, 0).
    """
    toks = ws_tokens(F.lower(F.col(text_col)))
    word = F.col("word")
    vocab = (
        docs.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .select(
            "word",
            "n",
            F.transform(
                F.sequence(F.lit(1), F.length(word)),
                lambda i: word.substr(i, F.lit(1)),
            ).alias("syms"),
        )
        .localCheckpoint()
    )
    def _merge_fold(a: str, b: str) -> Column:
        la, lb, lm = F.lit(a), F.lit(b), F.lit(a + b)
        return F.aggregate(
            F.col("syms"),
            F.array().cast("array<string>"),
            lambda acc, x: F.when(
                (F.size(acc) > 0) & (F.element_at(acc, -1) == la) & (x == lb),
                F.when(F.size(acc) == 1, F.array(lm)).otherwise(
                    F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(lm))
                ),
            ).otherwise(F.concat(acc, F.array(x))),
        )

    merges = bpe_train_merges(docs, text_col, n_merges=n_merges).collect()
    for m in merges:
        vocab = vocab.select(
            "word", "n", _merge_fold(m.left_sym, m.right_sym).alias("syms")
        ).localCheckpoint()
    counts = vocab.select("word", F.size("syms").alias("n_syms"))
    per_doc = (
        docs.select("doc_id", F.explode(toks).alias("word"))
        .join(counts.hint("shuffle_hash"), "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_syms").alias("n_bpe_tokens"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc.hint("shuffle_hash"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_words", F.lit(0)).cast("long").alias("n_words"),
            F.coalesce("n_bpe_tokens", F.lit(0)).cast("long").alias(
                "n_bpe_tokens"
            ),
        )
    )


# the named entities that dominate real web text; numeric (&#NNN;) forms are
# out of scope for the expression path (documented — they need per-match
# codepoint synthesis, which regexp_replace cannot express)
HTML_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&apos;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),  # LAST: '&amp;lt;' must yield '&lt;', not '<'
)


def decode_html_entities_expr(col: Column) -> Column:
    """Named-entity decoding as a chained replace expression — the
    post-strip cleanup every HTML extractor needs ('Tom &amp; Jerry'
    reads 'Tom & Jerry' in training data). ``&amp;`` decodes LAST so
    double-escaped entities resolve one level per pass, exactly like
    browsers: '&amp;lt;' -> '&lt;' (not '<').
    """
    out = col
    for ent, ch in HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(ch))
    return out


def decode_html_entities(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, text, decoded, n_entities) — scan-speed, zero shuffle."""
    c = F.col(text_col)
    decoded = decode_html_entities_expr(c)
    return docs.select(
        "doc_id",
        c.alias("text"),
        decoded.alias("decoded"),
        (F.length(c) - F.length(decoded)).cast("long").alias("n_chars_saved"),
    )


def oov_rate(
    docs: DataFrame, text_col: str = "text", *, vocab_size: int = 100
) -> DataFrame:
    """Out-of-vocabulary rate per document against the corpus top-K vocab —
    the coverage statistic that sizes a tokenizer's word-level vocabulary
    and flags gibberish (a doc whose tokens are mostly outside the corpus
    head is noise, another script, or spam).

    Shape: the vocab is ONE map-side-combined groupBy + TakeOrdered top-K
    (deterministic count-desc/term-asc tiebreak, no full sort) and is
    K rows — legitimately broadcast; per-doc scoring is one explode + one
    broadcast left join + one groupBy(doc_id). All-integer emit.

    Output: (doc_id, n_tokens, n_oov, oov_ratio_micro); empty docs
    (0, 0, NULL).
    """
    toks = ws_tokens(F.lower(F.col(text_col)))
    vocab = (
        docs.select(F.explode(toks).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("term"))
        .limit(vocab_size)
        .select("term", F.lit(1).alias("_in_vocab"))
    )
    per_doc = (
        docs.select("doc_id", F.explode(toks).alias("term"))
        .join(F.broadcast(vocab), "term", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(
                F.when(F.col("_in_vocab").isNull(), 1).otherwise(0)
            ).alias("n_oov"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc.hint("shuffle_hash"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("n_oov", F.lit(0)).cast("long").alias("n_oov"),
            F.when(
                F.col("n_tokens").isNotNull(),
                F.floor(F.col("n_oov") * 1000000 / F.col("n_tokens")),
            )
            .cast("long")
            .alias("oov_ratio_micro"),
        )
    )


def collapse_repeated_lines(
    docs: DataFrame, text_col: str = "text", *, sep: str = "\n"
) -> DataFrame:
    """Collapse CONSECUTIVE duplicate lines within each document — scraped
    pages repeat nav/header lines back to back after boilerplate stripping,
    and corpus-level line_dedup (frequency-based) deliberately keeps lines
    that are rare corpus-wide but stuttered locally.

    Runs entirely in array expressions on the row (split -> positional
    filter keeping line i iff i == 1 or line[i] != line[i-1] -> rejoin):
    zero shuffle, zero UDF — a purely positional rule needs no fold.
    ``sep`` is a REGEX (F.split semantics) — escape metacharacters if the
    separator is not a literal like the default newline.

    Output: (doc_id, text, cleaned, n_lines, n_removed).
    """
    c = F.col(text_col)
    lines = F.split(c, sep)
    n = F.size(lines)
    keep_idx = F.filter(
        F.sequence(F.lit(1), n),
        lambda i: (i == 1)
        | (F.element_at(lines, i) != F.element_at(lines, i - 1)),
    )
    kept = F.transform(keep_idx, lambda i: F.element_at(lines, i))
    return docs.select(
        "doc_id",
        c.alias("text"),
        F.array_join(kept, sep).alias("cleaned"),
        n.cast("long").alias("n_lines"),
        (n - F.size(kept)).cast("long").alias("n_removed"),
    )


def zipf_fit(
    docs: DataFrame, text_col: str = "text", *, top_n: int = 64
) -> DataFrame:
    """Least-squares fit of log(frequency) vs log(rank) over the corpus
    head vocabulary — natural text follows Zipf's law with slope near -1;
    a corpus whose slope collapses toward 0 is template spam or gibberish
    (machine-generated token soup), making this a one-row corpus health
    gauge.

    Shape: one map-side-combined term count + TakeOrdered top-N; ranks
    come from a window over the N retained rows (bounded — the single
    partition holds ``top_n`` rows by construction, never corpus data).
    Determinism: x=round(ln rank,6), y=round(ln cnt,6) as DECIMAL(12,6);
    all regression sums are exact decimals (products stay at scale 12,
    far inside 38 digits); the slope/intercept doubles are computed by the
    identical expression sequence the oracle states. Output: one row
    (n_terms, slope_micro, intercept_micro).
    """
    from pyspark.sql import Window

    top = (
        docs.select(F.explode(ws_tokens(F.lower(F.col(text_col)))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("term"))
        .limit(top_n)
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("term"))
    ranked = top.select(
        F.row_number().over(w).alias("rank"), F.col("cnt")
    )
    x = F.round(F.log(F.col("rank").cast("double")), 6).cast("decimal(12,6)")
    y = F.round(F.log(F.col("cnt").cast("double")), 6).cast("decimal(12,6)")
    sums = ranked.agg(
        F.count("*").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(x * y).alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    slope = num / den
    intercept = (
        F.col("sy").cast("double") - slope * F.col("sx").cast("double")
    ) / F.col("n")
    return sums.select(
        F.col("n").cast("long").alias("n_terms"),
        F.floor(slope * 1000000.0).cast("long").alias("slope_micro"),
        F.floor(intercept * 1000000.0).cast("long").alias("intercept_micro"),
    )


def tfidf_cosine_pairs(
    docs: DataFrame,
    text_col: str = "text",
    *,
    rare_df_max: int = 16,
    threshold_micro: int = 300_000,
) -> DataFrame:
    """Sparse TF-IDF cosine similarity JOIN: document pairs scoring above
    the threshold, candidates generated only through RARE terms (df <=
    ``rare_df_max``) — the classic sparse-vector similarity join: common
    terms generate quadratic candidate fan-out but contribute little
    discrimination, so only rare terms key the pair search, while the
    cosine itself is exact over the FULL shared vocabulary of each
    candidate pair.

    Determinism: tf and idf-weighted products are decimal-exact
    (idf = round(ln(N/df), 6) as DECIMAL(12,6)); dot products and norms
    sum as decimals; the final cosine does ONE double sqrt/divide sequence
    stated identically in the oracle (IEEE sqrt is correctly rounded).
    Output: (id_a, id_b, cosine_micro), id_a < id_b.

    Scale: the rare-term candidate join is bounded by df_max * df(term)
    per term; tf tables join back shuffle_hash (corpus-sized, never
    broadcast); norms are one map-side-combined groupBy.
    """
    toks = ws_tokens(F.lower(F.col(text_col)))
    tf = (
        docs.select("doc_id", F.explode(toks).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("decimal(10,0)").alias("tf"))
        .persist()
    )
    n_docs = docs.count()
    df_t = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = F.round(
        F.log(F.lit(float(n_docs)) / F.col("df").cast("double")), 6
    ).cast("decimal(12,6)")
    # tf(10,0) * idf(12,6) is exact at scale 6; the re-cast to (15,6)
    # keeps w*w inside 38 digits so BOTH engines multiply exactly at scale
    # 12 — without it Spark reduces the product's scale (precision cap) and
    # truncates digits DuckDB keeps
    w = tf.join(df_t.hint("shuffle_hash"), "term").select(
        "doc_id", "term",
        (F.col("tf") * idf).cast("decimal(15,6)").alias("w"),
        F.col("df"),
    ).persist()
    norms = w.groupBy("doc_id").agg(F.sum(F.col("w") * F.col("w")).alias("nrm"))
    rare = w.where(F.col("df") <= rare_df_max).select("doc_id", "term")
    cand = (
        rare.select(F.col("doc_id").alias("id_a"), "term")
        .join(
            rare.select(F.col("doc_id").alias("id_b"), "term")
            .hint("shuffle_hash"),
            "term",
        )
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    wa = w.select(F.col("doc_id").alias("id_a"), "term", F.col("w").alias("wa"))
    wb = w.select(F.col("doc_id").alias("id_b"), "term", F.col("w").alias("wb"))
    dots = (
        cand.join(wa.hint("shuffle_hash"), "id_a")
        .join(wb.hint("shuffle_hash"), ["id_b", "term"])
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("id_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("doc_id").alias("id_b"), F.col("nrm").alias("nb"))
    cos = (
        dots.join(na.hint("shuffle_hash"), "id_a")
        .join(nb.hint("shuffle_hash"), "id_b")
        .select(
            "id_a",
            "id_b",
            F.floor(
                F.col("dot").cast("double")
                / F.sqrt(F.col("na").cast("double") * F.col("nb").cast("double"))
                * 1000000.0
            )
            .cast("long")
            .alias("cosine_micro"),
        )
    )
    return cos.where(F.col("cosine_micro") >= threshold_micro)


# ---------------------------------------------------------------------------
# content-defined chunking (round 4)
# ---------------------------------------------------------------------------


def cdc_chunks(
    docs: DataFrame,
    text_col: str = "text",
    *,
    w: int = 8,
    mask_bits: int = 5,
) -> DataFrame:
    """Content-defined chunking (the FastCDC/Rabin family, gram-hash
    gate): cut each document after every position whose trailing
    ``w``-gram hashes to 0 mod 2^``mask_bits`` — boundaries depend only
    on local CONTENT, so shared passages land in identical chunks no
    matter where they sit in the document. This is the byte/char-level
    dedup primitive under storage dedup and long-document near-dup
    (chunk-hash overlap finds moved/duplicated passages that line- and
    shingle-level passes miss). Mean chunk length ~2^mask_bits chars.

    Scale shape: one shuffle-free codegen stage per doc — the char array
    materializes ONCE via split(); w-grams are w shifted slices folded
    with zip_with; the hash gate and bound pairing are zip_with lambdas
    over bound args (the HOF-inlining discipline, PLANS.md #70); chunk
    texts are cut BEFORE the explode so only chunk bytes (total = doc
    bytes) fan out, never (text × n_chunks). The per-chunk substr walks
    the UTF-8 prefix, so per-doc cost is O(len · n_chunks / 2) — bounded
    for page-sized crawl documents; MB-scale blobs would take the
    mapInPandas escape hatch.

    Output: (doc_id, chunk_id, start, n_chars, chunk_hash) — chunk_id
    0-based over non-empty chunks, start 0-based char offset, chunk_hash
    = md5 hex of the chunk text.
    """
    from ..operators.dedup import base_hash28
    from ..scale.salt import ensure_parallelism

    docs = ensure_parallelism(docs)  # the per-char fold is the hot loop
    c = F.col(text_col)
    n = F.length(c)
    chars = F.split(c, "")
    m = n - (w - 1)
    gram = None
    for j in range(w):
        part = F.slice(chars, 1 + j, F.greatest(m, F.lit(0)))
        gram = (
            part
            if gram is None
            else F.zip_with(gram, part, lambda a, b: F.concat(a, b))
        )
    ends = F.when(n >= w, F.sequence(F.lit(w), n)).otherwise(
        F.array().cast("array<int>")
    )
    cuts = F.filter(
        F.zip_with(
            gram,
            ends,
            lambda g, p: F.when(
                base_hash28(g) % (1 << mask_bits) == 0, p
            ),
        ),
        lambda x: x.isNotNull(),
    )
    bounds = F.concat(
        F.array(F.lit(0)), cuts, F.array(n.cast("int"))
    )
    nb = F.size(bounds)
    pairs = F.filter(
        F.zip_with(
            F.slice(bounds, 1, nb - 1),
            F.slice(bounds, 2, nb - 1),
            lambda a, b: F.struct(a.alias("a"), b.alias("b")),
        ),
        lambda s: s["b"] > s["a"],
    )
    chunks = F.transform(
        pairs,
        lambda s: F.struct(
            s["a"].alias("start"),
            c.substr(s["a"] + 1, s["b"] - s["a"]).alias("txt"),
        ),
    )
    return (
        docs.select("doc_id", F.posexplode(chunks).alias("chunk_id", "ch"))
        .select(
            "doc_id",
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.col("ch.start").cast("long").alias("start"),
            F.length("ch.txt").cast("long").alias("n_chars"),
            F.md5("ch.txt").alias("chunk_hash"),
        )
    )


IPV4_PATTERN = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
CARD_PATTERN = r"\b[0-9]{13,16}\b"


def pii_luhn(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Structured-PII detection beyond redact_pii's email/phone pass:
    IPv4 literals and payment-card-shaped digit runs, with each candidate
    card validated by the REAL Luhn checksum — the check that separates
    'sixteen digits' from 'leaked card number', which is what a
    training-data compliance scrub actually has to count. One codegen
    stage, zero exchanges: regexp_extract_all pulls the candidates and
    the Luhn sum folds per candidate with bound-value HOF lambdas (the
    card string is a lambda arg, so nothing re-inlines per element — the
    repo's HOF-inlining discipline). ASCII-only patterns by design: Java
    and RE2 agree on every construct used (\\b, explicit classes), so the
    operator is oracle-portable on controlled text.

    Output: (doc_id, n_ipv4, n_cards, n_luhn_valid)."""
    c = F.col(text_col)

    def luhn_valid(card: Column) -> Column:
        n = F.length(card)
        terms = F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.when(
                ((n - i) % 2) == 1,
                F.when(
                    (F.ascii(card.substr(i, F.lit(1))) - 48) * 2 > 9,
                    (F.ascii(card.substr(i, F.lit(1))) - 48) * 2 - 9,
                ).otherwise((F.ascii(card.substr(i, F.lit(1))) - 48) * 2),
            ).otherwise(F.ascii(card.substr(i, F.lit(1))) - 48),
        )
        total = F.aggregate(terms, F.lit(0), lambda acc, x: acc + x)
        return (total % 10) == 0

    cards = F.regexp_extract_all(c, F.lit(CARD_PATTERN), F.lit(0))
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(c, F.lit(IPV4_PATTERN), F.lit(0)))
        .cast("long")
        .alias("n_ipv4"),
        F.size(cards).cast("long").alias("n_cards"),
        F.size(F.filter(cards, luhn_valid)).cast("long").alias("n_luhn_valid"),
    )


def readability(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Flesch reading-ease per document — the classic readability gauge a
    quality-filter stack runs next to stopword/length ratios
    (quality_scores) and the published batteries (gopher_rules,
    c4_filters): machine-generated keyword stuffing scores near 100+,
    legalese near 0, normal prose 60-70, so the score separates both
    tails the other rules miss.

    Counting rules (exactly restatable in the oracle): words are ASCII
    alpha runs of the lowercased text; sentences are terminal-punctuation
    runs ``[.!?]+`` (min 1 so a fragment still scores); syllables are
    vowel GROUPS ``[aeiouy]+`` per word — the standard cheap estimator.
    The score is emitted as ``flesch_micro`` = floor(score * 1e6)
    computed over DOUBLES with a pinned left-to-right evaluation order
    (the repo's cross-engine float discipline: IEEE double ops are
    bit-identical across engines; decimal division scale is not). NULL
    when there are no words.

    One codegen projection over the scan — the word array binds once and
    feeds the syllable fold as a bound lambda value (no per-element
    re-inlining), no UDF, no shuffle, annotates at read speed.
    """
    c = F.col(text_col)
    words = F.regexp_extract_all(F.lower(c), F.lit(r"[a-z]+"), F.lit(0))
    n_words = F.size(words)
    n_sent = F.greatest(
        F.size(F.regexp_extract_all(c, F.lit(r"[.!?]+"), F.lit(0))),
        F.lit(1),
    )
    n_syll = F.aggregate(
        F.transform(
            words,
            lambda w: F.size(
                F.regexp_extract_all(w, F.lit(r"[aeiouy]+"), F.lit(0))
            ),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    score = (
        F.lit(206.835)
        - F.lit(1.015) * n_words.cast("double") / n_sent.cast("double")
        - F.lit(84.6) * n_syll.cast("double") / n_words.cast("double")
    )
    return docs.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        n_sent.cast("long").alias("n_sentences"),
        n_syll.cast("long").alias("n_syllables"),
        F.when(n_words > 0, F.floor(score * F.lit(1000000.0)))
        .cast("long")
        .alias("flesch_micro"),
    )


# Vietnamese legal structure citation: "Điều N [Khoản M [Điểm x]]".
# Literal-only regex (no classes beyond \d and [a-d]) — Java and RE2 agree
# byte-for-byte on UTF-8 literals, so the pattern is oracle-portable.
CITATION_PATTERN = r"Điều \d+(?: Khoản \d+)?(?: Điểm [a-d])?"


def legal_citations(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Inline legal-citation extraction: every ``Điều N [Khoản M [Điểm x]]``
    reference in a Vietnamese legal text becomes one output row with the
    article/clause/point parsed out — the cross-reference index a legal
    corpus needs for citation graphs and retrieval, and the same
    pattern-battery style as the reference's field extraction
    (information_extraction_service.py:90-98) applied to the body text
    instead of the header block.

    Output: (doc_id, ord, citation, dieu, khoan, diem) — one row per
    occurrence in document order; ``khoan``/``diem`` are NULL when the
    citation stops at the article level. Documents with no citations emit
    no rows (plain explode semantics, matched by the oracle's unnest).

    Scale: regexp_extract_all + posexplode is a narrow codegen stage — no
    exchange anywhere; output size is bounded by total text length, so the
    fan-out is linear in corpus bytes and partition-local at 100 TB.
    """
    docs = ensure_parallelism(docs)  # fan out narrow scans before the regex hot loop
    cites = F.regexp_extract_all(F.col(text_col), F.lit(CITATION_PATTERN), F.lit(0))
    pos = docs.select("doc_id", F.posexplode(cites).alias("idx", "citation"))
    khoan = F.regexp_extract("citation", r"Khoản (\d+)", 1)
    diem = F.regexp_extract("citation", r"Điểm ([a-d])", 1)
    return pos.select(
        "doc_id",
        (F.col("idx") + 1).cast("int").alias("ord"),
        "citation",
        F.regexp_extract("citation", r"Điều (\d+)", 1).cast("int").alias("dieu"),
        F.when(khoan != "", khoan).cast("int").alias("khoan"),
        F.when(diem != "", diem).alias("diem"),
    )


def bitext_candidates(
    docs: DataFrame,
    *,
    lang_col: str = "lang",
    text_col: str = "text",
    min_shared: int = 2,
    df_cap: int = 16,
) -> DataFrame:
    """Cross-lingual parallel-document candidates by shared NUMERIC
    fingerprints: digit tokens (years, figures, section numbers, IDs)
    survive translation verbatim, so two pages in different languages
    sharing several rare numbers are likely translations of each other —
    the cheap pre-filter a WikiMatrix-style bitext miner runs before any
    embedding alignment touches a pair.

    Scale shape: per-doc DISTINCT digit tokens explode to a (number,
    doc) exchange; numbers with document frequency > ``df_cap`` are
    dropped BEFORE the self-join (copyright years appear on every page —
    the stop-shingle discipline), so a number contributes at most
    df_cap² join rows. Pairs are kept only across DIFFERENT languages
    with >= ``min_shared`` shared numbers. Output: (id_a, id_b, lang_a,
    lang_b, shared) with id_a < id_b.
    """
    from ..scale.salt import ensure_parallelism

    nums = ensure_parallelism(docs).select(
        "doc_id",
        F.col(lang_col).alias("lang"),
        F.explode(
            F.array_distinct(
                F.expr(f"regexp_extract_all({text_col}, '[0-9]+', 0)")
            )
        ).alias("num"),
    )
    wdf = Window.partitionBy("num")
    nums = (
        nums.withColumn("_df", F.count("*").over(wdf))
        .where(F.col("_df") <= df_cap)
        .drop("_df")
    )
    l, r = nums.alias("l"), nums.alias("r")
    # both sides are the corpus-sized number exchange: shuffle, never
    # broadcast (plan-locked with the dedup family)
    return (
        l.join(
            r.hint("shuffle_hash"),
            (F.col("l.num") == F.col("r.num"))
            & (F.col("l.doc_id") < F.col("r.doc_id"))
            & (F.col("l.lang") != F.col("r.lang")),
        )
        .groupBy(
            F.col("l.doc_id").alias("id_a"),
            F.col("r.doc_id").alias("id_b"),
            F.col("l.lang").alias("lang_a"),
            F.col("r.lang").alias("lang_b"),
        )
        .agg(F.count("*").alias("shared"))
        .where(F.col("shared") >= min_shared)
    )


def compression_ratio(
    docs: DataFrame,
    text_col: str = "text",
    *,
    level: int = 6,
    repetitive_below_micro: int = 300_000,
) -> DataFrame:
    """DEFLATE compressibility as a quality/repetition signal: the
    compressed-to-raw byte ratio of each document (zlib level 6) — the
    single-number repetition gauge modern curation stacks cut on
    (RefinedWeb/DCLM-style): machine-generated spam and template churn
    compress far below natural prose, and unlike gopher_repetition's
    fixed n-gram windows it catches repetition at EVERY scale at once.

    Spark shape: one Arrow-batched mapInPandas stage (zlib is C-speed;
    the per-row Python driver loop is the batch iterator, not per-byte
    work); text bytes never travel past this stage — downstream filters
    run on the three integer columns. Genuinely non-SQL-expressible
    (no DEFLATE in DuckDB), so this entry takes the driver's rows-only
    check; exactness is pinned instead by the pytest oracle computing
    the same zlib call per row.

    ratio_micro = floor(1e6 * n_compressed / n_bytes); empty text
    reports (0, compressed_overhead, 1e6, 0) — never a divide-by-zero.

    Output: (doc_id, n_bytes, n_compressed, ratio_micro, is_repetitive).
    """
    import zlib

    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("n_bytes", LongType()),
            StructField("n_compressed", LongType()),
            StructField("ratio_micro", LongType()),
            StructField("is_repetitive", IntegerType()),
        ]
    )

    def _ratios(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k.name: [] for k in schema.fields}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                raw = (text or "").encode("utf-8")
                comp = len(zlib.compress(raw, level))
                ratio = comp * 1000000 // len(raw) if raw else 1000000
                out["doc_id"].append(doc_id)
                out["n_bytes"].append(len(raw))
                out["n_compressed"].append(comp)
                out["ratio_micro"].append(ratio)
                out["is_repetitive"].append(
                    int(bool(raw) and ratio < repetitive_below_micro)
                )
            yield pd.DataFrame(out)

    selected = ensure_parallelism(docs).selectExpr(
        "doc_id", f"{text_col} as text"
    )
    return selected.mapInPandas(_ratios, schema)


def negative_sampling_table(
    docs: DataFrame,
    *,
    vocab_size: int = 200,
    text_col: str = "text",
) -> DataFrame:
    """Unigram^0.75 negative-sampling table (the word2vec/NCE noise
    distribution, Mikolov et al. 2013): the top-``vocab_size`` tokens
    weighted by count^(3/4), laid out as cumulative ppm ranges
    [cum_start_ppm, cum_start_ppm + weight_ppm) so a sampler can draw a
    token with one uniform integer and one range lookup. The 3/4 power
    is what keeps frequent tokens from dominating the noise draws.

    Portability: count^0.75 = sqrt(c) * sqrt(sqrt(c)) — ITERATED sqrt
    (IEEE-754 correctly rounded in both engines) and ONE multiply;
    pow() would diverge by ulps across libms. Each weight is pinned
    round(·,12) -> decimal(28,12) so the normalizing sum and the
    cumulative layout are EXACT and aggregation-order-independent.

    Scale shape: explode -> ONE map-side-combined token count (the only
    corpus-wide exchange) -> TakeOrdered top-V; everything after runs
    on the BOUNDED vocab table, where the ordered cumsum window is the
    documented bounded-domain exception.

    Output: (token, n, weight_ppm, cum_start_ppm) with a total order on
    (n desc, token).
    """
    toks = docs.select(
        F.explode(ws_tokens(F.lower(F.col(text_col)))).alias("token")
    )
    vocab = (
        toks.groupBy("token")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy(F.col("n").desc(), F.col("token"))
        .limit(vocab_size)
    )
    c = F.col("n").cast("double")
    w = F.sqrt(c) * F.sqrt(F.sqrt(c))
    weighted = vocab.select(
        "token", "n", F.round(w, 12).cast("decimal(28,12)").alias("_ns_w")
    ).persist()  # bounded top-V; feeds BOTH the total and the ppm layout
    total = weighted.agg(F.sum("_ns_w").alias("_ns_tw"))
    ppm = weighted.crossJoin(F.broadcast(total)).select(
        "token",
        "n",
        F.floor(
            F.col("_ns_w").cast("double")
            * 1000000
            / F.col("_ns_tw").cast("double")
        )
        .cast("long")
        .alias("weight_ppm"),
    )
    cum = (
        Window.orderBy(F.col("n").desc(), F.col("token"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return ppm.select(
        "token",
        "n",
        "weight_ppm",
        F.coalesce(F.sum("weight_ppm").over(cum), F.lit(0))
        .cast("long")
        .alias("cum_start_ppm"),
    )


def feature_hashing(
    docs: DataFrame,
    *,
    n_buckets: int = 16,
    text_col: str = "text",
) -> DataFrame:
    """Hashed bag-of-words features (the "hashing trick", fastText-style):
    each token hashes into one of ``n_buckets`` buckets and the document's
    feature vector is the per-bucket count — a fixed-width, vocabulary-free
    representation a downstream linear classifier consumes directly
    (pair with ``grouped_ols``/``quality_classifier``). Collisions are
    the accepted trade: width is constant no matter how the vocabulary
    grows, which is what makes the featurizer viable at 100 TB.

    Scale shape: explode -> ONE map-side-combined groupBy(doc_id) of
    ``n_buckets`` conditional sums; no pivot, no vocabulary table, no
    second scan. Buckets use the repo-standard md5 prefix -> bigint hash
    so the oracle reproduces them verbatim. Documents with no tokens
    have no rows (explode of an empty array).

    Output: (doc_id, n_tokens, h0..h{n_buckets-1}).
    """
    bucket = (
        F.conv(F.substring(F.md5(F.col("token")), 1, 7), 16, 10).cast(
            "bigint"
        )
        % n_buckets
    )
    toks = docs.select(
        "doc_id", F.explode(ws_tokens(F.lower(F.col(text_col)))).alias("token")
    ).select("doc_id", bucket.alias("b"))
    aggs = [F.count("*").cast("long").alias("n_tokens")] + [
        F.sum((F.col("b") == i).cast("int")).cast("long").alias(f"h{i}")
        for i in range(n_buckets)
    ]
    return toks.groupBy("doc_id").agg(*aggs)


def kneser_ney_bigrams(
    docs: DataFrame,
    *,
    top_k: int = 500,
    text_col: str = "text",
) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities with the standard
    discount D = 0.75 — the n-gram smoothing that backs off to CONTEXT
    DIVERSITY (how many distinct words precede w2) rather than raw
    frequency, the pre-neural LM standard and still the curation
    workhorse for fluency scoring.

    With D = 3/4 the whole estimate is EXACT INTEGER arithmetic — no
    doubles anywhere:

        P(w2|w1) = max(c12-D,0)/c1 + D*N1+(w1,·)/c1 * N1+(·,w2)/B
                 = ((4*c12-3)*B + 3*N1(w1)*N1(w2)) / (4*c1*B)

    (c12 >= 1 so the max never binds). Emitted as micro units via `div`.

    Scale shape: the corpus is exploded to bigrams ONCE (token arrays
    sliced and zipped — no per-position substring rescans); everything
    after runs on the bigram-vocabulary table: c1 and N1+(w1,·) come
    from ONE groupBy(w1) of that table, N1+(·,w2) from one groupBy(w2),
    B from one scalar aggregate (broadcast). The two stat joins are
    pinned shuffle_hash — vocab tables scale with the corpus and must
    never be planner-broadcast. TakeOrdered emits the top-k.

    Output: (w1, w2, c12, c1, n1_w1, n1_w2, p_kn_micro), top_k by
    (c12 desc, w1, w2).
    """
    lt = ws_tokens(F.lower(F.col(text_col)))
    src = docs.select(lt.alias("toks")).where(F.size("toks") >= 2)
    a = F.slice(F.col("toks"), 1, F.size("toks") - 1)
    b = F.slice(F.col("toks"), 2, F.size("toks") - 1)
    pairs = src.select(
        F.explode(
            F.zip_with(a, b, lambda x, y: F.struct(x.alias("w1"), y.alias("w2")))
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    # the bigram-vocab table feeds FOUR consumers (stats + join spine):
    # persist it so the corpus explode happens once, not per consumer
    bg = (
        pairs.groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("c12"))
        .persist()
    )
    left = bg.groupBy("w1").agg(
        F.sum("c12").cast("long").alias("c1"),
        F.count("*").cast("long").alias("n1_w1"),
    )
    right = bg.groupBy("w2").agg(F.count("*").cast("long").alias("n1_w2"))
    btot = bg.agg(F.count("*").cast("long").alias("bt"))
    out = (
        bg.join(left.hint("shuffle_hash"), "w1")
        .join(right.hint("shuffle_hash"), "w2")
        .crossJoin(F.broadcast(btot))
    )
    p = F.expr(
        "(((4L * c12 - 3L) * bt + 3L * n1_w1 * n1_w2) * 1000000L)"
        " div (4L * c1 * bt)"
    )
    return (
        out.select(
            "w1",
            "w2",
            "c12",
            "c1",
            "n1_w1",
            "n1_w2",
            p.cast("long").alias("p_kn_micro"),
        )
        .orderBy(F.col("c12").desc(), "w1", "w2")
        .limit(top_k)
    )


def langid_spans(
    docs: DataFrame,
    text_col: str = "text",
    *,
    line_tokens: int = 10,
) -> DataFrame:
    """Code-switching span detection: per-segment language ID (the same
    marker-argmax as ``lang_id``, applied to deterministic
    ``line_tokens``-token segments) folded into maximal CONTIGUOUS
    same-language spans via gaps-and-islands — the structure a
    multilingual curation pass needs (keep the English body, route the
    embedded French quote to the fr pipeline, flag und-noise runs).

    Scale shape: ONE token-level posexplode (the generator evaluates the
    split once per row — slicing segments out of the array instead
    re-inlines the tokenizer per segment, the CollapseProject trap,
    measured 6x slower), then per-segment scores as ONE map-side-
    combined groupBy(doc_id, seg_idx) of marker-membership conditional
    counts; the islands window partitions by doc_id (per-doc segment
    lists are tiny and hash-spread), and the span fold is ONE further
    groupBy(doc_id, island).

    Output: (doc_id, span_idx, start_seg, n_segs, lang) — span_idx is
    the 0-based island ordinal within the doc.
    """
    docs = ensure_parallelism(docs)
    bound = docs.select(
        "doc_id", ws_tokens(F.lower(F.col(text_col))).alias("__toks")
    )
    toked = bound.select(
        "doc_id", F.posexplode("__toks").alias("pos", "token")
    ).select(
        "doc_id",
        F.expr(f"pos div {line_tokens}").cast("long").alias("seg_idx"),
        "token",
    )
    langs = sorted(LANG_MARKERS)
    scored = toked.groupBy("doc_id", "seg_idx").agg(
        *[
            F.sum(F.col("token").isin(*LANG_MARKERS[lang]).cast("int")).alias(
                f"score_{lang}"
            )
            for lang in langs
        ]
    )
    pred = F.lit("und")
    best = F.lit(0)
    for lang in langs:
        s = F.col(f"score_{lang}")
        pred = F.when(s > best, F.lit(lang)).otherwise(pred)
        best = F.when(s > best, s).otherwise(best)
    labeled = scored.select("doc_id", "seg_idx", pred.alias("lang"))
    w = Window.partitionBy("doc_id").orderBy("seg_idx")
    chg = (
        F.lag("lang").over(w).isNull()
        | (F.col("lang") != F.lag("lang").over(w))
    ).cast("long")
    islands = labeled.withColumn(
        "island", F.sum(chg).over(w) - 1
    )
    return (
        islands.groupBy("doc_id", F.col("island").alias("span_idx"))
        .agg(
            F.min("seg_idx").cast("long").alias("start_seg"),
            F.count("*").cast("long").alias("n_segs"),
            F.first("lang").alias("lang"),
        )
        .select("doc_id", F.col("span_idx").cast("long"), "start_seg", "n_segs", "lang")
    )


def word_dropout(
    docs: DataFrame,
    text_col: str = "text",
    *,
    drop_pct: int = 10,
) -> DataFrame:
    """Seed-stable word-dropout augmentation: drop each token with
    probability ``drop_pct``% decided by a content-addressed hash of
    (doc_id, position) — the text-augmentation step of
    robustness/denoising training, made REPRODUCIBLE (the same doc
    always yields the same corruption, across runs, partitionings and
    engines, so augmented corpora are versionable artifacts rather than
    RNG accidents).

    Scale shape: one projection — the keep mask is an index-aware array
    filter (no explode, no shuffle at all); reassembly is array_join in
    the same projection. The oracle restates it with an ordinality
    unnest + ordered string_agg.

    Output: (doc_id, n_tokens, n_kept, aug_text) — aug_text '' when
    every token dropped; n_tokens 0 rows pass through.
    """
    thr = drop_pct * 100
    bound = docs.select(
        "doc_id", ws_tokens(F.lower(F.col(text_col))).alias("__toks")
    )

    def _keep(t: Column, i: Column) -> Column:
        h = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("doc_id").cast("string"),
                            F.lit("|"),
                            i.cast("string"),
                        )
                    ),
                    1,
                    7,
                ),
                16,
                10,
            ).cast("bigint")
            % 10000
        )
        return h >= thr

    kept = F.filter(F.col("__toks"), _keep)
    return bound.select(
        "doc_id",
        F.size("__toks").cast("long").alias("n_tokens"),
        F.size(kept).cast("long").alias("n_kept"),
        F.array_join(kept, " ").alias("aug_text"),
    )


def conditional_entropy(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-level order-0 vs order-1 character entropy — the
    compressibility/structure gauge: H0 is the i.i.d. char entropy, H1 =
    H(c2|c1) the bigram-conditional entropy, and their gap (redundancy)
    measures how much structure a first-order model already captures
    (natural text drops ~1-2 bits; base64 blobs drop ~0).

    Scale shape: ONE char explode feeds the unigram counts; ONE
    zip_with-sliced bigram explode feeds pair counts (the lm_scores
    O(chars) discipline — no per-position substr rescans); both
    aggregates land on the bounded alphabet/alphabet² vocabulary, and
    everything after is sketch-sized. Context totals derive from the
    bigram table, never a third scan.

    Determinism: each class term is cnt * round(log2(p), 6) summed as
    DECIMAL (exact, order-independent; libm log2 differs by ulps), then
    ONE double division + floor(micro) per entropy (char_entropy
    discipline). redundancy subtracts the two already-floored micros.

    Output: one row (n_chars, n_bigrams, h0_micro, h1_micro,
    redundancy_micro).
    """
    docs = ensure_parallelism(docs)
    lt = F.lower(F.col(text_col))
    src = docs.select(lt.alias("lt")).where(F.length("lt") > 0)
    uni = (
        src.select(F.explode(F.split("lt", "")).alias("ch"))
        .groupBy("ch")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    tot = uni.agg(F.sum("cnt").cast("long").alias("n"))
    h0 = (
        uni.crossJoin(F.broadcast(tot))
        .select(
            (
                F.col("cnt").cast("decimal(18,0)")
                * F.round(
                    F.log2(F.col("cnt") / F.col("n").cast("double")), 6
                ).cast("decimal(18,6)")
            ).alias("term"),
            "n",
        )
        .groupBy("n")
        .agg(F.sum("term").alias("s0"))
    )
    src2 = docs.select(lt.alias("lt")).where(F.length("lt") >= 2)
    chars = F.split(F.col("lt"), "")
    a = F.slice(chars, 1, F.length("lt") - 1)
    b = F.slice(chars, 2, F.length("lt") - 1)
    bg = (
        src2.select(
            F.explode(
                F.zip_with(a, b, lambda x, y: F.concat(x, y))
            ).alias("bg")
        )
        .groupBy("bg")
        .agg(F.count("*").cast("long").alias("c12"))
        .persist()
    )
    ctx = bg.groupBy(F.substring("bg", 1, 1).alias("c1")).agg(
        F.sum("c12").cast("long").alias("c1n")
    )
    btot = bg.agg(F.sum("c12").cast("long").alias("nb"))
    h1 = (
        bg.withColumn("c1", F.substring("bg", 1, 1))
        .join(ctx.hint("shuffle_hash"), "c1")
        .crossJoin(F.broadcast(btot))
        .select(
            (
                F.col("c12").cast("decimal(18,0)")
                * F.round(
                    F.log2(F.col("c12") / F.col("c1n").cast("double")), 6
                ).cast("decimal(18,6)")
            ).alias("term"),
            "nb",
        )
        .groupBy("nb")
        .agg(F.sum("term").alias("s1"))
    )
    out = h0.crossJoin(h1).select(
        F.col("n").cast("long").alias("n_chars"),
        F.col("nb").cast("long").alias("n_bigrams"),
        F.floor(
            (-F.col("s0").cast("double") / F.col("n").cast("double"))
            * 1000000.0
        )
        .cast("long")
        .alias("h0_micro"),
        F.floor(
            (-F.col("s1").cast("double") / F.col("nb").cast("double"))
            * 1000000.0
        )
        .cast("long")
        .alias("h1_micro"),
    )
    return out.select(
        "n_chars",
        "n_bigrams",
        "h0_micro",
        "h1_micro",
        (F.col("h0_micro") - F.col("h1_micro")).alias("redundancy_micro"),
    )


def vocab_coverage(
    docs: DataFrame,
    text_col: str = "text",
    *,
    max_pow: int = 10,
) -> DataFrame:
    """Tokenizer design curve: what fraction of corpus tokens the top
    2^k vocabulary covers, for k = 1..``max_pow`` — the coverage-vs-
    vocab-size trade every tokenizer budget decision reads off (where
    the curve flattens is where added vocab stops paying).

    Scale shape: ONE map-side-combined token count (the only corpus
    exchange) -> TakeOrdered top-2^max_pow; rank, cumulative counts and
    the k-grid all live on the bounded vocab table (documented
    bounded-domain windows). All-integer: covered_ppm is exact div.

    Output: (k, vocab_size, covered_ppm) — vocab_size = min(2^k, |V|).
    """
    toks = docs.select(
        F.explode(ws_tokens(F.lower(F.col(text_col)))).alias("token")
    )
    # vocab-sized but corpus-derived; feeds BOTH the total and the top-V
    counts = (
        toks.groupBy("token")
        .agg(F.count("*").cast("long").alias("n"))
        .persist()
    )
    tot = counts.agg(F.sum("n").cast("long").alias("t"))
    top = counts.orderBy(F.col("n").desc(), "token").limit(1 << max_pow)
    w = Window.orderBy(F.col("n").desc(), "token")
    ranked = top.select(
        "n",
        F.row_number().over(w).alias("rn"),
        F.sum("n")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum"),
    )
    vmax = ranked.agg(F.max("rn").alias("vmax"))
    ks = docs.sparkSession.range(1, max_pow + 1).select(
        F.col("id").cast("long").alias("k"),
        F.expr("shiftleft(1L, cast(id as int))").cast("long").alias("v"),
    )
    grid = ks.crossJoin(F.broadcast(vmax)).select(
        "k", F.least(F.col("v"), F.col("vmax")).alias("vocab_size")
    )
    return (
        grid.join(
            F.broadcast(ranked), F.col("vocab_size") == F.col("rn")
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "k",
            "vocab_size",
            F.expr("(cum * 1000000L) div t").cast("long").alias("covered_ppm"),
        )
    )


def byte_fertility(
    docs: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """UTF-8 byte fertility per language — the multilingual budget
    gauge: how many BYTES one character / one whitespace token costs per
    language (ASCII languages ~1.0 byte/char; diacritic-heavy and CJK
    text costs 2-4x, which is exactly the tokenizer-budget and storage
    skew a mixing plan must price in).

    ONE map-side-combined groupBy of exact bigint sums; ratios are
    integer micro division. Spark octet_length == DuckDB strlen (both
    UTF-8 byte counts — probed, not assumed).

    Output: (group, n_docs, n_chars, n_bytes, n_tokens,
    bytes_per_char_micro, bytes_per_token_micro).
    """
    t = F.col(text_col)
    g = docs.groupBy(F.col(group_col).alias("grp")).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.length(t)).cast("long").alias("n_chars"),
        F.sum(F.octet_length(t)).cast("long").alias("n_bytes"),
        F.sum(F.size(ws_tokens(F.lower(t)))).cast("long").alias("n_tokens"),
    )
    return g.select(
        F.col("grp").alias(group_col),
        "n_docs",
        "n_chars",
        "n_bytes",
        "n_tokens",
        F.expr("(n_bytes * 1000000L) div n_chars")
        .cast("long")
        .alias("bytes_per_char_micro"),
        F.expr("(n_bytes * 1000000L) div n_tokens")
        .cast("long")
        .alias("bytes_per_token_micro"),
    )


def code_detect(
    docs: DataFrame,
    text_col: str = "text",
    *,
    symbol_ppm: int = 30_000,
    keyword_hits: int = 2,
) -> DataFrame:
    """Code-vs-prose routing heuristic — the webtext curation gate that
    keeps source code out of a prose corpus (or routes it to the code
    pipeline): symbol density ({}();=<> per char), code-keyword hits
    (def/function/return/import/var/const), and camelCase density.
    Flag = symbol density over threshold AND >= ``keyword_hits``
    keyword matches — pure codegen expressions, one projection, all
    integer (densities in ppm via exact div).

    Output: (doc_id, n_chars, symbol_ppm, keyword_hits, camel_ppm,
    is_code).
    """
    t = F.col(text_col)
    n = F.length(t)
    symbols = n - F.length(F.regexp_replace(t, r"[{}();=<>\[\]]", ""))
    kw = F.size(
        F.regexp_extract_all(
            F.lower(t),
            F.lit(r"\b(def|function|return|import|var|const|void|int)\b"),
            0,
        )
    )
    camel = F.size(
        F.regexp_extract_all(t, F.lit(r"\b[a-z]+[A-Z][A-Za-z]*\b"), 0)
    )
    out = docs.where(n > 0).select(
        "doc_id",
        n.cast("long").alias("n_chars"),
        symbols.cast("long").alias("_sym"),
        kw.cast("long").alias("keyword_hits"),
        camel.cast("long").alias("_camel"),
    )
    return out.select(
        "doc_id",
        "n_chars",
        F.expr("(_sym * 1000000L) div n_chars")
        .cast("long")
        .alias("symbol_ppm"),
        "keyword_hits",
        F.expr("(_camel * 1000000L) div n_chars")
        .cast("long")
        .alias("camel_ppm"),
        (
            (F.expr("(_sym * 1000000L) div n_chars") >= symbol_ppm)
            & (F.col("keyword_hits") >= keyword_hits)
        )
        .cast("long")
        .alias("is_code"),
    )


def deleted_interpolation(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Jelinek-Mercer deleted-interpolation weights for a bigram LM —
    the classic EM-free recipe (Brants 2000 TnT): for every bigram
    TYPE, compare the leave-one-out bigram estimate (c12-1)/(c1-1)
    against the unigram estimate (c2-1)/(N-1); award the type's COUNT
    to whichever order predicted better. The normalized award shares
    are the interpolation lambdas.

    Fully integer: the comparison cross-multiplies —
    (c12-1)*(N-1) vs (c2-1)*(c1-1) — so no division happens until the
    final ppm shares (exact div). Degenerate contexts (c1 = 1) award
    the unigram, per the standard recipe.

    Scale shape: ONE bigram explode (lm_scores O(chars) slicing) ->
    bigram-vocab table; unigram counts and N derive from IT (groupBy
    w2 / scalar agg) — the corpus is touched once; the award fold is
    one scan of the bounded vocab table.

    Output: one row (n_bigram_types, lambda2_ppm, lambda1_ppm,
    awarded_bigram, awarded_unigram).
    """
    lt = ws_tokens(F.lower(F.col(text_col)))
    src = docs.select(lt.alias("toks")).where(F.size("toks") >= 2)
    a = F.slice(F.col("toks"), 1, F.size("toks") - 1)
    b = F.slice(F.col("toks"), 2, F.size("toks") - 1)
    pairs = src.select(
        F.explode(
            F.zip_with(a, b, lambda x, y: F.struct(x.alias("w1"), y.alias("w2")))
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    bg = (
        pairs.groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("c12"))
        .persist()
    )
    c1t = bg.groupBy("w1").agg(F.sum("c12").cast("long").alias("c1"))
    c2t = bg.groupBy("w2").agg(F.sum("c12").cast("long").alias("c2"))
    nt = bg.agg(F.sum("c12").cast("long").alias("nn"))
    j = (
        bg.join(c1t.hint("shuffle_hash"), "w1")
        .join(c2t.hint("shuffle_hash"), "w2")
        .crossJoin(F.broadcast(nt))
    )
    bigram_wins = (F.col("c1") > 1) & (
        (F.col("c12") - 1) * (F.col("nn") - 1)
        > (F.col("c2") - 1) * (F.col("c1") - 1)
    )
    agg = j.agg(
        F.count("*").cast("long").alias("n_bigram_types"),
        F.sum(F.when(bigram_wins, F.col("c12")).otherwise(F.lit(0)))
        .cast("long")
        .alias("awarded_bigram"),
        F.sum(F.when(~bigram_wins, F.col("c12")).otherwise(F.lit(0)))
        .cast("long")
        .alias("awarded_unigram"),
    )
    return agg.select(
        "n_bigram_types",
        F.expr(
            "(awarded_bigram * 1000000L)"
            " div (awarded_bigram + awarded_unigram)"
        )
        .cast("long")
        .alias("lambda2_ppm"),
        F.expr(
            "(awarded_unigram * 1000000L)"
            " div (awarded_bigram + awarded_unigram)"
        )
        .cast("long")
        .alias("lambda1_ppm"),
        "awarded_bigram",
        "awarded_unigram",
    )


def span_corruption(
    docs: DataFrame,
    text_col: str = "text",
    *,
    span_tokens: int = 3,
    corrupt_ppm: int = 150_000,
) -> DataFrame:
    """T5-style span-corruption PLAN: partition each document's tokens
    into fixed ``span_tokens`` windows and mask whole windows with
    probability ``corrupt_ppm`` decided by a content-addressed hash of
    (doc_id, window) — the seq2seq denoising objective's data prep,
    deterministic so the corrupted corpus is a versionable artifact
    (word_dropout corrupts i.i.d. tokens; span corruption masks
    CONTIGUOUS runs, which is what makes the objective hard).

    One projection, zero shuffles: the mask is an index-aware array
    filter (window id = position div span_tokens), counts are array
    sizes, and n_spans (= sentinel count) is the number of DISTINCT
    masked windows, recovered exactly as masked_windows =
    ceil-partition count minus surviving-window count.

    Output: (doc_id, n_tokens, n_masked, n_spans, kept_text).
    """
    thr = corrupt_ppm // 100  # hash_bucket granularity is 1/10000
    bound = docs.select(
        "doc_id", ws_tokens(F.lower(F.col(text_col))).alias("__toks")
    )

    def _win_hash(i: Column) -> Column:
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("sc|"),
                            F.col("doc_id").cast("string"),
                            F.lit("|"),
                            (i / span_tokens).cast("int").cast("string"),
                        )
                    ),
                    1,
                    7,
                ),
                16,
                10,
            ).cast("bigint")
            % 10000
        )

    kept = F.filter(F.col("__toks"), lambda t, i: _win_hash(i) >= thr)
    n = F.size("__toks")
    n_windows = F.ceil(n / F.lit(span_tokens)).cast("long")
    surviving = F.size(
        F.array_distinct(
            F.filter(
                F.transform(
                    F.col("__toks"),
                    lambda t, i: F.when(
                        _win_hash(i) >= thr,
                        (i / span_tokens).cast("int"),
                    ),
                ),
                lambda x: x.isNotNull(),
            )
        )
    ).cast("long")
    return bound.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        (n - F.size(kept)).cast("long").alias("n_masked"),
        F.when(n > 0, n_windows - surviving)
        .otherwise(F.lit(0))
        .cast("long")
        .alias("n_spans"),
        F.array_join(kept, " ").alias("kept_text"),
    )


def dedup_diversity(
    docs: DataFrame,
    dedup_docs: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """What dedup buys, measured: distinct-bigram counts and type-token
    ratio for the RAW corpus vs its DEDUPED form — duplicate documents
    add tokens without adding types, so the deduped TTR must not drop
    (the curation sanity check that dedup removed redundancy, not
    diversity).

    Scale shape: per stage, ONE bigram explode -> one combined
    aggregate of (total, distinct) via count + count_distinct on the
    bigram hash — the corpus is touched once per stage and nothing
    bigger than two rows survives.

    Output: one row per stage — (stage, n_docs, n_bigrams,
    distinct_bigrams, ttr_ppm).
    """

    def _stage(df: DataFrame, name: str) -> DataFrame:
        lt = ws_tokens(F.lower(F.col(text_col)))
        src = df.select(lt.alias("toks")).where(F.size("toks") >= 2)
        a = F.slice(F.col("toks"), 1, F.size("toks") - 1)
        b = F.slice(F.col("toks"), 2, F.size("toks") - 1)
        bg = src.select(
            F.explode(
                F.zip_with(a, b, lambda x, y: F.concat_ws(" ", x, y))
            ).alias("bg")
        )
        n_docs = df.count()
        agg = bg.agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.count_distinct("bg").cast("long").alias("distinct_bigrams"),
        )
        return agg.select(
            F.lit(name).alias("stage"),
            F.lit(n_docs).cast("long").alias("n_docs"),
            "n_bigrams",
            "distinct_bigrams",
            F.expr("(distinct_bigrams * 1000000L) div n_bigrams")
            .cast("long")
            .alias("ttr_ppm"),
        )

    return _stage(docs, "raw").unionByName(_stage(dedup_docs, "deduped"))


def heldout_perplexity(
    train_docs: DataFrame,
    eval_docs: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Held-out LM evaluation — the eval-hygiene counterpart of
    ``lm_scores`` (which self-trains on the corpus it scores): train
    the character-bigram model on the TRAIN split only, score the EVAL
    split against it. The held-out NLL is the number a data-mixture
    ablation actually compares; self-scored NLL rewards memorizing the
    split under test.

    Unseen eval bigrams (no train mass) are EXCLUDED from the average
    and counted separately — the standard held-out protocol (the
    alternative, smoothing, is a modeling choice this gauge should not
    hide); n_unseen going up is itself the domain-shift signal.

    Scale shape: training is lm_scores' two map-side-combined groupBys
    onto the bounded alphabet² vocab; scoring is ONE eval bigram
    explode joined to the broadcast model table (bounded by vocab) and
    ONE groupBy(doc_id). Decimal-pinned ln terms (round 6 -> decimal),
    one double division + floor(micro) per doc.

    Output: (doc_id, n_bigrams, n_unseen, nll_micro) — NULL nll for
    docs with no SEEN bigrams.
    """

    def _bigrams(df: DataFrame, with_id: bool) -> DataFrame:
        lt = F.lower(F.col(text_col))
        src = df.select(
            *(["doc_id"] if with_id else []), lt.alias("lt")
        ).where(F.length("lt") >= 2)
        chars = F.split(F.col("lt"), "")
        a = F.slice(chars, 1, F.length("lt") - 1)
        b = F.slice(chars, 2, F.length("lt") - 1)
        return src.select(
            *(["doc_id"] if with_id else []),
            F.explode(
                F.zip_with(a, b, lambda x, y: F.concat(x, y))
            ).alias("bg"),
        )

    mc = _bigrams(train_docs, False).groupBy("bg").agg(
        F.count("*").alias("cnt")
    )
    pc = mc.groupBy(F.substring("bg", 1, 1).alias("c1")).agg(
        F.sum("cnt").alias("pcnt")
    )
    model = mc.withColumn("c1", F.substring("bg", 1, 1)).join(
        pc.hint("shuffle_hash"), "c1"
    ).select(
        "bg",
        F.round(F.log(F.col("cnt") / F.col("pcnt").cast("double")), 6)
        .cast("decimal(28,12)")
        .alias("lnp"),
    )
    ev = _bigrams(eval_docs, True)
    scored = ev.join(F.broadcast(model), "bg", "left")
    agg = scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_bigrams"),
        F.sum(F.col("lnp").isNull().cast("long")).cast("long").alias(
            "n_unseen"
        ),
        F.sum("lnp").alias("s"),
        F.sum(F.col("lnp").isNotNull().cast("long")).cast("long").alias(
            "m"
        ),
    )
    return agg.select(
        "doc_id",
        "n_bigrams",
        "n_unseen",
        F.when(
            F.col("m") > 0,
            F.floor(
                (-F.col("s").cast("double") / F.col("m").cast("double"))
                * 1000000.0
            ),
        )
        .cast("long")
        .alias("nll_micro"),
    )


def best_snippet(
    docs: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    *,
    window: int = 10,
) -> DataFrame:
    """Query-biased snippet selection: the ``window``-token span of each
    matching document with the most query-term hits — what a search
    result page shows under the title, and the span a RAG pipeline
    feeds the model instead of the whole page.

    Scale shape: tokens explode ONCE with a query-membership bit
    (bounded literal array — the filter bit is codegen, no join);
    per-position window scores come from the cumsum difference over a
    doc-partitioned window (per-doc token lists are tiny and
    hash-spread); the per-doc argmax is rn = 1 over (score desc, start
    asc) — WindowGroupLimit pushes it below the shuffle. Documents with
    zero hits emit no row.

    Output: (doc_id, start_pos, hits, snippet).
    """
    lits = F.array(*[F.lit(t) for t in query_terms])
    toked = docs.select(
        "doc_id", F.posexplode(ws_tokens(F.lower(F.col(text_col)))).alias(
            "pos", "token"
        )
    ).select(
        "doc_id",
        "pos",
        "token",
        F.array_contains(lits, F.col("token")).cast("long").alias("hit"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    cum = toked.withColumn("c", F.sum("hit").over(w))
    scored = cum.withColumn(
        "win_hits",
        F.col("c")
        - F.coalesce(F.lag("c", window).over(w), F.lit(0)),
    ).where(F.col("win_hits") > 0)
    rn = Window.partitionBy("doc_id").orderBy(
        F.col("win_hits").desc(), F.col("pos").asc()
    )
    best = scored.withColumn("rn", F.row_number().over(rn)).where(
        F.col("rn") == 1
    )
    start = F.greatest(F.col("pos") - window + 1, F.lit(0))
    snip = toked.alias("t").join(
        best.select(
            "doc_id", start.alias("start_pos"), F.col("win_hits").alias("hits")
        ).alias("b"),
        "doc_id",
    ).where(
        (F.col("t.pos") >= F.col("b.start_pos"))
        & (F.col("t.pos") < F.col("b.start_pos") + window)
    )
    return snip.groupBy("doc_id", "start_pos", "hits").agg(
        F.concat_ws(
            " ", F.array_sort(F.collect_list(F.struct("pos", "token")))
            .getField("token")
        ).alias("snippet")
    ).select(
        "doc_id",
        F.col("start_pos").cast("long"),
        F.col("hits").cast("long"),
        "snippet",
    )


def shared_prefixes(
    docs: DataFrame,
    text_col: str = "text",
    *,
    prefix_tokens: int = 16,
) -> DataFrame:
    """Prefix-sharing census for batched inference: how many documents
    share their first ``prefix_tokens`` tokens, and how many prefix
    tokens a KV-prefix cache would avoid recomputing (shared groups pay
    the prefix ONCE; every further member rides the cache) — the data-
    side estimate behind prompt-dedup / prefix-caching serving designs.

    ONE projection (prefix = slice + join of the bound token array) and
    ONE map-side-combined groupBy(prefix hash); savings are exact
    integer arithmetic on the group table.

    Output: one row — (n_docs, n_groups, docs_in_shared_groups,
    saved_tokens, saved_ppm) where saved_ppm is saved prefix tokens
    over ALL prefix tokens.
    """
    bound = docs.select(
        "doc_id", ws_tokens(F.lower(F.col(text_col))).alias("__toks")
    ).where(F.size("__toks") >= prefix_tokens)
    pref = bound.select(
        F.md5(
            F.array_join(F.slice("__toks", 1, prefix_tokens), " ")
        ).alias("p")
    )
    g = pref.groupBy("p").agg(F.count("*").cast("long").alias("n"))
    agg = g.agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.count("*").cast("long").alias("n_groups"),
        F.sum(F.when(F.col("n") >= 2, F.col("n")).otherwise(F.lit(0)))
        .cast("long")
        .alias("docs_in_shared_groups"),
        F.sum((F.col("n") - 1) * prefix_tokens)
        .cast("long")
        .alias("saved_tokens"),
    )
    return agg.select(
        "n_docs",
        "n_groups",
        "docs_in_shared_groups",
        "saved_tokens",
        F.expr(f"(saved_tokens * 1000000L) div (n_docs * {prefix_tokens}L)")
        .cast("long")
        .alias("saved_ppm"),
    )


def term_burstiness(
    docs: DataFrame,
    text_col: str = "text",
    *,
    top_k: int = 50,
) -> DataFrame:
    """Term burstiness (Church & Gale): the Fano factor (variance/mean)
    of a term's per-document counts — function words spread evenly
    (Fano ~1, Poisson-like); content words BURST (a doc about the topic
    uses the term many times; most docs use it zero) — the lexical
    statistic that separates topical vocabulary from glue without any
    labels.

    Exact integers: over N docs with per-doc counts x (zeros included
    implicitly), Fano = ((N·Σx² − (Σx)²)) / (N·Σx) — cross-multiplied
    from the per-term (Σx, Σx²) table plus the scalar N; micro by
    exact div. One token explode -> ONE map-side-combined
    groupBy(term, doc) -> ONE groupBy(term); top-k by total count.

    Output: (token, total, df, fano_micro), top_k by (total desc,
    token).
    """
    toks = docs.select(
        "doc_id", F.explode(ws_tokens(F.lower(F.col(text_col)))).alias("token")
    )
    per_doc = toks.groupBy("token", "doc_id").agg(
        F.count("*").cast("long").alias("x")
    )
    per_term = per_doc.groupBy("token").agg(
        F.sum("x").cast("long").alias("total"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.count("*").cast("long").alias("df"),
    )
    n_docs = docs.count()
    fano = F.expr(
        f"(({n_docs}L * sxx - total * total) * 1000000L)"
        f" div ({n_docs}L * total)"
    )
    return (
        per_term.select(
            "token", "total", "df", fano.cast("long").alias("fano_micro")
        )
        .orderBy(F.col("total").desc(), "token")
        .limit(top_k)
    )


def mrr_eval(
    df: DataFrame,
    terms: list[str],
    *,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Mean-reciprocal-rank retrieval audit: for each query term, rank
    the corpus by term frequency (ties by id), keep the top-k, and
    score the rank of the first RELEVANT hit — relevance is "the term
    appears word-bounded in the document head", a stricter condition
    than the tf ranking criterion, so MRR measures how well raw tf
    surfaces head-salient documents (the same gauge an IR stack runs
    nightly against a label set).

    All integer: tf is occurrence count via length arithmetic,
    rr_micro = 1000000 div first_relevant_rank, and the corpus-level
    MRR is the exact integer mean over query terms.

    Scale shape: the per-term ranking is a window PARTITIONED BY term
    with a rank<=k filter — Spark plans it as WindowGroupLimit, so
    each task keeps a k-row heap and only n_terms*k rows survive to
    the final (broadcast-sized) aggregate; the corpus is scanned once
    per term batch, never sorted globally.

    Output: one row per query term (query_term, best_rank, rr_micro)
    plus a corpus row ('*ALL*', n_hits, mrr_micro), ordered by term.
    """
    queries = F.explode(
        F.array(*[F.lit(t) for t in sorted(terms)])
    ).alias("query_term")
    scored = df.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("txt"),
        queries,
    ).select(
        "id",
        "query_term",
        F.expr(
            "(length(txt) - length(replace(txt, query_term, '')))"
            " div length(query_term)"
        )
        .cast("long")
        .alias("tf"),
        F.substring("txt", 1, 120)
        .contains(F.concat(F.lit(" "), F.col("query_term"), F.lit(" ")))
        .cast("long")
        .alias("rel"),
    )
    w = Window.partitionBy("query_term").orderBy(
        F.col("tf").desc(), F.col("id").asc()
    )
    topk = scored.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= k
    )
    per_term = topk.groupBy("query_term").agg(
        F.min(F.when(F.col("rel") == 1, F.col("rn")))
        .cast("long")
        .alias("best_rank")
    )
    per_term = per_term.select(
        "query_term",
        F.coalesce("best_rank", F.lit(0)).cast("long").alias("best_rank"),
        F.coalesce(
            F.expr("1000000 div best_rank"), F.lit(0)
        )
        .cast("long")
        .alias("rr_micro"),
    ).persist()
    overall = per_term.agg(
        F.sum((F.col("best_rank") > 0).cast("long"))
        .cast("long")
        .alias("best_rank"),
        F.expr("sum(rr_micro) div count(*)").cast("long").alias("rr_micro"),
    ).select(F.lit("*ALL*").alias("query_term"), "best_rank", "rr_micro")
    return per_term.unionByName(overall).orderBy("query_term")


def rbo_weights_nano(k: int, p: float = 0.9) -> list[int]:
    """Suffix-summed rank-biased-overlap weights W_m = sum_{d=m..k}
    (1-p) p^(d-1) / d, as nano-scaled integer literals computed once in
    Python and shared VERBATIM with the SQL oracle (the NDCG-discount
    discipline: no runtime float pow in either engine)."""
    w = [(1 - p) * p ** (d - 1) / d for d in range(1, k + 1)]
    return [round(sum(w[m - 1:]) * 1_000_000_000) for m in range(1, k + 1)]


def rbo_overlap(
    df: DataFrame,
    rank_a,
    rank_b,
    *,
    k: int = 10,
    p: float = 0.9,
    id_col: str = "doc_id",
) -> DataFrame:
    """Rank-biased overlap (RBO, Webber et al. 2010) between two top-k
    rankings of the corpus — the prefix-weighted agreement gauge for
    "does the cheap ranking surface the same heads as the expensive
    one?", strictly more informative at the top than whole-list
    correlation.

    Identity that makes it one join: RBO_min = sum over matched ids of
    W_max(da,db) where W_m is the SUFFIX sum of the per-depth weights —
    so instead of k prefix intersections we look each match's weight up
    in a k-entry literal array. All integer (nano-scaled literal
    weights), no runtime float pow.

    Scale shape: each top-k is TakeOrderedAndProject (partial per-task
    heaps, k rows survive); positions come from a window over those k
    rows only (bounded-table exception); the match join is k x k.

    Output: one row (k, n_common, rbo_nano).
    """
    weights = rbo_weights_nano(k, p)
    wlit = F.array(*[F.lit(w) for w in weights])

    def _top(rank_expr, out: str) -> DataFrame:
        t = df.select(F.col(id_col).alias("id"), rank_expr.alias("r")).orderBy(
            F.col("r").desc(), F.col("id").asc()
        ).limit(k)
        pos = Window.orderBy(F.col("r").desc(), F.col("id").asc())
        return t.select("id", F.row_number().over(pos).alias(out))
    a = _top(rank_a, "da")
    b = _top(rank_b, "db")
    m = a.join(b, "id").select(
        F.greatest("da", "db").alias("m")
    )
    agg = m.agg(
        F.count("*").cast("long").alias("n_common"),
        F.coalesce(
            F.sum(F.element_at(wlit, F.col("m").cast("int"))), F.lit(0)
        )
        .cast("long")
        .alias("rbo_nano"),
    )
    return agg.select(
        F.lit(k).cast("long").alias("k"), "n_common", "rbo_nano"
    )


def keyness_terms(
    docs: DataFrame,
    *,
    k: int = 5,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Dunning log-likelihood (G2) keyness: the top-k terms that most
    distinguish each source from the rest of the corpus — the standard
    corpus-linguistics signature test ("what is THIS crawl segment
    about?"), strictly sounder than raw tf ratios for rare terms.

    Per (source, term) contingency cell (a = tf in source, b = tf
    elsewhere, c/d = remaining token mass): G2 = 2 * sum of
    x * ln(x / E_x) over the four cells, each term evaluated with a
    PINNED operation order — the ln argument is (x*N)/((row)*(col)) as
    three double ops — and rounded to 6 decimals into an exact decimal
    sum (the char_entropy portability discipline), so the G2 micro
    value hash-matches the oracle. x = 0 cells contribute 0.

    Scale shape: ONE explode + map-side-combined groupBy(term, group)
    builds the tf table (vocab x groups, far below corpus size); term
    margins come from re-aggregating THAT table, never the corpus;
    group token totals are a bounded broadcast. The margin join is
    pinned shuffle_hash (vocab-sized tables are never broadcast). The
    per-group top-k is a rank<=k filter -> WindowGroupLimit.

    Output: (source, term, tf_in, tf_out, g2_micro, overused, rank).
    """
    toks = docs.select(
        F.col(group_col).alias("grp"),
        F.explode(ws_tokens(F.lower(F.col(text_col)))).alias("term"),
    ).where(~F.col("term").isin(*STOPWORDS))
    tf = (
        toks.groupBy("grp", "term")
        .agg(F.count("*").cast("long").alias("a"))
        .persist()
    )
    term_tot = tf.groupBy("term").agg(F.sum("a").cast("long").alias("ab"))
    grp_tot = tf.groupBy("grp").agg(F.sum("a").cast("long").alias("ac"))
    n_total = tf.agg(F.sum("a")).collect()[0][0] or 0
    cells = (
        tf.hint("shuffle_hash")
        .join(term_tot.hint("shuffle_hash"), "term")
        .join(F.broadcast(grp_tot), "grp")
        .select(
            "grp",
            "term",
            "a",
            (F.col("ab") - F.col("a")).alias("b"),
            (F.col("ac") - F.col("a")).alias("c"),
            (F.lit(n_total) - F.col("ab") - F.col("ac") + F.col("a")).alias(
                "d"
            ),
            F.col("ab"),
            F.col("ac"),
        )
    )
    n = F.lit(n_total).cast("double")

    def _ll(x, row, col):
        arg = (x.cast("double") * n) / (
            row.cast("double") * col.cast("double")
        )
        return F.when(
            x > 0, F.round(x.cast("double") * F.log(arg), 6)
        ).otherwise(F.lit(0.0)).cast("decimal(28,6)")

    ab, ac = F.col("ab"), F.col("ac")
    bd = F.lit(n_total) - ac
    cd = F.lit(n_total) - ab
    g2 = (
        F.lit(2)
        * (
            _ll(F.col("a"), ab, ac)
            + _ll(F.col("b"), ab, bd)
            + _ll(F.col("c"), cd, ac)
            + _ll(F.col("d"), cd, bd)
        )
        * 1000000
    ).cast("long")
    scored = cells.select(
        F.col("grp"),
        "term",
        F.col("a").alias("tf_in"),
        F.col("b").alias("tf_out"),
        g2.alias("g2_micro"),
        (
            F.col("a").cast("decimal(38,0)") * bd.cast("decimal(38,0)")
            > F.col("b").cast("decimal(38,0)") * ac.cast("decimal(38,0)")
        )
        .cast("long")
        .alias("overused"),
    )
    w = Window.partitionBy("grp").orderBy(
        F.col("g2_micro").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select(
            F.col("grp").alias("source"),
            "term",
            "tf_in",
            "tf_out",
            "g2_micro",
            "overused",
            "rank",
        )
    )


def vocab_churn(
    docs: DataFrame,
    snapshot_flag,
    *,
    text_col: str = "text",
) -> DataFrame:
    """Vocabulary turnover between two crawl snapshots: how many word
    types were born, died, or survived from snapshot A to snapshot B —
    the token-level companion to crawl_diff's URL-level churn (a spam
    flood or a template change shows up as a type-birth spike long
    before it moves length stats).

    ``snapshot_flag`` is a boolean column expression: true = the row
    belongs to snapshot B, false = snapshot A.

    Scale shape: ONE explode + ONE map-side-combined groupBy(token) of
    two conditional maxima (the per-type membership bits), then a
    scalar aggregate — the corpus is scanned once, the exchange is
    vocabulary-sized, nothing is broadcast or windowed.

    Output: one row (vocab_a, vocab_b, born, died, shared, churn_ppm)
    with churn_ppm = born * 1e6 div vocab_b.
    """
    toks = docs.select(
        F.explode(ws_tokens(F.lower(F.col(text_col)))).alias("token"),
        snapshot_flag.cast("long").alias("in_b"),
    )
    mem = toks.groupBy("token").agg(
        F.max(1 - F.col("in_b")).cast("long").alias("a"),
        F.max("in_b").cast("long").alias("b"),
    )
    agg = mem.agg(
        F.sum("a").cast("long").alias("vocab_a"),
        F.sum("b").cast("long").alias("vocab_b"),
        F.sum(F.col("b") * (1 - F.col("a"))).cast("long").alias("born"),
        F.sum(F.col("a") * (1 - F.col("b"))).cast("long").alias("died"),
        F.sum(F.col("a") * F.col("b")).cast("long").alias("shared"),
    )
    return agg.select(
        "vocab_a",
        "vocab_b",
        "born",
        "died",
        "shared",
        F.when(
            F.col("vocab_b") > 0, F.expr("(born * 1000000) div vocab_b")
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("churn_ppm"),
    )


def lm_greedy_decode(
    docs: DataFrame,
    *,
    steps: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """Greedy argmax decoding from the corpus bigram table: start at the
    most frequent token and repeatedly take the most likely continuation
    — the cheapest possible "what does this corpus sound like?" probe
    (degenerate repetition in the decode = heavy template/boilerplate
    duplication the LM memorized; kneser_ney_bigrams scores, this
    GENERATES).

    Determinism: every argmax tie breaks lexicographically; a dead end
    (no continuation) propagates null tokens to the requested length,
    matching the oracle's chained-CTE null semantics.

    Scale shape: the corpus is exploded to bigrams ONCE and reduced to
    the persisted bigram-vocab table (kneser_ney's shape); each decode
    step is a TakeOrdered(1) on THAT bounded table — `steps` tiny jobs,
    the documented driver-loop-over-vocab-table regime (same as
    bpe_train), never a corpus rescan.

    Output: (step, token), steps rows.

    Bounds (guarded): steps <= 1024 — each step is one TakeOrdered(1)
    driver job on the bounded bigram table; a huge-steps misuse fails
    fast instead of scheduling thousands of jobs (the bpe_train_merges
    discipline).
    """
    if steps > 1024:
        raise ValueError(
            "lm_greedy_decode is bounded to steps <= 1024 (each step is "
            "a driver-scheduled TakeOrdered job on the bigram table)"
        )
    lt = ws_tokens(F.lower(F.col(text_col)))
    src = docs.select(lt.alias("toks")).persist()
    start_rows = (
        src.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), F.col("w"))
        .limit(1)
        .collect()
    )
    a = F.slice(F.col("toks"), 1, F.size("toks") - 1)
    b = F.slice(F.col("toks"), 2, F.size("toks") - 1)
    bg = (
        src.where(F.size("toks") >= 2)
        .select(
            F.explode(
                F.zip_with(
                    a, b, lambda x, y: F.struct(x.alias("w1"), y.alias("w2"))
                )
            ).alias("bg")
        )
        .groupBy("bg.w1", "bg.w2")
        .agg(F.count("*").cast("long").alias("c"))
        .persist()
    )
    seq: list = [start_rows[0]["w"] if start_rows else None]
    while len(seq) < steps:
        cur = seq[-1]
        if cur is None:
            seq.append(None)
            continue
        nxt = (
            bg.where(F.col("w1") == cur)
            .orderBy(F.col("c").desc(), F.col("w2"))
            .limit(1)
            .collect()
        )
        seq.append(nxt[0]["w2"] if nxt else None)
    spark = docs.sparkSession
    return spark.createDataFrame(
        [(i + 1, t) for i, t in enumerate(seq)], "step long, token string"
    )


def novelty_curve(
    docs: DataFrame,
    *,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Diminishing-returns curve of more data: walking the corpus in id
    order, how many NEW shingle types does each doubling of position
    contribute — the saturation measurement behind "will 10x more of
    this crawl still teach the model anything?" (flat tail = the
    marginal crawl is repeats).

    A type is "born" in the doc with the minimum id containing it, so
    per-bucket novelty needs NO sequential scan: one groupBy(shingle)
    min gives every type's birth doc, and positions fold into log2
    buckets via the portable bit-length identity.

    Scale shape: the corpus is exploded to (doc, shingle) twice (type
    births and per-doc type counts need different keys — the exploded
    stream is corpus-sized, so it is deliberately NOT persisted); both
    reductions are map-side-combined; everything after runs on the
    <= 63-bucket table, including the cumulative window.

    Output: (bucket, n_docs, types_seen, types_new, types_cum,
    novelty_ppm), ordered by bucket.
    """
    from .dedup import shingles

    sh = docs.select(
        F.col(id_col).cast("long").alias("doc"),
        F.explode(shingles(F.col(text_col), k)).alias("s"),
    )
    bucket = F.length(F.bin(F.col("doc") + 1))
    per_doc = sh.groupBy("doc").agg(F.count("*").cast("long").alias("td"))
    births = (
        sh.groupBy("s")
        .agg(F.min("doc").alias("doc"))
        .groupBy("doc")
        .agg(F.count("*").cast("long").alias("tn"))
    )
    per_bucket = (
        per_doc.join(births.hint("shuffle_hash"), "doc", "left")
        .select(
            bucket.alias("bucket"),
            "td",
            F.coalesce("tn", F.lit(0)).alias("tn"),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("td").cast("long").alias("types_seen"),
            F.sum("tn").cast("long").alias("types_new"),
        )
    )
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per_bucket.select(
        F.col("bucket").cast("long"),
        "n_docs",
        "types_seen",
        "types_new",
        F.sum("types_new").over(w).cast("long").alias("types_cum"),
        F.expr("(types_new * 1000000) div types_seen")
        .cast("long")
        .alias("novelty_ppm"),
    ).orderBy("bucket")


def heaps_law(
    docs: DataFrame,
    *,
    levels: int = 6,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Heaps'-law vocabulary growth curve from NESTED hash subsamples:
    vocabulary size at 1/2^k of the corpus for k = levels..0, all from
    ONE scan — the "how much new vocabulary will 10x data bring?"
    design curve for tokenizer budgets, measured instead of assumed.

    Nesting trick: a doc's level K = number of trailing zero bits of
    its md5 hash (K >= k <=> the doc is in the 2^-k subsample, and the
    subsamples nest by construction, so the curve is monotone by
    construction too). A token's subsample visibility is max K over
    its docs — one groupBy(token) max; vocab/doc/token counts at every
    level are SUFFIX sums over the <= levels+1-row K distributions.

    Output: (level, denom, n_docs, n_tokens, vocab), level 0 (full
    corpus) .. levels, ordered by level.
    """
    hb = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("hl|"), F.col(id_col).cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long") % (1 << levels)
    # build the ladder inside-out so the OUTERMOST test is the largest
    # power of two — hb = 0 must classify as level `levels`, not 1
    kd = F.lit(0)
    for j in range(1, levels + 1):
        kd = F.when(F.col("hb") % (1 << j) == 0, F.lit(j)).otherwise(kd)
    base = docs.select(
        hb.alias("hb"),
        ws_tokens(F.lower(F.col(text_col))).alias("toks"),
    ).select(kd.alias("kd"), "toks")
    toks = base.select("kd", F.explode("toks").alias("t"))
    tok_dist = (
        toks.groupBy("t")
        .agg(F.max("kd").alias("tk"))
        .groupBy("tk")
        .agg(F.count("*").cast("long").alias("v"))
    )
    cnt_dist = base.groupBy("kd").agg(
        F.count("*").cast("long").alias("d"),
        F.sum(F.size("toks")).cast("long").alias("tok"),
    )
    spark = docs.sparkSession
    lvls = spark.createDataFrame(
        [(lv, 1 << lv) for lv in range(levels + 1)], "level long, denom long"
    )
    joined = (
        lvls.crossJoin(F.broadcast(tok_dist))
        .groupBy("level", "denom")
        .agg(
            F.sum(F.when(F.col("tk") >= F.col("level"), F.col("v"))).alias(
                "vocab"
            )
        )
        .join(
            lvls.crossJoin(F.broadcast(cnt_dist))
            .groupBy("level")
            .agg(
                F.sum(
                    F.when(F.col("kd") >= F.col("level"), F.col("d"))
                ).alias("n_docs"),
                F.sum(
                    F.when(F.col("kd") >= F.col("level"), F.col("tok"))
                ).alias("n_tokens"),
            ),
            "level",
        )
    )
    return joined.select(
        "level",
        "denom",
        F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_docs"),
        F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
        F.coalesce("vocab", F.lit(0)).cast("long").alias("vocab"),
    ).orderBy("level")


def good_turing(
    docs: DataFrame,
    text_col: str = "text",
    *,
    max_r: int = 10,
    shingle_k: int = 3,
) -> DataFrame:
    """Good–Turing frequency smoothing over the unigram vocabulary:
    the counts-of-counts table N_r (#types seen exactly r times) and
    the smoothed count r* = (r+1)·N_{r+1}/N_r for the low-frequency
    head — the classic unseen-mass estimator behind Katz backoff and
    the "how much vocabulary have we NOT crawled yet" gauge (the
    unseen probability mass is N_1/T).

    All-integer: r*_micro = ((r+1)·N_{r+1}·1e6) div N_r, exact
    truncating division in both engines. Bigint bound: N_{r+1} ≤
    total tokens T, so the numerator ≤ (max_r+1)·T·1e6 — safe for
    T up to ~8e11 at max_r=10; beyond that widen to decimal(38,0).

    The type domain is k-word SHINGLES (dedup.shingles, multiset
    semantics), not unigrams — web-corpus unigram vocabularies have no
    low-frequency tail worth smoothing at small scale, while the
    shingle space always does; it is also the domain Katz-style LMs
    actually smooth.

    Scale shape: the corpus is touched by ONE explode + map-side-
    combined groupBy(shingle); counts-of-counts runs on the type table
    (map-side combined again), and the r↔r+1 self-join runs on the
    PROVABLY bounded distribution table (k distinct counts need
    Σr ≥ k(k+1)/2 tokens, so k ≤ √(2T)) — pinned shuffle_hash,
    nothing corpus-sized broadcasts.

    Output: (r, n_r, n_r_next, r_star_micro) for r = 1..max_r.
    """
    from .dedup import shingles

    toks = docs.select(
        F.explode(shingles(F.col(text_col), shingle_k, distinct=False)).alias(
            "token"
        )
    )
    types = toks.groupBy("token").agg(F.count("*").cast("long").alias("r"))
    dist = types.groupBy("r").agg(F.count("*").cast("long").alias("n_r"))
    nxt = dist.select(
        (F.col("r") - 1).alias("r"), F.col("n_r").alias("n_r_next")
    )
    joined = (
        dist.where(F.col("r") <= max_r)
        .hint("shuffle_hash")
        .join(nxt.hint("shuffle_hash"), "r", "left")
    )
    return joined.select(
        F.col("r").cast("long").alias("r"),
        F.col("n_r").cast("long").alias("n_r"),
        F.coalesce("n_r_next", F.lit(0)).cast("long").alias("n_r_next"),
        F.expr(
            "((r + 1) * coalesce(n_r_next, 0) * 1000000) div n_r"
        )
        .cast("long")
        .alias("r_star_micro"),
    ).orderBy("r")


def mlm_mask_plan(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """BERT-style MLM masking PLAN per document: select ~15% of token
    positions by a seed-stable hash, then split the selection 80/10/10
    into [MASK] / keep-as-is / random-replace — the deterministic,
    resume-safe alternative to RNG state inside executors (same
    doc_id+position always draws the same fate, so a re-run of a failed
    shard masks identically).

    Selection: h('mlm|doc|pos') % 20 < 3 (exactly 15%); action:
    h('act|doc|pos') % 10 → 0-7 mask, 8 keep, 9 random. Hashes are the
    md5-prefix→bigint bijection shared with the DuckDB oracle.

    Scale shape: only POSITIONS explode (an int per token — token
    strings never leave the scan); ONE map-side-combined
    groupBy(doc_id). Docs with zero tokens have no plan rows.

    Output: (doc_id, n_tokens, n_masked, n_mask, n_keep, n_random).
    """
    n = F.size(ws_tokens(F.col(text_col)))
    base = docs.select(F.col("doc_id").cast("long").alias("doc_id"), n.alias("n"))
    pos = base.where(F.col("n") >= 1).select(
        "doc_id",
        "n",
        F.explode(F.sequence(F.lit(1), F.col("n"))).alias("j"),
    )

    def _h(prefix: str):
        key = F.concat(
            F.lit(prefix),
            F.col("doc_id").cast("string"),
            F.lit("|"),
            F.col("j").cast("string"),
        )
        return F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long")

    sel = (_h("mlm|") % 20 < 3).cast("long")
    act = _h("act|") % 10
    flagged = pos.select(
        "doc_id",
        "n",
        sel.alias("sel"),
        (sel * (act < 8).cast("long")).alias("is_mask"),
        (sel * (act == 8).cast("long")).alias("is_keep"),
        (sel * (act == 9).cast("long")).alias("is_random"),
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.max("n").cast("long").alias("n_tokens"),
            F.sum("sel").cast("long").alias("n_masked"),
            F.sum("is_mask").cast("long").alias("n_mask"),
            F.sum("is_keep").cast("long").alias("n_keep"),
            F.sum("is_random").cast("long").alias("n_random"),
        )
        .orderBy("doc_id")
    )


def symspell_variants(
    vocab: DataFrame,
    token_col: str = "token",
    count_col: str = "n",
) -> DataFrame:
    """Edit-distance-1 vocabulary pairs via the SymSpell
    deletion-neighborhood join — spelling-variant / typo-pair mining
    over a corpus vocabulary WITHOUT the all-pairs Levenshtein matrix:
    two tokens are distance ≤ 1 only if they share a 0-or-1-deletion
    variant, so candidates come from ONE equi-join on the variant
    string; `levenshtein()` runs only on the surviving candidates.

    Scale shape: the variant table is |vocab|·(avg_len+1) rows of
    short strings; the self-equi-join keys on the variant (never a
    cross join), candidates dedup by pair, and the exact-distance
    verify is a per-row JVM expression. Vocab-sized tables are pinned
    shuffle_hash — nothing corpus-derived broadcasts.

    Output: (tok_a, tok_b, n_a, n_b) for all distance-1 pairs,
    tok_a < tok_b, ordered.
    """
    v = vocab.select(
        F.col(token_col).alias("tok"), F.col(count_col).alias("n")
    )
    j = F.explode(F.sequence(F.lit(0), F.length("tok"))).alias("j")
    variants = v.select("tok", "n", j).select(
        "tok",
        "n",
        F.when(F.col("j") == 0, F.col("tok"))
        .otherwise(
            F.concat(
                F.substring(F.col("tok"), 1, F.col("j") - F.lit(1)),
                F.col("tok").substr(
                    F.col("j") + F.lit(1), F.length("tok")
                ),
            )
        )
        .alias("key"),
    )
    left = variants.select(
        F.col("tok").alias("tok_a"), F.col("n").alias("n_a"), "key"
    )
    right = variants.select(
        F.col("tok").alias("tok_b"), F.col("n").alias("n_b"), "key"
    )
    cands = (
        left.hint("shuffle_hash")
        .join(right.hint("shuffle_hash"), "key")
        .where(F.col("tok_a") < F.col("tok_b"))
        .select("tok_a", "tok_b", "n_a", "n_b")
        .distinct()
    )
    return cands.where(
        F.levenshtein("tok_a", "tok_b") == 1
    ).orderBy("tok_a", "tok_b")


def hapax_share(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    *,
    shingle_k: int = 3,
) -> DataFrame:
    """Hapax-legomena share per group: within each source, the fraction
    of shingle TYPES seen exactly once — the per-slice vocabulary-tail
    gauge (a source whose hapax share collapses is template-heavy or
    deduplicated; one whose share stays near 1 is still novel), the
    grouped companion to the corpus-wide Good–Turing table.

    Scale shape: ONE explode + map-side-combined
    groupBy(group, shingle), then counts-of-counts per group — the
    second aggregate runs on the type table keyed by the SAME group
    column, so it reuses the partitioning; output is one row per group.

    Output: (group, n_types, n_hapax, hapax_micro) ordered by group.
    """
    from .dedup import shingles

    sh = docs.select(
        F.col(group_col).alias("g"),
        F.explode(
            shingles(F.col(text_col), shingle_k, distinct=False)
        ).alias("s"),
    )
    types = sh.groupBy("g", "s").agg(F.count("*").alias("r"))
    per = types.groupBy("g").agg(
        F.count("*").cast("long").alias("n_types"),
        F.sum((F.col("r") == 1).cast("long")).cast("long").alias("n_hapax"),
    )
    return per.select(
        F.col("g").alias(group_col),
        "n_types",
        "n_hapax",
        F.expr("(n_hapax * 1000000) div n_types")
        .cast("long")
        .alias("hapax_micro"),
    ).orderBy(group_col)


def burrows_delta(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    *,
    k: int = 10,
) -> DataFrame:
    """Burrows' Delta stylometric distance between sources: z-score
    each source's relative frequency of the corpus top-k terms, then
    average |Δz| per source pair — the classic authorship/register
    distance, here the "which crawl slices write alike" gauge that
    flags template farms and mirrors the lexical way.

    Determinism: relative frequencies are TRUNCATED integers
    f = (c·1e9) div n_s (exact in both engines); per-term moments are
    exact bigint/decimal sums; each z divides as one pinned double;
    |Δz| terms are 6-dp-rounded decimals so the per-pair sum is
    order-independent.

    Scale shape: the corpus is touched by ONE explode + map-side-
    combined groupBy(source, token); everything after runs on the
    bounded grid (S sources × k terms, S² pairs). The grid side of the
    left join is the SMALL side; the source×token count table is
    pinned shuffle_hash and never broadcasts.

    Output: (src_a, src_b, delta_micro), src_a < src_b, ordered.
    """
    toks = docs.select(
        F.col(group_col).alias("g"),
        F.explode(ws_tokens(F.lower(F.col(text_col)))).alias("token"),
    )
    cst = toks.groupBy("g", "token").agg(
        F.count("*").cast("long").alias("c")
    )
    ns = cst.groupBy("g").agg(F.sum("c").cast("long").alias("n_g"))
    topk = (
        cst.groupBy("token")
        .agg(F.sum("c").cast("long").alias("ct"))
        .orderBy(F.desc("ct"), F.asc("token"))
        .limit(k)
        .select("token")
    )
    grid = ns.crossJoin(F.broadcast(topk))
    f = grid.join(cst.hint("shuffle_hash"), ["g", "token"], "left").select(
        "g",
        "token",
        F.expr("(coalesce(c, 0L) * 1000000000L) div n_g").alias("f"),
    )
    mom = f.groupBy("token").agg(
        F.count("*").cast("long").alias("s"),
        F.sum("f").cast("long").alias("sf"),
        F.sum(F.col("f").cast("decimal(38,0)") * F.col("f")).alias("sff"),
    )
    z = f.join(F.broadcast(mom), "token").select(
        "g",
        "token",
        F.when(
            F.col("s") * F.col("sff").cast("double")
            - F.col("sf").cast("double") * F.col("sf").cast("double")
            > 0,
            (
                F.col("s").cast("double") * F.col("f").cast("double")
                - F.col("sf").cast("double")
            )
            / F.sqrt(
                F.col("s").cast("double") * F.col("sff").cast("double")
                - F.col("sf").cast("double") * F.col("sf").cast("double")
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("z"),
    )
    za = z.select(
        F.col("token").alias("token"),
        F.col("g").alias("src_a"),
        F.col("z").alias("z_a"),
    )
    zb = z.select(
        F.col("token").alias("token"),
        F.col("g").alias("src_b"),
        F.col("z").alias("z_b"),
    )
    pairs = za.join(zb, "token").where(F.col("src_a") < F.col("src_b"))
    per = pairs.groupBy("src_a", "src_b").agg(
        F.sum(
            F.round(F.abs(F.col("z_a") - F.col("z_b")), 6).cast(
                "decimal(18,6)"
            )
        ).alias("sd"),
        F.count("*").cast("long").alias("kk"),
    )
    return per.select(
        "src_a",
        "src_b",
        F.floor(
            F.col("sd").cast("double") / F.col("kk").cast("double") * 1000000
        )
        .cast("long")
        .alias("delta_micro"),
    ).orderBy("src_a", "src_b")


def chao1_richness(
    docs: DataFrame, text_col: str = "text", *, shingle_k: int = 3
) -> DataFrame:
    """Chao1 unseen-species richness estimate over the shingle
    vocabulary: S_chao1 = S_obs + N1·(N1−1)/(2·(N2+1)) (the
    bias-corrected form, defined even when no doubletons exist) —
    "how many shingle types does the WHOLE web have, given what this
    crawl saw", the coverage planner's companion to Good–Turing's
    unseen-mass share.

    The correction divides as ONE pinned double (N1² at web scale
    exceeds bigint; the observed count stays an exact bigint term).

    Scale shape: same as ``good_turing`` — one explode + two map-side-
    combined aggregates; N1/N2/S_obs are three conditional sums over
    the bounded counts-of-counts table.

    Output: one row (s_obs, n1, n2, chao1_micro).
    """
    from .dedup import shingles

    toks = docs.select(
        F.explode(shingles(F.col(text_col), shingle_k, distinct=False)).alias(
            "t"
        )
    )
    types = toks.groupBy("t").agg(F.count("*").alias("r"))
    dist = types.groupBy("r").agg(F.count("*").cast("long").alias("n_r"))
    agg = dist.agg(
        F.sum("n_r").cast("long").alias("s_obs"),
        F.sum(F.when(F.col("r") == 1, F.col("n_r")).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("r") == 2, F.col("n_r")).otherwise(0))
        .cast("long")
        .alias("n2"),
    )
    corr = F.floor(
        F.col("n1").cast("double")
        * (F.col("n1").cast("double") - 1.0)
        / (2.0 * (F.col("n2").cast("double") + 1.0))
        * 1000000
    ).cast("long")
    return agg.select(
        "s_obs",
        "n1",
        "n2",
        (F.col("s_obs") * 1000000 + corr).cast("long").alias("chao1_micro"),
    )


def query_likelihood(
    docs: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    *,
    mu: float = 2000.0,
) -> DataFrame:
    """Dirichlet-smoothed query-likelihood retrieval scoring — the
    language-modeling alternative to ``bm25_scores``: score(d) =
    Σ_{t∈Q} ln((tf + μ·p_t) / (dl + μ)) with p_t the collection
    unigram probability. Decomposed so zero-tf terms never explode:

        score = Σ_matched ln((tf + μp_t)/(μp_t))        (sparse part)
              + Σ_Q ln(μ·p_t)                           (constant K)
              − |Q|·ln(dl + μ)                          (per-doc)

    Determinism contract (the bm25 discipline): every ln is
    round(·, 12) before it enters a sum; the sparse part sums as
    decimal(28,12) (order-independent); K is a decimal sum over the
    bounded term table; the final floor(·×1e6) subtracts decimals
    exactly.

    Scale shape: tokens filter to the BOUNDED query vocabulary at scan
    speed before the explode; (doc, term) tf and per-doc dl are
    map-side-combined; term stats join back by broadcast (|Q| rows);
    the dl join is doc-keyed shuffle_hash. One corpus-sized exchange.

    Output: (doc_id, n_terms_matched, dl, score_micro) for documents
    matching ≥ 1 query term, ordered by doc_id.
    """
    terms = F.array(*[F.lit(t) for t in query_terms])
    q_n = len(query_terms)
    toks = ws_tokens(F.lower(F.col(text_col)))
    base = docs.select(
        F.col("doc_id"),
        F.size(toks).cast("long").alias("dl"),
        F.filter(toks, lambda t: F.array_contains(terms, t)).alias("hits"),
    )
    tf = (
        base.select("doc_id", F.explode("hits").alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    cf = (
        tf.groupBy("t")
        .agg(F.sum("tf").cast("long").alias("cf"))
    )
    coll = base.agg(F.sum("dl").cast("long").alias("c_total"))
    stats = cf.crossJoin(F.broadcast(coll)).select(
        "t",
        (
            F.lit(mu)
            * (F.col("cf").cast("double") / F.col("c_total").cast("double"))
        ).alias("mup"),
    )
    k_const = stats.agg(
        F.sum(
            F.round(F.log(F.col("mup")), 12).cast("decimal(28,12)")
        ).alias("k")
    )
    sparse = (
        tf.join(F.broadcast(stats), "t")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_terms_matched"),
            F.sum(
                F.round(
                    F.log(
                        (F.col("tf").cast("double") + F.col("mup"))
                        / F.col("mup")
                    ),
                    12,
                ).cast("decimal(28,12)")
            ).alias("sm"),
        )
    )
    dl = base.select("doc_id", "dl")
    out = (
        sparse.join(dl.hint("shuffle_hash"), "doc_id")
        .crossJoin(F.broadcast(k_const))
    )
    per_doc = F.round(
        F.log(F.col("dl").cast("double") + F.lit(mu)), 12
    ).cast("decimal(28,12)")
    score = (
        F.col("sm") + F.col("k") - F.lit(q_n) * per_doc
    )
    return out.select(
        "doc_id",
        "n_terms_matched",
        "dl",
        F.floor(score.cast("double") * 1000000)
        .cast("long")
        .alias("score_micro"),
    ).orderBy("doc_id")


def rocchio_expansion(
    docs: DataFrame,
    query_terms: list[str],
    *,
    min_hits: int = 2,
    top_n: int = 15,
    text_col: str = "text",
) -> DataFrame:
    """Rocchio pseudo-relevance feedback (SMART retrieval): treat the
    documents matching >= ``min_hits`` distinct query terms as the
    pseudo-relevant set R, then rank candidate expansion terms by their
    total term frequency inside R (query terms and stopwords excluded) —
    the positive-centroid half of the classic Rocchio update, kept
    all-integer so the ranking is engine-portable with no float ties.

    Scale shape: one explode -> the R membership test is a map-side-
    combined count-distinct over ONLY the rows matching the bounded query
    vocabulary (the corpus never joins against itself), then one
    shuffle_hash semi-join of the token stream against R keyed on doc_id
    (R is corpus-sized at web scale — never broadcast), one term-keyed
    count, and a TakeOrdered top-``top_n`` (total order: score desc, term
    asc). The final rank window runs on the ``top_n``-row result only.

    Output: (token, score, rank) — the expansion vocabulary a query
    rewriter appends, strongest first.
    """
    from pyspark.sql import Window

    toks = docs.select(
        F.col("doc_id"),
        F.explode(ws_tokens(F.lower(F.col(text_col)))).alias("token"),
    )
    rel = (
        toks.where(F.col("token").isin(*query_terms))
        .groupBy("doc_id")
        .agg(F.count_distinct("token").alias("_rc_hits"))
        .where(F.col("_rc_hits") >= min_hits)
        .select("doc_id")
    )
    scores = (
        toks.join(rel.hint("shuffle_hash"), "doc_id")
        .where(~F.col("token").isin(*query_terms))
        .where(~F.col("token").isin(*STOPWORDS))
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("score"))
    )
    top = scores.orderBy(F.col("score").desc(), "token").limit(top_n)
    w = Window.orderBy(F.col("score").desc(), "token")
    return top.select(
        "token", "score", F.row_number().over(w).cast("long").alias("rank")
    )


def coverage_curve(
    docs: DataFrame,
    *,
    n_buckets: int = 10,
    text_col: str = "text",
    order_col: str = "n_chars",
) -> DataFrame:
    """Vocabulary coverage curve of a corpus SUBSET policy: order the
    corpus by an integer column (doc length here — ascending), cut it
    into ``n_buckets`` exact quantile buckets, and report how many NEW
    vocabulary terms each bucket contributes — the curve a curation team
    reads to decide how much of the corpus a budget-capped training run
    must keep to reach a vocabulary target.

    Scale shape (no corpus-wide sort anywhere): bucket thresholds come
    from the bounded VALUE DISTRIBUTION (groupBy(order_col) counts —
    ``grouped_quantiles``' trick; the only window runs over distinct
    values, not rows), with the all-integer rank ceil(d*n/B) =
    (d*n + B-1) div B. A term's first bucket is monotone in its MINIMUM
    order value, so one term-keyed min-aggregate replaces any doc-rank
    join; buckets attach to the term table via a broadcast of the
    ``n_buckets``-row threshold table. The final cumulative window runs
    over <= ``n_buckets`` rows.

    Output: (bucket, n_new_terms, cum_terms, cum_share_ppm), bucket
    ascending in ``order_col``.
    """
    from pyspark.sql import Window

    n_rows = F.sum("cnt").over(Window.partitionBy())
    dist = (
        docs.groupBy(F.col(order_col).alias("val"))
        .agg(F.count("*").alias("cnt"))
        .select(
            "val",
            F.sum("cnt").over(Window.orderBy("val")).alias("c"),
            n_rows.alias("n"),
        )
    )
    buckets = docs.sparkSession.range(1, n_buckets + 1).select(
        F.col("id").cast("long").alias("bucket")
    )
    th = (
        dist.crossJoin(F.broadcast(buckets))
        .where(
            F.col("c")
            >= F.expr(f"(bucket * n + {n_buckets - 1}) div {n_buckets}")
        )
        .groupBy("bucket")
        .agg(F.min("val").alias("t"))
    )
    terms = (
        docs.select(
            F.col(order_col).alias("_cc_val"),
            F.explode(ws_tokens(F.lower(F.col(text_col)))).alias("token"),
        )
        .groupBy("token")
        .agg(F.min("_cc_val").alias("mn"))
    )
    term_bucket = (
        terms.join(F.broadcast(th), F.col("mn") <= F.col("t"))
        .groupBy("token")
        .agg(F.min("bucket").alias("bucket"))
    )
    per = term_bucket.groupBy("bucket").agg(
        F.count("*").cast("long").alias("n_new_terms")
    )
    w = Window.orderBy("bucket")
    total = F.sum("n_new_terms").over(Window.partitionBy())
    return per.select(
        "bucket",
        "n_new_terms",
        F.sum("n_new_terms").over(w).cast("long").alias("cum_terms"),
        F.floor(F.sum("n_new_terms").over(w) * 1000000 / total)
        .cast("long")
        .alias("cum_share_ppm"),
    )


def index_pruning(
    docs: DataFrame,
    *,
    keep_k: int = 3,
    min_df: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """Static index pruning census (the Carmel et al. SIGIR'01 shape):
    keep only each document's ``keep_k`` strongest terms (by tf, ties by
    token) and report, per term, how much of its postings list survives —
    the size/recall trade a 10^12-page index prunes BEFORE serving, since
    a posting that is never in its document's top terms rarely wins a
    top-k query anyway.

    Scale shape: tf is one map-side-combined (doc, term) count; the ONLY
    window partitions BY DOCUMENT and is therefore bounded by per-doc
    vocabulary (doc length), never corpus-sized — the one window shape
    this repo allows. The final per-term rollup is a second bounded-key
    groupBy. ``min_df`` keeps the output to terms where pruning is a
    meaningful decision.

    Output: (token, df_full, df_pruned, kept_ppm).
    """
    from pyspark.sql import Window

    tf = (
        docs.select(
            F.col("doc_id"),
            F.explode(ws_tokens(F.lower(F.col(text_col)))).alias("token"),
        )
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("_ip_tf"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("_ip_tf").desc(), F.col("token")
    )
    flagged = tf.select(
        "token",
        F.when(F.row_number().over(w) <= keep_k, 1).otherwise(0).alias(
            "_ip_keep"
        ),
    )
    return (
        flagged.groupBy("token")
        .agg(
            F.count("*").cast("long").alias("df_full"),
            F.sum("_ip_keep").cast("long").alias("df_pruned"),
        )
        .where(F.col("df_full") >= min_df)
        .select(
            "token",
            "df_full",
            "df_pruned",
            F.floor(F.col("df_pruned") * 1000000 / F.col("df_full"))
            .cast("long")
            .alias("kept_ppm"),
        )
    )


def greedy_cover(
    docs: DataFrame,
    *,
    rounds: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """Coverage-greedy subset selection (the classic (1-1/e) greedy for
    submodular set cover): pick, round by round, the document adding the
    most not-yet-covered vocabulary terms — how an eval set or a
    seed-curation batch is chosen to span a corpus with few documents.
    Ties break on doc_id, so the selection is engine-portable.

    Scale shape: like ``bpe_train_merges``, the DRIVER holds only one
    scalar pick per round (``rounds`` is a small documented constant —
    the loop is rounds x 2 jobs, never data-dependent): per round, one
    map-side-combined gain count + a TakeOrdered(1), then the picked
    document's token set — bounded by ONE doc's vocabulary — broadcasts
    into an anti-join that shrinks the uncovered stream. The uncovered
    frame is localCheckpoint'ed per round so lineage stays flat.

    Output: (round, doc_id, new_terms, cum_terms) — one row per pick;
    stops early if the vocabulary is exhausted.

    Bounds (guarded): rounds <= 256 — each round is ~2 driver-scheduled
    jobs, so a large-rounds misuse would schedule thousands of jobs;
    it fails fast instead (the bpe_train_merges discipline).
    """
    if rounds > 256:
        raise ValueError(
            "greedy_cover is bounded to rounds <= 256 (each round is a "
            "driver-scheduled job pair over the uncovered stream)"
        )
    toks = (
        docs.select(
            F.col("doc_id"),
            F.explode(ws_tokens(F.lower(F.col(text_col)))).alias("token"),
        )
        .distinct()
        .localCheckpoint()
    )
    spark = docs.sparkSession
    uncovered = toks
    out: list[tuple[int, int, int, int]] = []
    cum = 0
    for r in range(1, rounds + 1):
        pick = (
            uncovered.groupBy("doc_id")
            .agg(F.count("*").alias("gain"))
            .orderBy(F.col("gain").desc(), "doc_id")
            .limit(1)
            .collect()
        )
        if not pick:
            break
        doc_id, gain = pick[0]["doc_id"], int(pick[0]["gain"])
        cum += gain
        out.append((r, int(doc_id), gain, cum))
        picked = uncovered.where(F.col("doc_id") == doc_id).select("token")
        uncovered = uncovered.join(
            F.broadcast(picked), "token", "left_anti"
        ).localCheckpoint()
    return spark.createDataFrame(
        out, "round long, doc_id long, new_terms long, cum_terms long"
    )


def dehyphenate(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Line-break hyphenation repair — the classic print/PDF extraction
    cleanup (reference parity anchor: the text-postprocessing stage,
    app/services/text_extraction_service.py, normalizes whitespace but
    leaves hyphen-broken words to downstream — this kernel closes that
    gap for justified-text sources): ``exam-\\nple`` rejoins to
    ``example`` when both fragments are lowercase letters, the
    conservative rule that never corrupts a real compound followed by a
    newline (``well-\\nKnown`` keeps its hyphen).

    Scale shape: one regexp_replace projection in whole-stage codegen —
    no shuffle, no UDF. ``n_joins`` counts repairs via the 2-char length
    delta (each repair drops exactly '-\\n').

    Output: (doc_id, text_fixed, n_joins).
    """
    c = F.col(text_col)
    fixed = F.regexp_replace(c, "([a-z])-\n([a-z])", "$1$2")
    return docs.select(
        "doc_id",
        fixed.alias("text_fixed"),
        ((F.length(c) - F.length(fixed)) / 2).cast("long").alias("n_joins"),
    )


# ---------------------------------------------------------------------------
# Sentence segmentation (round 4, session 18)
# ---------------------------------------------------------------------------

DEFAULT_ABBREVIATIONS: tuple[str, ...] = (
    "Dr", "Mr", "Mrs", "Ms", "Prof", "St", "No", "Fig", "vs", "etc",
    "Jr", "Sr",
)

_SENT_FRAG_RE = r"[^.!?]*[.!?]+|[^.!?]+$"


def split_sentences(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    abbreviations: tuple[str, ...] = DEFAULT_ABBREVIATIONS,
) -> DataFrame:
    """Sentence segmentation -> (doc_id, sent_idx, sentence, n_chars):
    the unit the bitext miner, sentence-level deduper and sequence
    packer all want below the document grain. Two-phase: (1) ONE
    regexp_extract_all splits the text into terminal-punctuation
    fragments (a trailing unpunctuated fragment survives as the last
    sentence), (2) fragments ending in a single period whose last token
    is a known abbreviation ("Dr.", "No.", initials-free guard list —
    multi-dot abbreviations like "e.g." are out of scope, documented)
    are merged forward by an exclusive running count of sentence-ending
    fragments, then reassembled in order. Sentences are whitespace-
    collapsed; whitespace-only groups are dropped.

    Scale shape: the window and the reassembly group are BOTH keyed by
    doc (bounded by one document's fragment count — never corpus-wide),
    and the groupBy reuses the window's doc_id exchange (subset-key
    clustering), so the whole operator is ONE exchange + per-doc sorts.
    The fragment regex is RE2-compatible by construction so the DuckDB
    oracle runs the literal same split on the same text.
    """
    abbr_re = rf"(^|[\s.])({'|'.join(abbreviations)})\.$"
    frags = F.regexp_extract_all(F.col(text_col), F.lit(_SENT_FRAG_RE), 0)
    ex = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(frags).alias("pos", "frag"),
    )
    is_end = (
        F.col("frag").rlike(r"[.!?]$") & ~F.col("frag").rlike(abbr_re)
    ).cast("int")
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    parts = ex.select(
        "doc_id",
        "pos",
        "frag",
        F.coalesce(F.sum(is_end).over(w), F.lit(0)).alias("sent_idx"),
    )
    raw = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "frag"))),
            lambda s: s["frag"],
        ),
        "",
    )
    assembled = parts.groupBy("doc_id", "sent_idx").agg(raw.alias("raw"))
    sentence = F.trim(F.regexp_replace("raw", r"\s+", " "))
    return assembled.select(
        "doc_id",
        F.col("sent_idx").cast("long").alias("sent_idx"),
        sentence.alias("sentence"),
        F.length(sentence).cast("long").alias("n_chars"),
    ).where(sentence != "")


# ---------------------------------------------------------------------------
# WordPiece-style greedy longest-match tokenizer (round 4, session 18)
# ---------------------------------------------------------------------------


def wordpiece_segment(
    docs: DataFrame,
    text_col: str = "text",
    *,
    max_piece_len: int = 4,
    top_multi: int = 40,
) -> DataFrame:
    """WordPiece-style tokenizer: seed a piece vocabulary from weighted
    substring counts, then segment by GREEDY LONGEST-MATCH — the
    BERT-tokenizer inference rule, the family the BPE battery
    (merge-rule training, ``bpe_train_merges``) doesn't cover. Output:
    one row per distinct word (word, n, segmentation, n_pieces) with
    ``segmentation`` the space-joined pieces.

    Seeding: every substring of length <= ``max_piece_len`` of every
    distinct word, counted with multiplicity x word frequency; the
    vocabulary is all single characters (so segmentation can never
    dead-end — no UNK) plus the ``top_multi`` multi-char pieces by
    (count DESC, piece ASC) — a deterministic integer ranking, no float
    likelihoods (the cross-engine float trap).

    The 100 TB shape is bpe_train_merges' exactly: ONE corpus-sized pass
    builds the word-frequency vocab (map-side combined, bounded by
    distinct words); candidate counting, ranking, and the greedy scan
    all run on that bounded table. The seed vocabulary (<= alphabet +
    top_multi pieces) is collected and broadcast into one Arrow-batched
    mapInPandas over the distinct-word table — the sequential
    longest-match scan is inexpressible in codegen, and the table it
    runs over is vocabulary-sized, never corpus-sized. Applying the
    trained pieces to the full corpus is the same kernel mapped over
    corpus rows (fertility-style), deliberately not fused here.
    """
    toks = ws_tokens(F.lower(F.col(text_col)))
    words = (
        docs.select(F.explode(toks).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    cand = (
        words.select("word", "n", F.explode(
            F.sequence(F.lit(1), F.length("word"))).alias("s"))
        .select("word", "n", "s", F.explode(
            F.sequence(F.lit(1), F.lit(max_piece_len))).alias("l"))
        .where(F.col("s") + F.col("l") <= F.length("word") + 1)
        .select(F.expr("substring(word, s, l)").alias("piece"), "n")
    )
    counts = cand.groupBy("piece").agg(F.sum("n").alias("cnt"))
    multi = (
        counts.where(F.length("piece") >= 2)
        .orderBy(F.col("cnt").desc(), "piece")
        .limit(top_multi)
        .select("piece")
    )
    singles = counts.where(F.length("piece") == 1).select("piece")
    vocab = {
        r["piece"] for r in multi.unionByName(singles).distinct().collect()
    }
    if not vocab:
        return docs.sparkSession.createDataFrame(
            [], "word string, n long, segmentation string, n_pieces long"
        )
    max_len = max(len(p) for p in vocab)
    bvocab = docs.sparkSession.sparkContext.broadcast(vocab)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        vs = bvocab.value
        for pdf in batches:
            segs: list[str] = []
            nps: list[int] = []
            for word in pdf["word"]:
                pos, pieces = 0, []
                while pos < len(word):
                    for ln in range(min(max_len, len(word) - pos), 0, -1):
                        p = word[pos : pos + ln]
                        if p in vs:
                            pieces.append(p)
                            pos += ln
                            break
                segs.append(" ".join(pieces))
                nps.append(len(pieces))
            yield pd.DataFrame(
                {
                    "word": pdf["word"],
                    "n": pdf["n"],
                    "segmentation": segs,
                    "n_pieces": nps,
                }
            )

    return ensure_parallelism(words).mapInPandas(
        kernel, "word string, n long, segmentation string, n_pieces long"
    )



def unigram_scored_vocab(
    docs: DataFrame,
    text_col: str = "text",
    *,
    max_piece_len: int = 4,
    top_multi: int = 40,
) -> tuple[DataFrame, DataFrame]:
    """(distinct-word table, scored piece vocabulary) for the unigram
    tokenizer — split out so tests can score alternative segmentations
    under the exact same integer micro-nat scores the Viterbi kernel
    sees. Seeding is byte-identical to ``wordpiece_segment``; scores are
    s(cnt) − s(total) with s(x) = floor(round(ln(x), 6)·10^6) computed
    on the bounded vocab table only."""
    toks = ws_tokens(F.lower(F.col(text_col)))
    words = (
        docs.select(F.explode(toks).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    cand = (
        words.select("word", "n", F.explode(
            F.sequence(F.lit(1), F.length("word"))).alias("s"))
        .select("word", "n", "s", F.explode(
            F.sequence(F.lit(1), F.lit(max_piece_len))).alias("l"))
        .where(F.col("s") + F.col("l") <= F.length("word") + 1)
        .select(F.expr("substring(word, s, l)").alias("piece"), "n")
    )
    counts = cand.groupBy("piece").agg(F.sum("n").alias("cnt"))
    multi = (
        counts.where(F.length("piece") >= 2)
        .orderBy(F.col("cnt").desc(), "piece")
        .limit(top_multi)
    )
    singles = counts.where(F.length("piece") == 1)
    vocab_df = multi.unionByName(singles).distinct()
    total = vocab_df.agg(F.sum("cnt").alias("t"))
    s_of = lambda c: F.floor(  # noqa: E731
        F.round(F.log(c.cast("double")), 6) * 1000000
    ).cast("long")
    scored = vocab_df.crossJoin(F.broadcast(total)).select(
        "piece", (s_of(F.col("cnt")) - s_of(F.col("t"))).alias("score")
    )
    return words, scored


def unigram_segment(
    docs: DataFrame,
    text_col: str = "text",
    *,
    max_piece_len: int = 4,
    top_multi: int = 40,
) -> DataFrame:
    """SentencePiece-style UNIGRAM-LM tokenizer inference: Viterbi
    best-likelihood segmentation of every distinct word under a piece
    vocabulary with unigram scores — the third member of the tokenizer
    triad (``bpe_train_merges`` trains merge RULES, ``wordpiece_segment``
    applies greedy LONGEST-MATCH; unigram picks the globally best
    segmentation by score, Kudo ACL'18). Output: one row per distinct
    word (word, n, n_pieces, best_micro) with ``best_micro`` the Viterbi
    log-likelihood in micro-nats.

    Seeding matches ``wordpiece_segment`` exactly (substrings len <=
    ``max_piece_len`` weighted by word frequency; top ``top_multi``
    multi-char by (count DESC, piece ASC) + all single chars, so no
    UNK); piece score = s(cnt) − s(total) where s(x) =
    floor(round(ln(x), 6)·10^6) is computed ONCE per vocab entry on the
    bounded vocab table (the theil/char_entropy ln-rounding discipline —
    floor, never ::bigint, because DuckDB's cast rounds where Spark's
    truncates). Everything after is integer arithmetic.

    Tie-break, exact and engine-free: the DP maximizes the single
    integer v = Σ(64·score − 1) = 64·Σscore − n_pieces. Distinct score
    sums differ by >= 1 micro-nat, so the 64x spread strictly dominates
    the <= 63 piece-count term: max v == lexicographic (Σscore DESC,
    n_pieces ASC), and n_pieces = (−v) % 64, Σscore = (v + n_pieces)/64
    recover exactly. No float leaves the vocab table; equal-score
    alternate segmentations cannot make the output nondeterministic
    because only (v, n_pieces) are emitted.

    Input bounds (guarded in the kernel): the dominance argument and
    the (−v) % 64 recovery require n_pieces <= 63, and n_pieces is
    bounded by word length, so a word of >= 64 chars (a URL, a base64
    run) is not segmented: it comes out as one piece, n_pieces = 1,
    flagged by a NULL ``best_micro``, and the query goes on. Separately, the SQL
    oracle unrolls the Viterbi DP to 12 pieces, so words whose best
    segmentation needs > 12 pieces are outside the oracle contract
    (single chars are always in vocab, so that means words > 12 chars
    with no multi-char coverage); the Spark kernel itself is exact for
    any word < 64 chars.

    Scale shape (bpe/wordpiece discipline): ONE corpus-sized pass builds
    the distinct-word table (map-side combined); candidates, ranking and
    scores run on that bounded table; the scored vocabulary (<= alphabet
    + top_multi rows) is collected and broadcast into one Arrow-batched
    mapInPandas whose Viterbi DP runs over the VOCABULARY-sized word
    table, never the corpus. Applying to corpus rows is the same kernel
    mapped per row (fertility-style).
    """
    words, scored = unigram_scored_vocab(
        docs, text_col, max_piece_len=max_piece_len, top_multi=top_multi
    )
    vocab = {r["piece"]: r["score"] for r in scored.collect()}
    if not vocab:
        return docs.sparkSession.createDataFrame(
            [], "word string, n long, n_pieces long, best_micro long"
        )
    max_len = max(len(p) for p in vocab)
    bvocab = docs.sparkSession.sparkContext.broadcast(vocab)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        vs = bvocab.value
        for pdf in batches:
            nps: list[int] = []
            bests: list[int | None] = []
            for word in pdf["word"]:
                ln = len(word)
                if ln >= 64:
                    # outside the mod-64 packing: one piece, flagged by a
                    # null score (a URL or base64 run, not a word)
                    nps.append(1)
                    bests.append(None)
                    continue
                best: list[int | None] = [None] * (ln + 1)
                best[0] = 0
                for j in range(1, ln + 1):
                    b = None
                    for pl in range(1, min(max_len, j) + 1):
                        prev = best[j - pl]
                        if prev is None:
                            continue
                        sc = vs.get(word[j - pl : j])
                        if sc is None:
                            continue
                        v = prev + 64 * sc - 1
                        if b is None or v > b:
                            b = v
                    best[j] = b
                v = best[ln]
                np_ = (-v) % 64
                nps.append(np_)
                bests.append((v + np_) // 64)
            yield pd.DataFrame(
                {
                    "word": pdf["word"],
                    "n": pdf["n"],
                    "n_pieces": nps,
                    "best_micro": pd.array(bests, dtype="Int64"),
                }
            )

    return ensure_parallelism(words).mapInPandas(
        kernel, "word string, n long, n_pieces long, best_micro long"
    )


def sentence_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    min_docs: int = 2,
) -> DataFrame:
    """Sentence-grain boilerplate dedup (the CCNet move one level below
    ``line_dedup``): segment every document with ``split_sentences``,
    census each distinct sentence's document reach, and drop sentences
    appearing in >= ``min_docs`` documents — subscription prompts,
    courtesy lines and cookie banners die here while unique prose
    survives. Output per document: (doc_id, n_sents, n_kept, kept_fp)
    with ``kept_fp`` the md5 of the surviving sentences joined in
    original order (the byte-checkable survivor fingerprint).

    Scale shape (line_dedup discipline): the census is ONE map-side-
    combined groupBy on the md5 sentence key (count_distinct doc expands
    to the bounded distinct (key, doc) pair set); the join back is
    pinned shuffle_hash — the census table is distinct-sentence-sized,
    corpus-scale, never broadcast. The sentence table feeds both join
    sides, so the split subtree evaluates twice (two corpus scans,
    deliberate — persisting a corpus-sized sentence table would trade a
    re-scan for executor storage; the tfidf_pairs trade, documented
    there too). Final per-doc reassembly reuses one groupBy(doc).
    """
    sents = split_sentences(df, id_col, text_col).withColumn(
        "_sd_key", F.md5(F.col("sentence"))
    )
    census = sents.groupBy("_sd_key").agg(
        F.count_distinct(F.col("doc_id")).cast("long").alias("_sd_docs")
    )
    joined = sents.join(census.hint("shuffle_hash"), "_sd_key")
    kept = F.col("_sd_docs") < min_docs
    per = joined.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_sents"),
        F.sum(kept.cast("long")).cast("long").alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                kept,
                                F.struct(
                                    F.col("sent_idx"), F.col("sentence")
                                ),
                            )
                        )
                    ),
                    lambda x: x["sentence"],
                ),
                "\n",
            )
        ).alias("kept_fp"),
    )
    return per


def brier_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Brier score per source of the stopword-share 'quality
    probability' against the content label contains(' the ') — the
    squared-error calibration gauge completing the eval set next to
    ``reliability_bins`` (binned calibration curve) and
    ``score_calibration`` (rank normalization): Brier = mean((p − y)²),
    proper and decomposable, the single number a filter's probability
    output is judged by.

    All-integer: p_ppm = floor(n_stop·10^6 / n_tokens) and y·10^6 are
    exact ints, so Σ(p_ppm − y_ppm)² is an exact decimal and
    brier_micro = floor(Σ/(n·10^6)) needs one pinned division. ONE
    corpus scan folding straight into a map-side-combined
    groupBy(source); the stopword membership runs against a 10-literal
    array (never a join).

    Output per source: n_docs, mean_p_ppm, pos_rate_ppm, brier_micro.
    """
    toks = ws_tokens(F.lower(F.col(text_col)))
    n_tokens = F.size(toks)
    stop_lits = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_lits, t)))
    p_ppm = F.when(
        n_tokens > 0, F.floor(n_stop.cast("long") * 1000000 / n_tokens)
    ).otherwise(F.lit(0)).cast("long")
    y_ppm = (
        F.when(F.col(text_col).contains(" the "), 1000000)
        .otherwise(0)
        .cast("long")
    )
    d = p_ppm - y_ppm
    per = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(p_ppm).cast("long").alias("_bs_p"),
        F.sum((y_ppm / 1000000).cast("long")).cast("long").alias("_bs_y"),
        F.sum((d * d).cast("decimal(38,0)")).alias("_bs_s"),
    )
    return per.select(
        "source",
        "n_docs",
        F.floor(F.col("_bs_p") / F.col("n_docs")).cast("long").alias("mean_p_ppm"),
        F.floor(F.col("_bs_y") * 1000000 / F.col("n_docs"))
        .cast("long")
        .alias("pos_rate_ppm"),
        F.floor(
            F.col("_bs_s").cast("double") / (F.col("n_docs").cast("double") * 1000000.0)
        ).cast("long").alias("brier_micro"),
    )


MEASUREMENT_UNITS: dict[str, tuple[str, int]] = {
    # unit -> (SI family label, integer multiplier to the family base)
    "km": ("m", 1000),
    "m": ("m", 1),
    "kg": ("g", 1000),
    "g": ("g", 1),
    "GB": ("B", 1073741824),
    "MB": ("B", 1048576),
    "KB": ("B", 1024),
}


def measurements_extract(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Quantity mining: extract '<integer> <unit>' measurement mentions
    and normalize them to integer base units (km→m, kg→g, GB/MB/KB→bytes)
    — the numeric-fact layer structured-data harvests want from raw prose
    (product specs, dataset cards, infrastructure pages). Exact by
    construction: units carry integer multipliers, values parse as
    bigints, nothing floats.

    Scale shape: ONE regexp_extract_all per row, the per-match fan-out is
    an in-row posexplode (no second scan), unit→multiplier is a CASE
    ladder (never a join — the unit table is 7 literals), and one
    map-side-combined groupBy(source, family) aggregates. Pushes nothing
    corpus-sized anywhere.

    Output per (source, unit_si): n_mentions, total_si, max_si.
    """
    pat = r"(\d+) (km|kg|GB|MB|KB|m|g)\b"
    matches = F.regexp_extract_all(F.col(text_col), F.lit(pat), 0)
    ex = docs.select(
        "source", F.explode(matches).alias("_me_m")
    ).select(
        "source",
        F.regexp_extract(F.col("_me_m"), pat, 1).cast("long").alias("_me_v"),
        F.regexp_extract(F.col("_me_m"), pat, 2).alias("_me_u"),
    )
    fam = F.lit(None).cast("string")
    mult = F.lit(None).cast("long")
    for u, (f_, m_) in MEASUREMENT_UNITS.items():
        fam = F.when(F.col("_me_u") == u, F.lit(f_)).otherwise(fam)
        mult = F.when(F.col("_me_u") == u, F.lit(m_)).otherwise(mult)
    si = (F.col("_me_v") * mult).cast("long")
    return (
        ex.select("source", fam.alias("unit_si"), si.alias("_me_si"))
        .groupBy("source", "unit_si")
        .agg(
            F.count("*").cast("long").alias("n_mentions"),
            F.sum("_me_si").cast("long").alias("total_si"),
            F.max("_me_si").cast("long").alias("max_si"),
        )
    )


def quote_mining(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Attributed-quote mining: '"…," said Speaker' patterns -> one row
    per (doc_id, quote, speaker) — dialogue/citation training pairs
    hiding in prose (the free-text sibling of ``faq_pairs``' markup
    shape). Quotes under 10 chars are noise and don't match; the
    attribution verb is anchored so an unattributed quotation yields
    nothing.

    Scale shape: ONE regexp_extract_all per row (group-0 fragments),
    in-row posexplode, per-fragment group extracts — all codegen, no
    UDF, no shuffle beyond the explode's narrow output.

    Output: (doc_id, quote_idx, quote, speaker).
    """
    pat = r'"([^"]{10,})," said ([A-Za-z0-9]+)'
    frags = F.regexp_extract_all(F.col(text_col), F.lit(pat), 0)
    ex = docs.select(
        F.col("doc_id"), F.posexplode(frags).alias("quote_idx", "_qm_f")
    )
    return ex.select(
        "doc_id",
        F.col("quote_idx").cast("long").alias("quote_idx"),
        F.regexp_extract(F.col("_qm_f"), pat, 1).alias("quote"),
        F.regexp_extract(F.col("_qm_f"), pat, 2).alias("speaker"),
    )


def sentence_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    budget_chars: int = 200,
) -> DataFrame:
    """Sentence-aligned chunking for retrieval corpora: documents split
    with ``split_sentences``, then cut into chunks at sentence
    boundaries by CHARACTER-BUDGET SPANS — sentence s starts a new chunk
    iff the running char count before it crosses a ``budget_chars``
    multiple (chunk_id = chars_before div budget). Unlike greedy
    first-fit (a sequential fold only an unrolled DP could oracle), the
    span rule is a pure cumulative sum — exactly SQL-expressible — while
    preserving the property RAG wants: no sentence is ever split, chunk
    sizes hover around the budget (a sentence longer than the budget
    gets its own over-budget chunk rather than being torn).

    Scale shape: split_sentences is ONE exchange + per-doc sorts; the
    running count is a window per doc (bounded by one document's
    sentence count), and the chunk reassembly groupBy reuses the same
    doc-keyed exchange. Nothing corpus-wide anywhere.

    Output: (doc_id, chunk_id, n_sents, n_chars, chunk_fp) with
    ``chunk_fp`` the md5 of the chunk's sentences joined in order.
    """
    sents = split_sentences(df, id_col, text_col)
    w = (
        Window.partitionBy("doc_id")
        .orderBy("sent_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunked = sents.withColumn(
        "chunk_id",
        (
            F.coalesce(F.sum("n_chars").over(w), F.lit(0)) / budget_chars
        ).cast("long"),
    )
    return chunked.groupBy("doc_id", "chunk_id").agg(
        F.count("*").cast("long").alias("n_sents"),
        F.sum("n_chars").cast("long").alias("n_chars"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(F.col("sent_idx"), F.col("sentence"))
                        )
                    ),
                    lambda x: x["sentence"],
                ),
                "\n",
            )
        ).alias("chunk_fp"),
    )
