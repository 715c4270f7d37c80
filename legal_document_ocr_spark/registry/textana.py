"""Registry segment: text analysis."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup, textops
from ..operators.textops import LANG_MARKERS, STOPWORDS, WORD_PATTERN

from .common import (
    _DOUBLED_SQL,
    _TOKS,
    _as_long,
    _docs,
    _doubled_docs,
)

# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _as_long(
        textops.token_counts(_docs(spark, sf_dir)), "ws_tokens", "bpe_tokens"
    )


_SQL_TOKEN_COUNTS = f"""
SELECT doc_id,
  CASE WHEN length(trim(text)) > 0
       THEN len(regexp_split_to_array(trim(text), '\\s+')) ELSE 0 END
    AS ws_tokens,
  len(regexp_extract_all(text, '{WORD_PATTERN}')) AS bpe_tokens,
  length(text) AS n_chars
FROM documents
"""


def _in_list(sql_items: tuple[str, ...]) -> str:
    return ", ".join(f"'{w}'" for w in sql_items)


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = textops.lang_id(_docs(spark, sf_dir))
    return _as_long(df, *[f"score_{lang}" for lang in sorted(LANG_MARKERS)])


def _sql_lang_id() -> str:
    langs = sorted(LANG_MARKERS)
    scores = ",\n  ".join(
        f"len(list_filter(toks, t -> t IN ({_in_list(LANG_MARKERS[lang])})))"
        f" AS score_{lang}"
        for lang in langs
    )
    # left-to-right strict-> fold, mirroring textops.lang_id exactly
    pred = "'und'"
    best = "0"
    for lang in langs:
        pred = f"CASE WHEN score_{lang} > {best} THEN '{lang}' ELSE {pred} END"
        best = f"CASE WHEN score_{lang} > {best} THEN score_{lang} ELSE {best} END"
    return f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
s AS (SELECT doc_id, {scores} FROM t)
SELECT doc_id, {', '.join(f'score_{lang}' for lang in langs)},
  {pred} AS pred_lang
FROM s
"""


def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _as_long(textops.quality_scores(_docs(spark, sf_dir)), "n_tokens")


_SQL_QUALITY_SCORES = f"""
WITH t AS (
  SELECT doc_id, text, {_TOKS} AS toks,
    len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct
  FROM documents
), s AS (
  SELECT doc_id, text, toks, n_punct,
    len(list_filter(toks, t -> t IN ({_in_list(STOPWORDS)}))) AS n_stop
  FROM t
)
SELECT doc_id,
  length(text)::bigint AS n_chars,
  len(toks) AS n_tokens,
  round(CASE WHEN length(text) > 0
             THEN n_punct / length(text)::double ELSE 0.0::double END, 6)
    AS punct_ratio,
  round(CASE WHEN len(toks) > 0
             THEN n_stop / len(toks)::double ELSE 0.0::double END, 6)
    AS stop_ratio,
  round(CASE WHEN len(toks) > 0
             THEN list_reduce(list_transform(toks, t -> length(t)::double),
                              (a, b) -> a + b) / len(toks)::double
             ELSE 0.0::double END, 6) AS mean_tok_len,
  round(least(length(text)::double / 500.0::double, 1.0::double)
          * 0.4::double
        + (CASE WHEN len(toks) > 0
                THEN n_stop / len(toks)::double ELSE 0.0::double END)
          * 0.4::double
        + (1.0::double - CASE WHEN length(text) > 0
                              THEN n_punct / length(text)::double
                              ELSE 0.0::double END)
          * 0.2::double, 6) AS quality_score
FROM s
"""


def q_corpus_length_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus profile: count + mean/median/p90 of document
    length — the summary a training-data pipeline computes before filtering.
    Exact percentiles (Spark `percentile` == DuckDB `quantile_cont`, both
    linear interpolation); mean from the exact integer sum."""
    docs = _docs(spark, sf_dir)
    return (
        docs.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(
                F.sum("n_chars").cast("double") / F.count("*"), 6
            ).alias("mean_chars"),
            F.round(F.expr("percentile(n_chars, 0.5)"), 6).alias("median_chars"),
            F.round(F.expr("percentile(n_chars, 0.9)"), 6).alias("p90_chars"),
        )
        .orderBy("lang")
    )


_SQL_CORPUS_LENGTH_STATS = """
SELECT lang, count(*) AS n_docs,
  round(sum(n_chars)::double / count(*), 6) AS mean_chars,
  round(quantile_cont(n_chars, 0.5), 6) AS median_chars,
  round(quantile_cont(n_chars, 0.9), 6) AS p90_chars
FROM documents GROUP BY lang ORDER BY lang
"""


def q_nfc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC canonicalization before hashing — composed vs decomposed
    diacritics must dedup together. Oracle: DuckDB nfc_normalize implements
    the same UAX #15 (decomposed-input canonicalization is pinned separately
    in tests/test_operators.py with explicit NFD strings)."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    normalized = textops.nfc_normalized(d)
    return _as_long(
        normalized.select(
            "doc_id",
            F.md5("text_nfc").alias("nfc_fp"),
            (F.col("text_nfc") == F.col("text")).cast("long").alias("unchanged"),
        ),
        "unchanged",
    )


_SQL_NFC_FINGERPRINTS = """
SELECT doc_id, md5(nfc_normalize(text)) AS nfc_fp,
       (nfc_normalize(text) = text)::bigint AS unchanged
FROM documents
"""


def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over text with injected contact lines (emails + phone
    runs appended deterministically so the redaction pass provably fires)."""
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +84 9"),
            F.col("doc_id").cast("string"),
            F.lit("1234567"),
        ).alias("text"),
    )
    out = textops.redact_pii(d)
    return out.select(
        "doc_id", "n_emails", "n_phones", F.md5("redacted").alias("redacted_fp")
    )


_SQL_REDACT_PII = f"""
WITH d AS (
  SELECT doc_id,
    text || ' contact user' || doc_id || '@example.com or +84 9'
         || doc_id || '1234567' AS text
  FROM documents
),
e AS (
  SELECT doc_id, text,
    len(regexp_extract_all(text, '{textops.EMAIL_PATTERN}')) AS n_emails,
    regexp_replace(text, '{textops.EMAIL_PATTERN}', '[EMAIL]', 'g') AS no_email
  FROM d
)
SELECT doc_id, n_emails,
  len(regexp_extract_all(no_email, '{textops.PHONE_PATTERN}')) AS n_phones,
  md5(regexp_replace(no_email, '{textops.PHONE_PATTERN}', '[PHONE]', 'g'))
    AS redacted_fp
FROM e
"""


def q_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.top_terms(_docs(spark, sf_dir), k=20)


_SQL_TOP_TERMS = f"""
WITH toks AS (
  SELECT unnest({_TOKS}) AS token FROM documents
)
SELECT token, count(*) AS n FROM toks
WHERE token NOT IN ({{stop}})
GROUP BY token ORDER BY n DESC, token LIMIT 20
""".format(stop=", ".join(f"'{w}'" for w in STOPWORDS))


def q_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _as_long(
        textops.tfidf_top_terms(_docs(spark, sf_dir), k=3), "rank"
    )


_SQL_TFIDF_TERMS = f"""
WITH toks AS (SELECT doc_id, unnest({_TOKS}) AS token FROM documents),
tf AS (SELECT doc_id, token, count(*) AS c FROM toks GROUP BY doc_id, token),
nt AS (SELECT doc_id, sum(c) AS n_tokens FROM tf GROUP BY doc_id),
dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
tot AS (SELECT count(*) AS n_docs FROM documents),
s AS (
  SELECT tf.doc_id, tf.token,
    round((c / nt.n_tokens::double) * ln(tot.n_docs / dfq.df::double), 6)
      AS tfidf
  FROM tf JOIN nt USING (doc_id) JOIN dfq USING (token) CROSS JOIN tot
),
r AS (
  SELECT doc_id, token, tfidf,
    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token)
      AS rank
  FROM s
)
SELECT doc_id, token, tfidf, rank::bigint AS rank FROM r WHERE rank <= 3
ORDER BY doc_id, rank
"""


def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation pass a training-data pipeline actually runs:
    quality threshold -> language allowlist -> exact-dedup representatives ->
    deterministic downsample. Exercises operator COMPOSITION (quality_scores
    ⨝ docs, exact_dups semi-join, md5-bucket sample) end to end."""
    from ..operators import sampling

    docs = _docs(spark, sf_dir)
    q = textops.quality_scores(docs).select("doc_id", "quality_score")
    kept = (
        docs.join(q, "doc_id")
        .where((F.col("quality_score") >= 0.45) & F.col("lang").isin("en", "zh"))
    )
    reps = dedup.exact_dups(kept).select(
        F.col("representative").alias("doc_id")
    )
    kept = kept.join(reps, "doc_id", "semi")
    sampled = sampling.deterministic_sample(kept, 0.5, key_col="doc_id")
    return sampled.select("doc_id", "lang", "quality_score")


_SQL_CURATION_FUNNEL = f"""
WITH q AS ({_SQL_QUALITY_SCORES}),
k AS (
  SELECT d.doc_id, d.lang, d.text, q.quality_score
  FROM documents d JOIN q USING (doc_id)
  WHERE q.quality_score >= 0.45::double AND d.lang IN ('en', 'zh')
),
reps AS (SELECT min(doc_id) AS doc_id FROM k GROUP BY sha256(text))
SELECT k.doc_id, k.lang, k.quality_score
FROM k JOIN reps USING (doc_id)
WHERE ('0x' || substr(md5(k.doc_id::varchar), 1, 7))::bigint % 10000 < 5000
"""


def q_canonical_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (operators/urls.py) over deterministically
    dirtied urls: mixed case, default port, tracking params, fragments,
    trailing slashes — one codegen'd expression, no shuffle."""
    from ..operators import urls

    d = _docs(spark, sf_dir)
    messy = F.concat(
        F.lit("HTTP://"),
        F.upper(F.col("source")),
        F.lit(".Example.COM:80/"),
        F.col("lang"),
        F.lit("/"),
        F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("/?utm_source=x&b=2&a=1#frag"))
        .when(F.col("doc_id") % 3 == 1, F.lit("/"))
        .otherwise(F.lit("?a=1&utm_campaign=y")),
    )
    return urls.canonicalize_urls(d.select(messy.alias("url")))


_SQL_CANONICAL_URLS = r"""
WITH m AS (
  SELECT 'HTTP://' || upper(source) || '.Example.COM:80/' || lang || '/'
    || doc_id
    || CASE doc_id % 3 WHEN 0 THEN '/?utm_source=x&b=2&a=1#frag'
                       WHEN 1 THEN '/' ELSE '?a=1&utm_campaign=y' END AS url
  FROM documents
),
p0 AS (SELECT url, regexp_replace(url, '#.*$', '') AS nf FROM m),
p AS (
  SELECT url,
    lower(coalesce(regexp_extract(nf,
      '^([a-zA-Z][a-zA-Z0-9+.\-]*)://', 1), '')) AS scheme,
    lower(coalesce(regexp_extract(nf,
      '^[a-zA-Z][a-zA-Z0-9+.\-]*://([^/?#]+)', 1), '')) AS auth,
    coalesce(regexp_extract(nf,
      '^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]*([^?#]*)', 1), '') AS raw_path,
    coalesce(regexp_extract(nf, '\?([^#]*)', 1), '') AS raw_q
  FROM p0
),
n AS (
  SELECT url, scheme,
    CASE WHEN scheme = 'http' AND auth LIKE '%:80'
           THEN substr(auth, 1, length(auth) - 3)
         WHEN scheme = 'https' AND auth LIKE '%:443'
           THEN substr(auth, 1, length(auth) - 4)
         ELSE auth END AS host,
    CASE WHEN regexp_replace(raw_path, '/+$', '') = '' THEN '/'
         ELSE regexp_replace(raw_path, '/+$', '') END AS path,
    coalesce(array_to_string(list_sort(list_filter(string_split(raw_q, '&'),
      q -> length(q) > 0
           AND NOT regexp_matches(q, '^(utm_[^=]*|fbclid|gclid|ref)='))),
      '&'), '') AS q
  FROM p
),
r AS (
  SELECT url, host,
    CASE WHEN scheme = '' THEN url
         ELSE scheme || '://' || host || path
              || CASE WHEN q = '' THEN '' ELSE '?' || q END
    END AS canonical_url
  FROM n
)
SELECT url, canonical_url, host,
  (canonical_url <> url)::int AS changed
FROM r
"""


def q_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing rebalance (sampling.mixture_weights): per-source keep
    rates toward a target mixture, content-addressed keep decisions."""
    from ..operators import sampling

    targets = {"src0": 0.2, "src1": 0.04, "src2": 0.01, "src3": 0.05}
    out = sampling.mixture_weights(
        _docs(spark, sf_dir), targets, key_col="doc_id", group_col="source"
    )
    return out.select("doc_id", "source", "keep_threshold", "keep")


_SQL_MIXTURE_WEIGHTS = """
WITH c AS (SELECT source, count(*) AS cg FROM documents GROUP BY source),
tt AS (SELECT count(*) AS total FROM documents),
j AS (
  SELECT d.doc_id, d.source, c.cg, tt.total
  FROM documents d JOIN c USING (source) CROSS JOIN tt
),
thr AS (
  SELECT doc_id, source,
    CASE source
      WHEN 'src0' THEN floor(least(1.0::double, 0.2::double * total / cg::double) * 10000)::bigint
      WHEN 'src1' THEN floor(least(1.0::double, 0.04::double * total / cg::double) * 10000)::bigint
      WHEN 'src2' THEN floor(least(1.0::double, 0.01::double * total / cg::double) * 10000)::bigint
      WHEN 'src3' THEN floor(least(1.0::double, 0.05::double * total / cg::double) * 10000)::bigint
      ELSE 0::bigint END AS keep_threshold
  FROM j
)
SELECT doc_id, source, keep_threshold,
  (('0x' || substr(md5(doc_id::varchar), 1, 7))::bigint % 10000
   < keep_threshold)::int AS keep
FROM thr
"""


def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.fingerprints(_docs(spark, sf_dir))


_SQL_FINGERPRINTS = """
SELECT doc_id, sha256(text) AS exact_fp,
  md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS norm_fp
FROM documents
"""




def q_pii_luhn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luhn-validated PII detection (textops.pii_luhn — round 4): text
    synthesized per doc carries one IPv4 literal, one 16-digit card whose
    check digit is doc_id%10 (so REAL Luhn validation decides validity),
    and for doc_id%4==0 a second 14-digit card — the oracle restates the
    synthesis and the Luhn fold digit by digit."""
    d = F.col("doc_id")
    txt = F.concat(
        F.lit("from "),
        (d % 256).cast("string"), F.lit("."),
        ((d * 3) % 256).cast("string"), F.lit("."),
        ((d * 5) % 256).cast("string"), F.lit("."),
        ((d * 7) % 256).cast("string"),
        F.lit(" card 4"),
        F.lpad(
            ((d * 2654435761) % F.lit(100000000000000).cast("long"))
            .cast("string"),
            14, "0",
        ),
        (d % 10).cast("string"),
        F.when(
            d % 4 == 0,
            F.concat(
                F.lit(" backup card 5"),
                F.lpad(((d * 97 + 13) % F.lit(1000000000000).cast("long"))
                       .cast("string"), 12, "0"),
                F.lit("7"),
            ),
        ).otherwise(F.lit("")),
        F.lit(" end"),
    )
    docs = _docs(spark, sf_dir).select("doc_id", txt.alias("text"))
    return textops.pii_luhn(docs)


_SQL_PII_LUHN = r"""
WITH d AS (
  SELECT doc_id,
    'from ' || (doc_id % 256)::varchar
      || '.' || ((doc_id * 3) % 256)::varchar
      || '.' || ((doc_id * 5) % 256)::varchar
      || '.' || ((doc_id * 7) % 256)::varchar
      || ' card 4'
      || lpad(((doc_id * 2654435761) % 100000000000000)::varchar, 14, '0')
      || (doc_id % 10)::varchar
      || CASE WHEN doc_id % 4 = 0
           THEN ' backup card 5'
             || lpad(((doc_id * 97 + 13) % 1000000000000)::varchar, 12, '0')
             || '7'
           ELSE '' END
      || ' end' AS text
  FROM documents
),
x AS (
  SELECT doc_id,
    regexp_extract_all(text, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')
      AS ips,
    regexp_extract_all(text, '\b[0-9]{13,16}\b') AS cards
  FROM d
)
SELECT doc_id,
  len(ips)::bigint AS n_ipv4,
  len(cards)::bigint AS n_cards,
  len(list_filter(cards, c ->
    list_sum(list_transform(range(1, len(c) + 1), i ->
      CASE WHEN (len(c) - i) % 2 = 1 THEN
        CASE WHEN 2 * (ascii(substring(c, i, 1)) - 48) > 9
          THEN 2 * (ascii(substring(c, i, 1)) - 48) - 9
          ELSE 2 * (ascii(substring(c, i, 1)) - 48) END
      ELSE ascii(substring(c, i, 1)) - 48 END)) % 10 = 0
  ))::bigint AS n_luhn_valid
FROM x
"""


def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease over the REAL corpus text (textops.readability
    — round 4): the oracle restates the word / sentence-run / vowel-group
    counting and the pinned-order double expression, floor-micro-units."""
    return textops.readability(_docs(spark, sf_dir))


_SQL_READABILITY = """
WITH w AS (
  SELECT doc_id,
    regexp_extract_all(lower(text), '[a-z]+') AS words,
    greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sent
  FROM documents
), s AS (
  SELECT doc_id, len(words)::bigint AS n_words, n_sent::bigint AS n_sentences,
    coalesce(list_sum(list_transform(words,
      x -> len(regexp_extract_all(x, '[aeiouy]+')))), 0)::bigint
      AS n_syllables
  FROM w
)
SELECT doc_id, n_words, n_sentences, n_syllables,
  CASE WHEN n_words > 0 THEN
    floor((206.835::double - 1.015::double * n_words / n_sentences
      - 84.6::double * n_syllables / n_words) * 1000000.0::double)::bigint
  END AS flesch_micro
FROM s
"""


def q_bitext_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-lingual bitext candidate mining (textops.bitext_candidates)
    over documents with planted translations: every sixth doc gains two
    doc_id-derived figure numbers, and a 'translation' copy
    (doc_id+500000, lang 'xx') carries the same numbers — the shared-
    rare-number pre-filter finds exactly those pairs (shared=2; cross-
    doc number collisions stay below min_shared)."""
    d = _docs(spark, sf_dir).select("doc_id", "lang", "text")
    n1 = (F.col("doc_id") * 7 + 13).cast("string")
    n2 = (F.col("doc_id") * 11 + 5).cast("string")
    marked = d.where(F.col("doc_id") % 6 == 0).select(
        "doc_id",
        "lang",
        F.concat("text", F.lit(" fig "), n1, F.lit(" ref "), n2).alias("text"),
    )
    trans = d.where(F.col("doc_id") % 6 == 0).select(
        (F.col("doc_id") + 500000).alias("doc_id"),
        F.lit("xx").alias("lang"),
        F.concat(F.lit("fig "), n1, F.lit(" ref "), n2).alias("text"),
    )
    corpus = (
        d.where(F.col("doc_id") % 6 != 0)
        .unionByName(marked)
        .unionByName(trans)
    )
    return textops.bitext_candidates(corpus)


_SQL_BITEXT_CANDIDATES = """
WITH base AS (SELECT doc_id, lang, text FROM documents),
corpus AS (
  SELECT doc_id, lang, text FROM base WHERE doc_id % 6 <> 0
  UNION ALL
  SELECT doc_id, lang,
    text || ' fig ' || (doc_id * 7 + 13)::varchar
         || ' ref ' || (doc_id * 11 + 5)::varchar
  FROM base WHERE doc_id % 6 = 0
  UNION ALL
  SELECT doc_id + 500000, 'xx',
    'fig ' || (doc_id * 7 + 13)::varchar
     || ' ref ' || (doc_id * 11 + 5)::varchar
  FROM base WHERE doc_id % 6 = 0
),
nums AS (
  SELECT doc_id, lang,
    unnest(list_distinct(regexp_extract_all(text, '[0-9]+'))) AS num
  FROM corpus
),
capped AS (
  SELECT doc_id, lang, num FROM (
    SELECT doc_id, lang, num, count(*) OVER (PARTITION BY num) AS c
    FROM nums
  ) WHERE c <= 16
)
SELECT l.doc_id AS id_a, r.doc_id AS id_b,
  l.lang AS lang_a, r.lang AS lang_b, count(*) AS shared
FROM capped l JOIN capped r
  ON l.num = r.num AND l.doc_id < r.doc_id AND l.lang <> r.lang
GROUP BY l.doc_id, r.doc_id, l.lang, r.lang
HAVING count(*) >= 2
"""


# ---------------------------------------------------------------------------
# langid_confusion
# ---------------------------------------------------------------------------


def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: declared lang vs the marker-argmax
    prediction (textops.lang_id) with per-declared-lang shares — the
    eval every lang filter needs before trusting predictions at scale.
    Doc-level join is shuffle_hash (both sides corpus-sized); the
    confusion rollup and shares live on the bounded lang x lang domain;
    shares are exact integer div."""
    d = _docs(spark, sf_dir)
    pred = textops.lang_id(d).select("doc_id", "pred_lang")
    j = d.select("doc_id", "lang").join(pred.hint("shuffle_hash"), "doc_id")
    g = j.groupBy("lang", "pred_lang").agg(
        F.count("*").cast("long").alias("n")
    )
    t = g.groupBy("lang").agg(F.sum("n").alias("tot"))
    return g.join(t.hint("shuffle_hash"), "lang").select(
        "lang",
        "pred_lang",
        "n",
        F.expr("(n * 1000000L) div tot").cast("long").alias("share_ppm"),
    )


def _sql_langid_confusion() -> str:
    return f"""
WITH pred AS (
  SELECT doc_id, pred_lang FROM ({_sql_lang_id()})
),
j AS (
  SELECT d.lang, p.pred_lang FROM documents d
  JOIN pred p ON d.doc_id = p.doc_id
),
g AS (
  SELECT lang, pred_lang, count(*)::bigint AS n FROM j GROUP BY 1, 2
),
t AS (SELECT lang, sum(n) AS tot FROM g GROUP BY lang)
SELECT g.lang, g.pred_lang, g.n,
  ((g.n * 1000000) // t.tot)::bigint AS share_ppm
FROM g JOIN t ON g.lang = t.lang
"""


# ---------------------------------------------------------------------------
# negative_sampling_table
# ---------------------------------------------------------------------------


def q_negative_sampling_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word2vec/NCE noise table (textops.negative_sampling_table): top-200
    unigrams weighted count^0.75 via iterated sqrt, cumulative ppm
    ranges over the bounded vocab."""
    from ..operators.textops import negative_sampling_table

    return negative_sampling_table(_docs(spark, sf_dir), vocab_size=200)


_SQL_NEGATIVE_SAMPLING_TABLE = r"""
WITH toks AS (
  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
  FROM documents
),
c AS (SELECT token, count(*)::bigint AS n FROM toks GROUP BY token),
v AS (SELECT token, n FROM c ORDER BY n DESC, token LIMIT 200),
w AS (
  SELECT token, n,
    round(sqrt(n::double) * sqrt(sqrt(n::double)), 12)::decimal(28,12) AS wv
  FROM v
),
t AS (SELECT sum(wv) AS tw FROM w),
p AS (
  SELECT token, n,
    floor(wv::double * 1000000 / tw::double)::bigint AS weight_ppm
  FROM w, t
)
SELECT token, n, weight_ppm,
  coalesce(sum(weight_ppm) OVER (
    ORDER BY n DESC, token
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::bigint
    AS cum_start_ppm
FROM p
"""


# ---------------------------------------------------------------------------
# feature_hashing
# ---------------------------------------------------------------------------


def q_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurizer (textops.feature_hashing): 16 hashed
    bag-of-words buckets per document in one map-side-combined pass."""
    from ..operators.textops import feature_hashing

    return feature_hashing(_docs(spark, sf_dir), n_buckets=16)


def _sql_feature_hashing(n_buckets: int = 16) -> str:
    hs = ",\n  ".join(
        f"sum(CASE WHEN bk = {i} THEN 1 ELSE 0 END)::bigint AS h{i}"
        for i in range(n_buckets)
    )
    return rf"""
WITH toks AS (
  SELECT doc_id,
    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
  FROM documents
),
b AS (
  SELECT doc_id,
    ('0x' || substr(md5(token), 1, 7))::bigint % {n_buckets} AS bk
  FROM toks
)
SELECT doc_id, count(*)::bigint AS n_tokens,
  {hs}
FROM b GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# kneser_ney_bigrams
# ---------------------------------------------------------------------------


def q_kneser_ney_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM (textops.kneser_ney_bigrams)
    with D=3/4 — the whole estimate is exact integer arithmetic."""
    from ..operators.textops import kneser_ney_bigrams

    return kneser_ney_bigrams(_docs(spark, sf_dir), top_k=500)


_SQL_KNESER_NEY_BIGRAMS = r"""
WITH t AS (
  SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS toks
  FROM documents
),
t2 AS (SELECT toks FROM t WHERE len(toks) >= 2),
pairs AS (
  SELECT toks[i] AS w1, toks[i + 1] AS w2
  FROM t2, unnest(generate_series(1, len(toks) - 1)) AS g(i)
),
bg AS (SELECT w1, w2, count(*)::bigint AS c12 FROM pairs GROUP BY w1, w2),
l AS (
  SELECT w1, sum(c12)::bigint AS c1, count(*)::bigint AS n1_w1
  FROM bg GROUP BY w1
),
r AS (SELECT w2, count(*)::bigint AS n1_w2 FROM bg GROUP BY w2),
bt AS (SELECT count(*)::bigint AS b FROM bg)
SELECT bg.w1, bg.w2, c12, c1, n1_w1, n1_w2,
  (((4 * c12 - 3) * b + 3 * n1_w1 * n1_w2) * 1000000
   // (4 * c1 * b))::bigint AS p_kn_micro
FROM bg JOIN l ON bg.w1 = l.w1 JOIN r ON bg.w2 = r.w2, bt
ORDER BY c12 DESC, bg.w1, bg.w2 LIMIT 500
"""


# ---------------------------------------------------------------------------
# langid_spans
# ---------------------------------------------------------------------------

_ES_TAIL = "el la de y es en que los una por " * 3


def q_langid_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-switching spans (textops.langid_spans): each document gets a
    30-token Spanish-marker tail appended, so every doc closes with
    es-dominant segments and the islands fold must emit >= 2 spans."""
    from ..operators.textops import langid_spans

    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" " + _ES_TAIL.strip())).alias("text"),
    )
    return langid_spans(d, line_tokens=10)


def _sql_langid_spans(line_tokens: int = 10) -> str:
    langs = sorted(LANG_MARKERS)
    scores = ",\n    ".join(
        f"len(list_filter(seg, t -> t IN ({_in_list(LANG_MARKERS[lang])})))"
        f" AS score_{lang}"
        for lang in langs
    )
    pred = "'und'"
    best = "0"
    for lang in langs:
        pred = f"CASE WHEN score_{lang} > {best} THEN '{lang}' ELSE {pred} END"
        best = (
            f"CASE WHEN score_{lang} > {best} THEN score_{lang} ELSE {best} END"
        )
    tail = _ES_TAIL.strip()
    return f"""
WITH base AS (
  SELECT doc_id, text || ' {tail}' AS text FROM documents
),
t AS (
  SELECT doc_id,
    regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
  FROM base
),
segr AS (
  SELECT doc_id,
    unnest(generate_series(1,
      (len(toks) + {line_tokens} - 1) // {line_tokens})) AS i,
    toks
  FROM t WHERE len(toks) > 0
),
segs AS (
  SELECT doc_id, (i - 1)::bigint AS seg_idx,
    list_slice(toks, (i - 1) * {line_tokens} + 1,
               least(i * {line_tokens}, len(toks))) AS seg
  FROM segr
),
sc AS (
  SELECT doc_id, seg_idx,
    {scores}
  FROM segs
),
lab AS (SELECT doc_id, seg_idx, {pred} AS lang FROM sc),
isl AS (
  SELECT doc_id, seg_idx, lang,
    sum(CASE WHEN prev IS NULL OR lang <> prev THEN 1 ELSE 0 END)
      OVER (PARTITION BY doc_id ORDER BY seg_idx) - 1 AS island
  FROM (
    SELECT doc_id, seg_idx, lang,
      lag(lang) OVER (PARTITION BY doc_id ORDER BY seg_idx) AS prev
    FROM lab
  )
)
SELECT doc_id, island::bigint AS span_idx,
  min(seg_idx)::bigint AS start_seg, count(*)::bigint AS n_segs,
  min(lang) AS lang
FROM isl GROUP BY doc_id, island
"""


# ---------------------------------------------------------------------------
# word_dropout
# ---------------------------------------------------------------------------


def q_word_dropout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed-stable augmentation (textops.word_dropout): 10% token
    dropout decided by md5(doc_id|position) — reproducible corruption."""
    from ..operators.textops import word_dropout

    return word_dropout(_docs(spark, sf_dir), drop_pct=10)


_SQL_WORD_DROPOUT = r"""
WITH t AS (
  SELECT doc_id,
    regexp_split_to_array(trim(lower(text)), '\s+') AS toks
  FROM documents
),
e AS (
  SELECT doc_id,
    unnest(toks) AS tok,
    unnest(generate_series(1, len(toks))) AS pos
  FROM t
),
k AS (
  SELECT doc_id, tok, pos FROM e
  WHERE ('0x' || substr(md5(doc_id::varchar || '|'
          || (pos - 1)::varchar), 1, 7))::bigint % 10000 >= 1000
),
a AS (
  SELECT doc_id, count(*)::bigint AS n_kept,
    string_agg(tok, ' ' ORDER BY pos) AS aug_text
  FROM k GROUP BY doc_id
)
SELECT t.doc_id, len(t.toks)::bigint AS n_tokens,
  coalesce(a.n_kept, 0)::bigint AS n_kept,
  coalesce(a.aug_text, '') AS aug_text
FROM t LEFT JOIN a ON t.doc_id = a.doc_id
"""


# ---------------------------------------------------------------------------
# conditional_entropy
# ---------------------------------------------------------------------------


def q_conditional_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-0 vs order-1 corpus char entropy
    (textops.conditional_entropy): the redundancy gauge — one row."""
    from ..operators.textops import conditional_entropy

    return conditional_entropy(_docs(spark, sf_dir))


_SQL_CONDITIONAL_ENTROPY = """
WITH src AS (
  SELECT lower(text) AS lt FROM documents WHERE length(text) > 0
),
uch AS (
  SELECT unnest(list_transform(generate_series(1, length(lt)),
                               i -> substr(lt, i, 1))) AS ch
  FROM src
),
uni AS (SELECT ch, count(*)::bigint AS cnt FROM uch GROUP BY ch),
tot AS (SELECT sum(cnt)::bigint AS n FROM uni),
h0 AS (
  SELECT max(n) AS n,
    sum(cnt::decimal(18,0)
        * round(log2(cnt / n::double), 6)::decimal(18,6)) AS s0
  FROM uni, tot
),
src2 AS (SELECT lt FROM src WHERE length(lt) >= 2),
ebg AS (
  SELECT unnest(list_transform(generate_series(1, length(lt) - 1),
                               i -> substr(lt, i, 2))) AS bg
  FROM src2
),
bgc AS (SELECT bg, count(*)::bigint AS c12 FROM ebg GROUP BY bg),
ctx AS (
  SELECT substr(bg, 1, 1) AS c1, sum(c12)::bigint AS c1n
  FROM bgc GROUP BY 1
),
btot AS (SELECT sum(c12)::bigint AS nb FROM bgc),
h1 AS (
  SELECT max(nb) AS nb,
    sum(c12::decimal(18,0)
        * round(log2(c12 / c1n::double), 6)::decimal(18,6)) AS s1
  FROM bgc JOIN ctx ON substr(bgc.bg, 1, 1) = ctx.c1, btot
),
fin AS (
  SELECT n::bigint AS n_chars, nb::bigint AS n_bigrams,
    floor((-(s0::double) / n::double) * 1000000.0)::bigint AS h0_micro,
    floor((-(s1::double) / nb::double) * 1000000.0)::bigint AS h1_micro
  FROM h0, h1
)
SELECT n_chars, n_bigrams, h0_micro, h1_micro,
  (h0_micro - h1_micro)::bigint AS redundancy_micro
FROM fin
"""


# ---------------------------------------------------------------------------
# vocab_coverage
# ---------------------------------------------------------------------------


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coverage-vs-vocab-size curve (textops.vocab_coverage): corpus
    token share covered by the top 2^k tokens, k = 1..10."""
    from ..operators.textops import vocab_coverage

    return vocab_coverage(_docs(spark, sf_dir))


_SQL_VOCAB_COVERAGE = rf"""
WITH toks AS (SELECT unnest({_TOKS}) AS token FROM documents),
c AS (SELECT token, count(*)::bigint AS n FROM toks GROUP BY token),
tot AS (SELECT sum(n)::bigint AS t FROM c),
top AS (SELECT token, n FROM c ORDER BY n DESC, token LIMIT 1024),
ranked AS (
  SELECT n,
    row_number() OVER (ORDER BY n DESC, token) AS rn,
    sum(n) OVER (ORDER BY n DESC, token
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM top
),
vmax AS (SELECT max(rn) AS vm FROM ranked),
ks AS (
  SELECT k, (1::bigint << k) AS v
  FROM (SELECT unnest(generate_series(1, 10)) AS k)
),
grid AS (SELECT k, least(v, vm)::bigint AS vocab_size FROM ks, vmax)
SELECT k::bigint AS k, vocab_size,
  ((cum * 1000000) // t)::bigint AS covered_ppm
FROM grid JOIN ranked ON grid.vocab_size = ranked.rn, tot
"""


# ---------------------------------------------------------------------------
# code_detect
# ---------------------------------------------------------------------------


def q_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose gate (textops.code_detect) over documents with a
    synthesized code tail on every 7th doc, so both verdicts occur."""
    from ..operators.textops import code_detect

    d = _docs(spark, sf_dir)
    tail = (
        " def f(x): return x*x; import os; var y = {a: 1}; "
        "const z = (1 <= 2); int main() { return 0; } someCamelName"
    )
    corpus = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.col("text"), F.lit(tail * 3)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return code_detect(corpus)


_SQL_CODE_DETECT = r"""
WITH base AS (
  SELECT doc_id,
    CASE WHEN doc_id % 7 = 0 THEN text || repeat(
      ' def f(x): return x*x; import os; var y = {a: 1}; '
      || 'const z = (1 <= 2); int main() { return 0; } someCamelName', 3)
    ELSE text END AS text
  FROM documents
),
m AS (
  SELECT doc_id, length(text)::bigint AS n_chars,
    (length(text) - length(regexp_replace(text,
       '[{}();=<>\[\]]', '', 'g')))::bigint AS sym,
    len(regexp_extract_all(lower(text),
       '\b(def|function|return|import|var|const|void|int)\b'))::bigint
      AS keyword_hits,
    len(regexp_extract_all(text,
       '\b[a-z]+[A-Z][A-Za-z]*\b'))::bigint AS camel
  FROM base WHERE length(text) > 0
)
SELECT doc_id, n_chars,
  ((sym * 1000000) // n_chars)::bigint AS symbol_ppm,
  keyword_hits,
  ((camel * 1000000) // n_chars)::bigint AS camel_ppm,
  (CASE WHEN (sym * 1000000) // n_chars >= 30000
             AND keyword_hits >= 2
        THEN 1 ELSE 0 END)::bigint AS is_code
FROM m
"""


# ---------------------------------------------------------------------------
# deleted_interpolation
# ---------------------------------------------------------------------------


def q_deleted_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jelinek-Mercer lambdas by deleted interpolation
    (textops.deleted_interpolation) — integer cross-multiplied
    leave-one-out comparison, one bigram explode."""
    from ..operators.textops import deleted_interpolation

    return deleted_interpolation(_docs(spark, sf_dir))


_SQL_DELETED_INTERPOLATION = r"""
WITH t AS (
  SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS toks
  FROM documents
),
t2 AS (SELECT toks FROM t WHERE len(toks) >= 2),
pairs AS (
  SELECT toks[i] AS w1, toks[i + 1] AS w2
  FROM t2, unnest(generate_series(1, len(toks) - 1)) AS g(i)
),
bg AS (SELECT w1, w2, count(*)::bigint AS c12 FROM pairs GROUP BY w1, w2),
c1t AS (SELECT w1, sum(c12)::bigint AS c1 FROM bg GROUP BY w1),
c2t AS (SELECT w2, sum(c12)::bigint AS c2 FROM bg GROUP BY w2),
nt AS (SELECT sum(c12)::bigint AS nn FROM bg),
j AS (
  SELECT c12, c1, c2, nn
  FROM bg JOIN c1t USING (w1) JOIN c2t USING (w2), nt
),
agg AS (
  SELECT count(*)::bigint AS n_bigram_types,
    sum(CASE WHEN c1 > 1 AND (c12 - 1) * (nn - 1) > (c2 - 1) * (c1 - 1)
             THEN c12 ELSE 0 END)::bigint AS awarded_bigram,
    sum(CASE WHEN NOT (c1 > 1
                       AND (c12 - 1) * (nn - 1) > (c2 - 1) * (c1 - 1))
             THEN c12 ELSE 0 END)::bigint AS awarded_unigram
  FROM j
)
SELECT n_bigram_types,
  ((awarded_bigram * 1000000)
    // (awarded_bigram + awarded_unigram))::bigint AS lambda2_ppm,
  ((awarded_unigram * 1000000)
    // (awarded_bigram + awarded_unigram))::bigint AS lambda1_ppm,
  awarded_bigram, awarded_unigram
FROM agg
"""


# ---------------------------------------------------------------------------
# span_corruption
# ---------------------------------------------------------------------------


def q_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption plan (textops.span_corruption): 3-token
    windows masked at 15% by content-addressed hash."""
    from ..operators.textops import span_corruption

    return span_corruption(_docs(spark, sf_dir))


_SQL_SPAN_CORRUPTION = r"""
WITH t AS (
  SELECT doc_id,
    regexp_split_to_array(trim(lower(text)), '\s+') AS toks
  FROM documents
),
e AS (
  SELECT doc_id, unnest(toks) AS tok,
    unnest(generate_series(1, len(toks))) AS pos
  FROM t
),
w AS (
  SELECT doc_id, tok, pos, (pos - 1) // 3 AS win,
    ('0x' || substr(md5('sc|' || doc_id::varchar || '|'
       || ((pos - 1) // 3)::varchar), 1, 7))::bigint % 10000 AS h
  FROM e
),
k AS (SELECT doc_id, tok, pos, win FROM w WHERE h >= 1500),
a AS (
  SELECT doc_id, count(*)::bigint AS n_kept,
    count(DISTINCT win)::bigint AS surv,
    string_agg(tok, ' ' ORDER BY pos) AS kept_text
  FROM k GROUP BY doc_id
)
SELECT t.doc_id, len(t.toks)::bigint AS n_tokens,
  (len(t.toks) - coalesce(a.n_kept, 0))::bigint AS n_masked,
  (CASE WHEN len(t.toks) > 0
        THEN (len(t.toks) + 2) // 3 - coalesce(a.surv, 0)
        ELSE 0 END)::bigint AS n_spans,
  coalesce(a.kept_text, '') AS kept_text
FROM t LEFT JOIN a USING (doc_id)
"""


# ---------------------------------------------------------------------------
# dedup_diversity
# ---------------------------------------------------------------------------


def q_dedup_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity gain from dedup (textops.dedup_diversity): the doubled
    corpus vs its min-id exact-dedup representatives — deduped TTR must
    rise (copies add tokens, not types)."""
    from ..operators.textops import dedup_diversity

    raw = _doubled_docs(spark, sf_dir)
    ded = (
        raw.groupBy("text")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", "text")
    )
    return dedup_diversity(raw, ded)


def _sql_dedup_diversity() -> str:
    def stage(src: str, name: str) -> str:
        return f"""
SELECT '{name}' AS stage,
  (SELECT count(*) FROM {src})::bigint AS n_docs,
  count(*)::bigint AS n_bigrams,
  count(DISTINCT bg)::bigint AS distinct_bigrams,
  ((count(DISTINCT bg) * 1000000) // count(*))::bigint AS ttr_ppm
FROM (
  SELECT toks[i] || ' ' || toks[i + 1] AS bg
  FROM (
    SELECT regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
    FROM {src}
  ), unnest(generate_series(1, len(toks) - 1)) AS g(i)
  WHERE len(toks) >= 2
)"""

    return f"""
WITH raw AS ({_DOUBLED_SQL}),
ded AS (
  SELECT min(doc_id) AS doc_id, text FROM raw GROUP BY text
)
{stage('raw', 'raw')}
UNION ALL
{stage('ded', 'deduped')}
"""


# ---------------------------------------------------------------------------
# heldout_perplexity
# ---------------------------------------------------------------------------

_HOLDOUT_HASH = "('0x' || substr(md5(doc_id::varchar), 1, 7))::bigint % 10000"


def q_heldout_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out LM eval (textops.heldout_perplexity): bigram model
    trained on the 90% hash-train split, the 10% holdout scored against
    it; unseen bigrams counted, not smoothed."""
    from ..operators.sampling import hash_bucket
    from ..operators.textops import heldout_perplexity

    d = _docs(spark, sf_dir)
    b = hash_bucket(F.col("doc_id"))
    return heldout_perplexity(d.where(b >= 1000), d.where(b < 1000))


_SQL_HELDOUT_PERPLEXITY = f"""
WITH tr AS (
  SELECT lower(text) AS lt FROM documents
  WHERE {_HOLDOUT_HASH} >= 1000 AND length(lower(text)) >= 2
),
ev0 AS (
  SELECT doc_id, lower(text) AS lt FROM documents
  WHERE {_HOLDOUT_HASH} < 1000 AND length(lower(text)) >= 2
),
e_tr AS (
  SELECT unnest(list_transform(generate_series(1, length(lt) - 1),
                               i -> substr(lt, i, 2))) AS bg
  FROM tr
),
mc AS (SELECT bg, count(*) AS cnt FROM e_tr GROUP BY bg),
pc AS (SELECT substr(bg, 1, 1) AS c1, sum(cnt) AS pcnt FROM mc GROUP BY 1),
model AS (
  SELECT bg, round(ln(cnt / pcnt::double), 6)::decimal(28,12) AS lnp
  FROM mc JOIN pc ON substr(mc.bg, 1, 1) = pc.c1
),
e_ev AS (
  SELECT doc_id,
    unnest(list_transform(generate_series(1, length(lt) - 1),
                          i -> substr(lt, i, 2))) AS bg
  FROM ev0
),
sc AS (
  SELECT doc_id, count(*)::bigint AS n_bigrams,
    sum(CASE WHEN lnp IS NULL THEN 1 ELSE 0 END)::bigint AS n_unseen,
    sum(lnp) AS s,
    sum(CASE WHEN lnp IS NOT NULL THEN 1 ELSE 0 END)::bigint AS m
  FROM e_ev LEFT JOIN model USING (bg) GROUP BY doc_id
)
SELECT doc_id, n_bigrams, n_unseen,
  CASE WHEN m > 0
       THEN floor((-(s::double) / m::double) * 1000000.0)::bigint
  END AS nll_micro
FROM sc
"""


# ---------------------------------------------------------------------------
# best_snippet
# ---------------------------------------------------------------------------

_SNIPPET_TERMS = ("the", "of", "and")


def q_best_snippet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-biased snippet (textops.best_snippet): the 10-token window
    with the most query-term hits per matching doc."""
    from ..operators.textops import best_snippet

    return best_snippet(
        _docs(spark, sf_dir), list(_SNIPPET_TERMS), window=10
    )


_SQL_BEST_SNIPPET = rf"""
WITH t AS (
  SELECT doc_id,
    regexp_split_to_array(trim(lower(text)), '\s+') AS toks
  FROM documents
),
e AS (
  SELECT doc_id, unnest(toks) AS token,
    unnest(generate_series(1, len(toks))) AS pos1
  FROM t
),
h AS (
  SELECT doc_id, pos1 - 1 AS pos, token,
    CASE WHEN token IN ('the', 'of', 'and') THEN 1 ELSE 0 END AS hit
  FROM e
),
c AS (
  SELECT doc_id, pos, token,
    sum(hit) OVER (PARTITION BY doc_id ORDER BY pos) AS c
  FROM h
),
s AS (
  SELECT doc_id, pos,
    c - coalesce(lag(c, 10) OVER (PARTITION BY doc_id ORDER BY pos), 0)
      AS win_hits
  FROM c
),
b AS (
  SELECT doc_id, pos, win_hits,
    row_number() OVER (PARTITION BY doc_id
                       ORDER BY win_hits DESC, pos ASC) AS rn
  FROM s WHERE win_hits > 0
),
bb AS (
  SELECT doc_id, greatest(pos - 10 + 1, 0) AS start_pos,
    win_hits AS hits
  FROM b WHERE rn = 1
),
sn AS (
  SELECT h.doc_id, bb.start_pos, bb.hits,
    string_agg(h.token, ' ' ORDER BY h.pos) AS snippet
  FROM h JOIN bb ON h.doc_id = bb.doc_id
    AND h.pos >= bb.start_pos AND h.pos < bb.start_pos + 10
  GROUP BY h.doc_id, bb.start_pos, bb.hits
)
SELECT doc_id, start_pos::bigint AS start_pos, hits::bigint AS hits,
  snippet
FROM sn
"""


# ---------------------------------------------------------------------------
# shared_prefixes
# ---------------------------------------------------------------------------


def q_shared_prefixes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-cache census (textops.shared_prefixes) over documents ∪
    copies (guaranteed sharing): 16-token prefixes, one row."""
    from ..operators.textops import shared_prefixes

    return shared_prefixes(_doubled_docs(spark, sf_dir))


_SQL_SHARED_PREFIXES = rf"""
WITH raw AS ({{doubled}}),
t AS (
  SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS toks
  FROM raw
),
p AS (
  SELECT md5(array_to_string(list_slice(toks, 1, 16), ' ')) AS p
  FROM t WHERE len(toks) >= 16
),
g AS (SELECT p, count(*)::bigint AS n FROM p GROUP BY p),
agg AS (
  SELECT sum(n)::bigint AS n_docs, count(*)::bigint AS n_groups,
    sum(CASE WHEN n >= 2 THEN n ELSE 0 END)::bigint
      AS docs_in_shared_groups,
    sum((n - 1) * 16)::bigint AS saved_tokens
  FROM g
)
SELECT n_docs, n_groups, docs_in_shared_groups, saved_tokens,
  ((saved_tokens * 1000000) // (n_docs * 16))::bigint AS saved_ppm
FROM agg
""".format(doubled=_DOUBLED_SQL)


# ---------------------------------------------------------------------------
# term_burstiness
# ---------------------------------------------------------------------------


def q_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Church-Gale burstiness (textops.term_burstiness): Fano factor of
    per-doc counts for the top-50 terms."""
    from ..operators.textops import term_burstiness

    return term_burstiness(_docs(spark, sf_dir), top_k=50)


def _sql_term_burstiness(top_k: int = 50) -> str:
    return rf"""
WITH nd AS (SELECT count(*)::bigint AS n FROM documents),
toks AS (
  SELECT doc_id,
    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
  FROM documents
),
pd AS (
  SELECT token, doc_id, count(*)::bigint AS x
  FROM toks GROUP BY token, doc_id
),
pt AS (
  SELECT token, sum(x)::bigint AS total,
    sum(x * x)::bigint AS sxx, count(*)::bigint AS df
  FROM pd GROUP BY token
)
SELECT token, total, df,
  (((n * sxx - total * total) * 1000000)
    // (n * total))::bigint AS fano_micro
FROM pt, nd ORDER BY total DESC, token LIMIT {top_k}
"""


# ---------------------------------------------------------------------------
# keyness_terms (round-4 session-14)
# ---------------------------------------------------------------------------


def q_keyness_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunning G2 keyness signatures per source (textops.keyness_terms)
    — four pinned x*ln(x/E) cells per (source, term), round-6 decimal
    sums, WindowGroupLimit top-5."""
    return textops.keyness_terms(_docs(spark, sf_dir), k=5)


_SQL_KEYNESS_TERMS = f"""
WITH toks AS (
  SELECT source AS grp, unnest({_TOKS}) AS term FROM documents
),
tf AS (
  SELECT grp, term, count(*)::bigint AS a FROM toks
  WHERE term NOT IN ({{stop}}) GROUP BY 1, 2
),
tt AS (SELECT term, sum(a)::bigint AS ab FROM tf GROUP BY 1),
gt AS (SELECT grp, sum(a)::bigint AS ac FROM tf GROUP BY 1),
nt AS (SELECT sum(a)::bigint AS n FROM tf),
cells AS (
  SELECT tf.grp, tf.term, tf.a, (tt.ab - tf.a)::bigint AS b,
    (gt.ac - tf.a)::bigint AS c,
    (nt.n - tt.ab - gt.ac + tf.a)::bigint AS d,
    tt.ab, gt.ac, nt.n
  FROM tf JOIN tt USING (term) JOIN gt USING (grp), nt
),
scored AS (
  SELECT grp, term, a AS tf_in, b AS tf_out,
    (2 * (
      (CASE WHEN a > 0 THEN round(a::double
        * ln((a::double * n::double) / (ab::double * ac::double)), 6)
        ELSE 0 END)::decimal(28,6)
      + (CASE WHEN b > 0 THEN round(b::double
        * ln((b::double * n::double) / (ab::double * (n - ac)::double)), 6)
        ELSE 0 END)::decimal(28,6)
      + (CASE WHEN c > 0 THEN round(c::double
        * ln((c::double * n::double) / ((n - ab)::double * ac::double)), 6)
        ELSE 0 END)::decimal(28,6)
      + (CASE WHEN d > 0 THEN round(d::double
        * ln((d::double * n::double)
             / ((n - ab)::double * (n - ac)::double)), 6)
        ELSE 0 END)::decimal(28,6)
    ) * 1000000)::bigint AS g2_micro,
    (CASE WHEN a::hugeint * (n - ac)::hugeint > b::hugeint * ac::hugeint
          THEN 1 ELSE 0 END)::bigint AS overused
  FROM cells
)
SELECT grp AS source, term, tf_in, tf_out, g2_micro, overused,
  rank::bigint AS rank
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY grp ORDER BY g2_micro DESC, term) AS rank
  FROM scored
)
WHERE rank <= 5
""".format(stop=", ".join(f"'{w}'" for w in STOPWORDS))


# ---------------------------------------------------------------------------
# vocab_churn / lm_greedy_decode (round-4 session-14)
# ---------------------------------------------------------------------------


def q_vocab_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary turnover (textops.vocab_churn) between the src0-9 and
    src10-19 halves of the corpus as snapshot A/B — one explode, one
    vocabulary-sized groupBy of membership bits."""
    return textops.vocab_churn(
        _docs(spark, sf_dir),
        F.substring("source", 4, 8).cast("long") >= 10,
    )


_SQL_VOCAB_CHURN = f"""
WITH toks AS (
  SELECT unnest({_TOKS}) AS token,
    (CASE WHEN substr(source, 4)::bigint >= 10 THEN 1 ELSE 0 END)::bigint
      AS in_b
  FROM documents
),
mem AS (
  SELECT token, max(1 - in_b)::bigint AS a, max(in_b)::bigint AS b
  FROM toks GROUP BY token
),
agg AS (
  SELECT sum(a)::bigint AS vocab_a, sum(b)::bigint AS vocab_b,
    sum(b * (1 - a))::bigint AS born, sum(a * (1 - b))::bigint AS died,
    sum(a * b)::bigint AS shared
  FROM mem
)
SELECT vocab_a, vocab_b, born, died, shared,
  (CASE WHEN vocab_b > 0 THEN (born * 1000000) // vocab_b
        ELSE 0 END)::bigint AS churn_ppm
FROM agg
"""


def q_lm_greedy_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy bigram argmax decode (textops.lm_greedy_decode), 8 steps
    from the modal token — ties lexicographic, dead ends null-pad."""
    return textops.lm_greedy_decode(_docs(spark, sf_dir), steps=8)


def _sql_lm_greedy_decode(steps: int = 8) -> str:
    prev = "s1"
    chain = []
    for i in range(2, steps + 1):
        chain.append(
            f"s{i} AS (SELECT {i}::bigint AS step, "
            f"(SELECT w2 FROM bg WHERE w1 = {prev}.token "
            f"ORDER BY c DESC, w2 LIMIT 1) AS token FROM {prev})"
        )
        prev = f"s{i}"
    union = "\nUNION ALL ".join(
        f"SELECT step, token FROM s{i}" for i in range(1, steps + 1)
    )
    chain_sql = ",\n".join(chain)
    return f"""
WITH toks AS (SELECT {_TOKS} AS t FROM documents),
uni AS (SELECT unnest(t) AS w FROM toks),
start AS (SELECT w FROM uni GROUP BY w ORDER BY count(*) DESC, w LIMIT 1),
bg AS (
  SELECT w1, w2, count(*)::bigint AS c FROM (
    SELECT unnest(list_slice(t, 1, len(t) - 1)) AS w1,
           unnest(list_slice(t, 2, len(t))) AS w2
    FROM toks WHERE len(t) >= 2
  ) GROUP BY 1, 2
),
s1 AS (SELECT 1::bigint AS step, w AS token FROM start),
{chain_sql}
SELECT step, token FROM ({union}) ORDER BY step
"""


# ---------------------------------------------------------------------------
# novelty_curve / heaps_law (round-4 session-14)
# ---------------------------------------------------------------------------


def q_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diminishing-returns novelty curve (textops.novelty_curve):
    new shingle types per log2 position bucket — type births from one
    groupBy(shingle) min, never a sequential scan."""
    return textops.novelty_curve(_docs(spark, sf_dir), k=3)


def _sql_novelty_curve() -> str:
    from .dedup_olap import _SHINGLES_SQL

    return f"""
WITH t AS (SELECT doc_id::bigint AS doc, {_TOKS} AS toks FROM documents),
sh AS (SELECT doc, unnest({_SHINGLES_SQL}) AS s FROM t),
per_doc AS (SELECT doc, count(*)::bigint AS td FROM sh GROUP BY doc),
births AS (
  SELECT doc, count(*)::bigint AS tn FROM (
    SELECT s, min(doc) AS doc FROM sh GROUP BY s
  ) GROUP BY doc
),
pb AS (
  SELECT length(bin(doc + 1)) AS bucket, td, coalesce(tn, 0) AS tn
  FROM per_doc LEFT JOIN births USING (doc)
),
g AS (
  SELECT bucket::bigint AS bucket, count(*)::bigint AS n_docs,
    sum(td)::bigint AS types_seen, sum(tn)::bigint AS types_new
  FROM pb GROUP BY 1
)
SELECT bucket, n_docs, types_seen, types_new,
  sum(types_new) OVER (ORDER BY bucket
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::bigint AS types_cum,
  ((types_new * 1000000) // types_seen)::bigint AS novelty_ppm
FROM g ORDER BY bucket
"""


def q_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth (textops.heaps_law) from nested
    trailing-zero hash subsamples — the whole curve from one scan."""
    return textops.heaps_law(_docs(spark, sf_dir), levels=6)


def _sql_heaps_law(levels: int = 6) -> str:
    ladder = " ".join(
        f"WHEN hb % {1 << j} = 0 THEN {j}"
        for j in range(levels, 0, -1)
    )
    lvls = list(range(levels + 1))
    denoms = [1 << lv for lv in lvls]
    return f"""
WITH d AS (
  SELECT ('0x' || substr(md5('hl|' || doc_id::varchar), 1, 15))::bigint
    % {1 << levels} AS hb, {_TOKS} AS toks
  FROM documents
),
base AS (
  SELECT CASE {ladder} ELSE 0 END AS kd, toks FROM d
),
toks2 AS (SELECT kd, unnest(toks) AS t FROM base),
td AS (
  SELECT tk, count(*)::bigint AS v
  FROM (SELECT t, max(kd) AS tk FROM toks2 GROUP BY t) GROUP BY tk
),
cd AS (
  SELECT kd, count(*)::bigint AS dn, sum(len(toks))::bigint AS tok
  FROM base GROUP BY kd
),
lv AS (SELECT unnest({lvls}) AS level, unnest({denoms}) AS denom)
SELECT level::bigint AS level, denom::bigint AS denom,
  coalesce((SELECT sum(dn) FROM cd WHERE kd >= level), 0)::bigint
    AS n_docs,
  coalesce((SELECT sum(tok) FROM cd WHERE kd >= level), 0)::bigint
    AS n_tokens,
  coalesce((SELECT sum(v) FROM td WHERE tk >= level), 0)::bigint AS vocab
FROM lv ORDER BY level
"""


# ---------------------------------------------------------------------------
# good_turing (round-4 session-15)
# ---------------------------------------------------------------------------


def q_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good–Turing counts-of-counts + smoothed r* for the unigram head
    over 3-word shingles (textops.good_turing) — all-integer truncating
    division, self-join on the bounded distribution table."""
    return textops.good_turing(_docs(spark, sf_dir), max_r=10, shingle_k=3)


_SQL_GOOD_TURING = f"""
WITH t AS (
  SELECT {_TOKS} AS toks FROM documents WHERE trim(text) <> ''
),
sh AS (
  SELECT array_to_string(toks[j:j+2], ' ') AS token
  FROM t, unnest(generate_series(1, len(toks) - 2)) AS u(j)
),
types AS (SELECT token, count(*)::bigint AS r FROM sh GROUP BY token),
dist AS (SELECT r, count(*)::bigint AS n_r FROM types GROUP BY r)
SELECT d.r::bigint AS r, d.n_r AS n_r,
  coalesce(nx.n_r, 0)::bigint AS n_r_next,
  (((d.r + 1) * coalesce(nx.n_r, 0) * 1000000) // d.n_r)::bigint
    AS r_star_micro
FROM dist d LEFT JOIN dist nx ON nx.r = d.r + 1
WHERE d.r <= 10 ORDER BY d.r
"""


# ---------------------------------------------------------------------------
# mlm_mask_plan (round-4 session-15)
# ---------------------------------------------------------------------------


def q_mlm_mask_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed-stable BERT-style 15% / 80-10-10 masking plan per document
    (textops.mlm_mask_plan) — positions explode as ints, token strings
    never leave the scan; md5-bijection hashes shared with the oracle."""
    return textops.mlm_mask_plan(_docs(spark, sf_dir))


_SQL_MLM_MASK_PLAN = f"""
WITH t AS (
  SELECT doc_id::bigint AS doc_id, len({_TOKS})::bigint AS n
  FROM documents WHERE trim(text) <> ''
),
pos AS (
  SELECT doc_id, n, unnest(generate_series(1, n)) AS j
  FROM t WHERE n >= 1
),
h AS (
  SELECT doc_id, n,
    CASE WHEN ('0x' || substr(
        md5('mlm|' || doc_id::varchar || '|' || j::varchar), 1, 15)
      )::bigint % 20 < 3 THEN 1 ELSE 0 END AS sel,
    ('0x' || substr(
        md5('act|' || doc_id::varchar || '|' || j::varchar), 1, 15)
    )::bigint % 10 AS act
  FROM pos
)
SELECT doc_id, max(n)::bigint AS n_tokens,
  sum(sel)::bigint AS n_masked,
  sum(CASE WHEN sel = 1 AND act < 8 THEN 1 ELSE 0 END)::bigint AS n_mask,
  sum(CASE WHEN sel = 1 AND act = 8 THEN 1 ELSE 0 END)::bigint AS n_keep,
  sum(CASE WHEN sel = 1 AND act = 9 THEN 1 ELSE 0 END)::bigint AS n_random
FROM h GROUP BY doc_id ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# symspell_variants / hapax_share (round-4 session-15)
# ---------------------------------------------------------------------------


def q_symspell_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SymSpell deletion-join typo mining (textops.symspell_variants):
    the corpus vocabulary plus deterministic 3rd-char-deletion typos,
    paired by shared 0/1-deletion variants and verified with exact
    levenshtein — never an all-pairs matrix."""
    toks = (
        _docs(spark, sf_dir)
        .select(
            F.explode(
                textops.ws_tokens(F.lower(F.col("text")))
            ).alias("token")
        )
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("n"))
    )
    typos = toks.where(F.length("token") >= 5).select(
        F.concat(
            F.substring("token", 1, 2), F.expr("substring(token, 4)")
        ).alias("token"),
        F.lit(1).cast("long").alias("n"),
    )
    vocab = (
        toks.unionByName(typos)
        .groupBy("token")
        .agg(F.sum("n").cast("long").alias("n"))
    )
    return textops.symspell_variants(vocab)


_SQL_SYMSPELL_VARIANTS = f"""
WITH tk AS (
  SELECT unnest({_TOKS}) AS token FROM documents WHERE trim(text) <> ''
),
base AS (SELECT token, count(*)::bigint AS n FROM tk GROUP BY token),
typo AS (
  SELECT substr(token, 1, 2) || substr(token, 4) AS token, 1::bigint AS n
  FROM base WHERE length(token) >= 5
),
vocab AS (
  SELECT token, sum(n)::bigint AS n
  FROM (SELECT * FROM base UNION ALL SELECT * FROM typo) GROUP BY token
),
var AS (
  SELECT token, n,
    CASE WHEN j = 0 THEN token
         ELSE substr(token, 1, j - 1) || substr(token, j + 1) END AS key
  FROM vocab, unnest(generate_series(0, length(token))) AS u(j)
),
cand AS (
  SELECT DISTINCT a.token AS tok_a, b.token AS tok_b,
    a.n AS n_a, b.n AS n_b
  FROM var a JOIN var b ON a.key = b.key AND a.token < b.token
)
SELECT tok_a, tok_b, n_a, n_b FROM cand
WHERE levenshtein(tok_a, tok_b) = 1
ORDER BY tok_a, tok_b
"""


def q_hapax_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source hapax-legomena share over 3-word shingles
    (textops.hapax_share) — the grouped vocabulary-tail gauge."""
    return textops.hapax_share(_docs(spark, sf_dir), "source", shingle_k=3)


_SQL_HAPAX_SHARE = f"""
WITH t AS (
  SELECT source, {_TOKS} AS toks FROM documents WHERE trim(text) <> ''
),
sh AS (
  SELECT source, array_to_string(toks[j:j+2], ' ') AS s
  FROM t, unnest(generate_series(1, len(toks) - 2)) AS u(j)
),
types AS (
  SELECT source, s, count(*)::bigint AS r FROM sh GROUP BY source, s
),
per AS (
  SELECT source, count(*)::bigint AS n_types,
    sum(CASE WHEN r = 1 THEN 1 ELSE 0 END)::bigint AS n_hapax
  FROM types GROUP BY source
)
SELECT source, n_types, n_hapax,
  ((n_hapax * 1000000) // n_types)::bigint AS hapax_micro
FROM per ORDER BY source
"""


# ---------------------------------------------------------------------------
# burrows_delta (round-4 session-15)
# ---------------------------------------------------------------------------


def q_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta stylometric distance between sources over the
    corpus top-10 terms (textops.burrows_delta) — truncated-integer
    relative frequencies, exact moments, pinned-double z-scores,
    6-dp-rounded |Δz| decimal sums."""
    return textops.burrows_delta(_docs(spark, sf_dir), "source", k=10)


_SQL_BURROWS_DELTA = f"""
WITH tk AS (
  SELECT source AS g, unnest({_TOKS}) AS token
  FROM documents WHERE trim(text) <> ''
),
cst AS (SELECT g, token, count(*)::bigint AS c FROM tk GROUP BY g, token),
ns AS (SELECT g, sum(c)::bigint AS n_g FROM cst GROUP BY g),
topk AS (
  SELECT token FROM (
    SELECT token, sum(c)::bigint AS ct FROM cst GROUP BY token
  ) ORDER BY ct DESC, token ASC LIMIT 10
),
grid AS (SELECT ns.g, ns.n_g, topk.token FROM ns CROSS JOIN topk),
f AS (
  SELECT grid.g, grid.token,
    (coalesce(cst.c, 0) * 1000000000) // grid.n_g AS f
  FROM grid LEFT JOIN cst
    ON cst.g = grid.g AND cst.token = grid.token
),
mom AS (
  SELECT token, count(*)::bigint AS s, sum(f)::bigint AS sf,
    sum(f::hugeint * f) AS sff
  FROM f GROUP BY token
),
z AS (
  SELECT f.g, f.token,
    CASE WHEN mom.s * sff::double - sf::double * sf::double > 0
    THEN (mom.s::double * f::double - sf::double)
         / sqrt(mom.s::double * sff::double - sf::double * sf::double)
    ELSE 0.0::double END AS z
  FROM f JOIN mom ON f.token = mom.token
),
pairs AS (
  SELECT a.g AS src_a, b.g AS src_b,
    sum(round(abs(a.z - b.z), 6)::decimal(18,6)) AS sd,
    count(*)::bigint AS kk
  FROM z a JOIN z b ON a.token = b.token AND a.g < b.g
  GROUP BY 1, 2
)
SELECT src_a, src_b,
  floor(sd::double / kk::double * 1000000)::bigint AS delta_micro
FROM pairs ORDER BY src_a, src_b
"""


# ---------------------------------------------------------------------------
# chao1_richness (round-4 session-15)
# ---------------------------------------------------------------------------


def q_chao1_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chao1 unseen-species richness over 3-word shingles
    (textops.chao1_richness) — bias-corrected N1/N2 form; the observed
    term stays an exact bigint, the correction divides pinned."""
    return textops.chao1_richness(_docs(spark, sf_dir), shingle_k=3)


_SQL_CHAO1_RICHNESS = f"""
WITH t AS (
  SELECT {_TOKS} AS toks FROM documents WHERE trim(text) <> ''
),
sh AS (
  SELECT array_to_string(toks[j:j+2], ' ') AS t
  FROM t, unnest(generate_series(1, len(toks) - 2)) AS u(j)
),
types AS (SELECT t, count(*)::bigint AS r FROM sh GROUP BY t),
d AS (
  SELECT count(*)::bigint AS s_obs,
    sum(CASE WHEN r = 1 THEN 1 ELSE 0 END)::bigint AS n1,
    sum(CASE WHEN r = 2 THEN 1 ELSE 0 END)::bigint AS n2
  FROM types
)
SELECT s_obs, n1, n2,
  (s_obs * 1000000
   + floor(n1::double * (n1::double - 1.0::double)
           / (2.0::double * (n2::double + 1.0::double))
           * 1000000)::bigint)::bigint AS chao1_micro
FROM d
"""


# ---------------------------------------------------------------------------
# rocchio_expansion
# ---------------------------------------------------------------------------

_ROCCHIO_TERMS = ["data", "merge", "spark", "window"]


def q_rocchio_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rocchio pseudo-relevance feedback (textops.rocchio_expansion):
    docs matching >= 2 distinct query terms form the pseudo-relevant set;
    expansion terms ranked by all-integer total tf inside it."""
    return textops.rocchio_expansion(
        _docs(spark, sf_dir), _ROCCHIO_TERMS, min_hits=2, top_n=15
    )


_SQL_ROCCHIO_EXPANSION = """
WITH toks AS (
  SELECT doc_id, unnest({toks}) AS token FROM documents
),
rel AS (
  SELECT doc_id FROM toks WHERE token IN ({q})
  GROUP BY doc_id HAVING count(DISTINCT token) >= 2
),
sc AS (
  SELECT token, count(*)::bigint AS score
  FROM toks JOIN rel USING (doc_id)
  WHERE token NOT IN ({q}) AND token NOT IN ({stop})
  GROUP BY token
),
top AS (SELECT token, score FROM sc ORDER BY score DESC, token LIMIT 15)
SELECT token, score,
  row_number() OVER (ORDER BY score DESC, token)::bigint AS rank
FROM top
""".format(
    toks=_TOKS,
    q=", ".join(f"'{t}'" for t in _ROCCHIO_TERMS),
    stop=", ".join(f"'{w}'" for w in STOPWORDS),
)


# ---------------------------------------------------------------------------
# coverage_curve
# ---------------------------------------------------------------------------


def q_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve (textops.coverage_curve): exact length
    deciles from the bounded value distribution; each bucket reports the
    NEW terms it contributes and the cumulative vocabulary share. A
    per-doc marker token rides along so the long-tail (hapax) half of a
    real vocabulary is represented — the shared demo vocab alone
    saturates in the first decile."""
    from ..operators.textops import coverage_curve

    docs = _docs(spark, sf_dir).select(
        "n_chars",
        F.concat(
            F.col("text"), F.lit(" uniq"), F.col("doc_id").cast("string")
        ).alias("text"),
    )
    return coverage_curve(docs, n_buckets=10)


_SQL_COVERAGE_CURVE = f"""
WITH nn AS (SELECT count(*)::bigint AS n FROM documents),
dist AS (SELECT n_chars AS val, count(*)::bigint AS cnt
         FROM documents GROUP BY 1),
cum AS (SELECT val, sum(cnt) OVER (ORDER BY val) AS c FROM dist),
th AS (
  SELECT d AS bucket, min(val) AS t
  FROM cum CROSS JOIN (SELECT unnest(range(1, 11)) AS d) u CROSS JOIN nn
  WHERE c >= (d * nn.n + 9) // 10 GROUP BY d
),
tm AS (
  SELECT token, min(n_chars) AS mn
  FROM (
    SELECT n_chars,
      unnest(regexp_split_to_array(
        trim(lower(text || ' uniq' || doc_id::varchar)), '\\s+')) AS token
    FROM documents
  )
  GROUP BY token
),
td AS (
  SELECT token, min(bucket) AS bucket
  FROM tm JOIN th ON tm.mn <= th.t GROUP BY token
),
per AS (SELECT bucket, count(*)::bigint AS n_new_terms FROM td GROUP BY bucket),
tot AS (SELECT count(*)::bigint AS v FROM td)
SELECT bucket::bigint AS bucket, n_new_terms,
  sum(n_new_terms) OVER (ORDER BY bucket)::bigint AS cum_terms,
  floor(sum(n_new_terms) OVER (ORDER BY bucket) * 1000000 / tot.v)::bigint
    AS cum_share_ppm
FROM per CROSS JOIN tot
"""


# ---------------------------------------------------------------------------
# index_pruning
# ---------------------------------------------------------------------------


def q_index_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static index pruning census (textops.index_pruning): per-term
    postings survival when each doc keeps only its top-3 tf terms; the
    lone window partitions by document (bounded by doc vocabulary)."""
    from ..operators.textops import index_pruning

    return index_pruning(_docs(spark, sf_dir), keep_k=3, min_df=5)


_SQL_INDEX_PRUNING = f"""
WITH tf AS (
  SELECT doc_id, token, count(*) AS tf
  FROM (SELECT doc_id, unnest({_TOKS}) AS token FROM documents)
  GROUP BY 1, 2
),
fl AS (
  SELECT token,
    CASE WHEN row_number()
           OVER (PARTITION BY doc_id ORDER BY tf DESC, token) <= 3
         THEN 1 ELSE 0 END AS keep
  FROM tf
)
SELECT token, count(*)::bigint AS df_full, sum(keep)::bigint AS df_pruned,
  floor(sum(keep) * 1000000 / count(*))::bigint AS kept_ppm
FROM fl GROUP BY token HAVING count(*) >= 5
"""


# ---------------------------------------------------------------------------
# greedy_cover
# ---------------------------------------------------------------------------


def q_greedy_cover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coverage-greedy subset selection (textops.greedy_cover): 5 rounds
    of pick-the-doc-adding-most-new-terms, ties by doc_id — the eval-set
    spanning selection; oracle is the same greedy unrolled in SQL. A
    per-doc marker token rides along (real vocabularies have hapax
    tails; the shared demo vocab alone is exhausted by one pick)."""
    from ..operators.textops import greedy_cover

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" uniq"), F.col("doc_id").cast("string")
        ).alias("text"),
    )
    return greedy_cover(docs, rounds=5)


def _sql_greedy_cover(rounds: int = 5) -> str:
    marked = (
        "regexp_split_to_array("
        "trim(lower(text || ' uniq' || doc_id::varchar)), '\\s+')"
    )
    parts = [
        "WITH tok AS (SELECT DISTINCT doc_id, token FROM "
        f"(SELECT doc_id, unnest({marked}) AS token FROM documents))"
    ]
    prev = "tok"
    picks = []
    for r in range(1, rounds + 1):
        parts.append(
            f""",
g{r} AS (SELECT doc_id, count(*)::bigint AS gain FROM {prev} GROUP BY doc_id),
p{r} AS (SELECT doc_id, gain FROM g{r} ORDER BY gain DESC, doc_id LIMIT 1),
c{r} AS (SELECT token FROM {prev} JOIN p{r} USING (doc_id)),
u{r} AS (SELECT t.doc_id, t.token FROM {prev} t
         WHERE t.token NOT IN (SELECT token FROM c{r}))"""
        )
        picks.append(f"SELECT {r} AS round, doc_id, gain FROM p{r}")
        prev = f"u{r}"
    union = " UNION ALL ".join(picks)
    return (
        "".join(parts)
        + f""",
picks AS ({union})
SELECT round::bigint AS round, doc_id, gain AS new_terms,
  sum(gain) OVER (ORDER BY round)::bigint AS cum_terms
FROM picks
"""
    )


# ---------------------------------------------------------------------------
# dehyphenate
# ---------------------------------------------------------------------------


def q_dehyphenate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyphenation repair (textops.dehyphenate) over deterministically
    line-broken text: every lowercase-letter word boundary becomes a
    '-\\n' break, and the kernel must rejoin all of them (n_joins equals
    the breaks planted)."""
    from ..operators.textops import dehyphenate

    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.regexp_replace(
            F.col("text"), "([a-z]) ([a-z])", "$1-\n$2"
        ).alias("text"),
    )
    return dehyphenate(d)


_SQL_DEHYPHENATE = """
WITH b AS (
  SELECT doc_id,
    regexp_replace(text, '([a-z]) ([a-z])',
                   '\\1-' || chr(10) || '\\2', 'g') AS broken
  FROM documents
),
f AS (
  SELECT doc_id, broken,
    regexp_replace(broken, '([a-z])-' || chr(10) || '([a-z])',
                   '\\1\\2', 'g') AS text_fixed
  FROM b
)
SELECT doc_id, text_fixed,
  ((length(broken) - length(text_fixed)) / 2)::bigint AS n_joins
FROM f
"""


def q_split_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation (textops.split_sentences) over the real
    corpus text with punctuation injected by four literal replaces
    ('merge'->'end.', 'window'->'huh?', 'scan'->'Dr.', 'batch'->'No. 7')
    so terminal runs, question/exclamation breaks and abbreviation
    merges all occur naturally per document. The oracle runs the SAME
    injection and an independent SQL reimplementation of the split
    (fragments + exclusive running end-count + ordered reassembly) —
    the fragment regex is RE2-compatible by construction."""
    deco = F.col("text")
    for pat, rep in (
        ("merge", "end."),
        ("window", "huh?"),
        ("scan", "Dr."),
        ("batch", "No. 7"),
    ):
        deco = F.replace(deco, F.lit(pat), F.lit(rep))
    return textops.split_sentences(
        _docs(spark, sf_dir).select("doc_id", deco.alias("text"))
    )


_SQL_SPLIT_SENTENCES = r"""
WITH deco AS (
  SELECT doc_id,
    replace(replace(replace(replace(text,
      'merge', 'end.'), 'window', 'huh?'), 'scan', 'Dr.'),
      'batch', 'No. 7') AS text
  FROM documents
), fr AS (
  SELECT doc_id,
    unnest(regexp_extract_all(text, '[^.!?]*[.!?]+|[^.!?]+$')) AS frag,
    unnest(range(len(regexp_extract_all(text, '[^.!?]*[.!?]+|[^.!?]+$'))))
      ::bigint AS pos
  FROM deco
), flags AS (
  SELECT doc_id, pos, frag,
    (regexp_matches(frag, '[.!?]$') AND NOT regexp_matches(frag,
      '(^|[\s.])(Dr|Mr|Mrs|Ms|Prof|St|No|Fig|vs|etc|Jr|Sr)\.$'))::int AS is_end
  FROM fr
), sids AS (
  SELECT doc_id, pos, frag,
    coalesce(SUM(is_end) OVER (PARTITION BY doc_id ORDER BY pos
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS sent_idx
  FROM flags
), asm AS (
  SELECT doc_id, sent_idx::bigint AS sent_idx,
    trim(regexp_replace(string_agg(frag, '' ORDER BY pos), '\s+', ' ', 'g'))
      AS sentence
  FROM sids GROUP BY doc_id, sent_idx
)
SELECT doc_id, sent_idx, sentence, length(sentence)::bigint AS n_chars
FROM asm WHERE sentence <> ''
"""


def q_wordpiece_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece-style greedy longest-match segmentation
    (textops.wordpiece_segment) of the corpus's distinct-word table:
    seed pieces = all substrings len<=4 weighted by word frequency, top
    40 multi-char by (count, piece) + all single chars (no UNK). The
    oracle re-derives the seed ranking and replays the greedy scan as a
    12-step unrolled MATERIALIZED-CTE chain — a fully independent SQL
    reimplementation, no float anywhere."""
    return textops.wordpiece_segment(_docs(spark, sf_dir))


def q_wordpiece_usage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-weighted piece usage of the wordpiece segmentation —
    the trained-artifact view: (piece, usage, n_words); usage sums word
    frequencies per occurrence (a piece used twice in one word counts
    twice), n_words counts distinct words using the piece."""
    seg = textops.wordpiece_segment(_docs(spark, sf_dir))
    ex = seg.select(
        "word", "n", F.explode(F.split("segmentation", " ")).alias("piece")
    )
    return ex.groupBy("piece").agg(
        F.sum("n").alias("usage"),
        F.countDistinct("word").alias("n_words"),
    )


def _wordpiece_seg_cte() -> str:
    """Shared oracle CTE chain ending in seg12 (completed segmentations).

    Each step consumes >=1 char via max_by(piece, len) longest-match;
    MATERIALIZED stops DuckDB inlining the doubly-referenced step CTEs
    (exponential blowup otherwise). 12 steps cover words to length 12 —
    the corpus vocabulary maxes at 8 ('customer')."""
    toks = "regexp_split_to_array(trim(lower(text)), '\\s+')"
    steps = []
    prev = "seg0"
    for k in range(1, 13):
        cur = f"seg{k}"
        steps.append(f"""
{cur} AS MATERIALIZED (
  SELECT word, n, pos + len(best) AS pos,
    CASE WHEN pieces = '' THEN best ELSE pieces || ' ' || best END AS pieces
  FROM (
    SELECT s.word, s.n, s.pos, s.pieces,
      max_by(v.piece, len(v.piece)) AS best
    FROM {prev} s JOIN vocab v
      ON v.piece = substr(s.word, s.pos::int, len(v.piece))
    WHERE s.pos <= len(s.word)
    GROUP BY s.word, s.n, s.pos, s.pieces
  )
  UNION ALL
  SELECT word, n, pos, pieces FROM {prev} WHERE pos > len(word)
)""")
        prev = cur
    return f"""
WITH words AS MATERIALIZED (
  SELECT w AS word, count(*)::bigint AS n
  FROM (SELECT unnest({toks}) AS w FROM documents)
  WHERE w <> '' GROUP BY 1
),
cand AS (
  SELECT unnest(flatten(list_transform(range(1, len(word)+1), s ->
    list_transform(range(1, 5), l ->
      CASE WHEN s + l <= len(word) + 1
           THEN substr(word, s::int, l::int) END)))) AS piece,
    n
  FROM words
),
cnts AS MATERIALIZED (
  SELECT piece, sum(n)::bigint AS cnt FROM cand
  WHERE piece IS NOT NULL GROUP BY 1
),
vocab AS MATERIALIZED (
  SELECT piece FROM (
    SELECT piece, cnt FROM cnts WHERE len(piece) >= 2
    ORDER BY cnt DESC, piece LIMIT 40
  )
  UNION
  SELECT piece FROM cnts WHERE len(piece) = 1
),
seg0 AS (SELECT word, n, 1::bigint AS pos, '' AS pieces FROM words),
{','.join(steps)}"""


def _sql_wordpiece_segments() -> str:
    return (
        _wordpiece_seg_cte()
        + """
SELECT word, n, pieces AS segmentation,
  len(string_split(pieces, ' '))::bigint AS n_pieces
FROM seg12
"""
    )


def _sql_wordpiece_usage() -> str:
    return (
        _wordpiece_seg_cte()
        + """
SELECT piece, sum(n)::bigint AS usage,
  count(DISTINCT word)::bigint AS n_words
FROM (SELECT word, n, unnest(string_split(pieces, ' ')) AS piece FROM seg12)
GROUP BY piece
"""
    )


def q_wordpiece_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus fertility of the wordpiece tokenizer (pieces per token,
    frequency-weighted) — the quality gauge that decides whether the
    seed vocabulary is worth keeping (fertility near 1 = whole words
    survive; near word length = vocabulary too small). Integer-exact:
    micro-units via floor, the float-portability discipline."""
    seg = textops.wordpiece_segment(_docs(spark, sf_dir))
    tot = seg.agg(
        F.sum(F.col("n") * F.col("n_pieces")).alias("pieces"),
        F.sum("n").alias("tokens"),
    )
    return tot.select(
        F.col("pieces").cast("long").alias("total_pieces"),
        F.col("tokens").cast("long").alias("total_tokens"),
        F.floor(F.col("pieces") * 1000000 / F.col("tokens"))
        .cast("long")
        .alias("fertility_micro"),
    )


def _sql_wordpiece_fertility() -> str:
    return (
        _wordpiece_seg_cte()
        + """
SELECT sum(n * n_pieces)::bigint AS total_pieces,
  sum(n)::bigint AS total_tokens,
  floor(sum(n * n_pieces) * 1000000 / sum(n))::bigint AS fertility_micro
FROM (
  SELECT n, len(string_split(pieces, ' '))::bigint AS n_pieces FROM seg12
)
"""
    )


# ---------------------------------------------------------------------------
# unigram_segments / unigram_fertility (round-4 session-20)
# ---------------------------------------------------------------------------


def q_unigram_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM Viterbi segmentation (textops.unigram_segment) of the
    distinct-word table — the SentencePiece-inference member of the
    tokenizer triad (BPE trains merges, WordPiece matches greedily,
    unigram maximizes total piece score). The oracle re-derives the
    scored vocabulary and replays the Viterbi DP as a 12-step unrolled
    MATERIALIZED-CTE frontier expansion — integer arithmetic throughout
    (the 64·score − 1 combined objective)."""
    return textops.unigram_segment(_docs(spark, sf_dir))


def q_unigram_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus fertility + mean Viterbi score of the unigram tokenizer —
    the vocabulary-quality gauge read before adopting the vocab. By
    construction the Viterbi TOTAL SCORE dominates any other
    segmentation of the same word under the same vocab -- the greedy
    (WordPiece) one included; fertility may go either way (test-pinned
    score dominance in tests/test_operators.py)."""
    seg = textops.unigram_segment(_docs(spark, sf_dir))
    tot = seg.agg(
        F.sum(F.col("n") * F.col("n_pieces")).alias("pieces"),
        F.sum("n").alias("tokens"),
        F.sum(F.col("n") * F.col("best_micro")).alias("score"),
    )
    return tot.select(
        F.col("pieces").cast("long").alias("total_pieces"),
        F.col("tokens").cast("long").alias("total_tokens"),
        F.floor(F.col("pieces") * 1000000 / F.col("tokens"))
        .cast("long")
        .alias("fertility_micro"),
        F.floor(F.col("score") / F.col("tokens"))
        .cast("long")
        .alias("mean_score_micro"),
    )


def _unigram_seg_cte() -> str:
    """Shared oracle CTE chain ending in u12 (Viterbi frontier, done).

    Frontier expansion by piece count: step k holds, per (word, pos),
    the max combined value v over segment-prefixes of exactly k pieces
    (finished words carried and re-merged at pos = len+1). 12 steps
    cover words to length 12 — the corpus vocabulary maxes at 8."""
    toks = "regexp_split_to_array(trim(lower(text)), '\\s+')"
    steps = []
    prev = "u0"
    for k in range(1, 13):
        cur = f"u{k}"
        steps.append(f"""
{cur} AS MATERIALIZED (
  SELECT word, n, pos, max(v)::bigint AS v FROM (
    SELECT s.word, s.n, s.pos + len(c.piece) AS pos,
      s.v + 64 * c.score - 1 AS v
    FROM {prev} s JOIN vsc c
      ON c.piece = substr(s.word, s.pos::int, len(c.piece))
    WHERE s.pos <= len(s.word)
    UNION ALL
    SELECT word, n, pos, v FROM {prev} WHERE pos > len(word)
  ) GROUP BY word, n, pos
)""")
        prev = cur
    return f"""
WITH words AS MATERIALIZED (
  SELECT w AS word, count(*)::bigint AS n
  FROM (SELECT unnest({toks}) AS w FROM documents)
  WHERE w <> '' GROUP BY 1
),
cand AS (
  SELECT unnest(flatten(list_transform(range(1, len(word)+1), s ->
    list_transform(range(1, 5), l ->
      CASE WHEN s + l <= len(word) + 1
           THEN substr(word, s::int, l::int) END)))) AS piece,
    n
  FROM words
),
cnts AS MATERIALIZED (
  SELECT piece, sum(n)::bigint AS cnt FROM cand
  WHERE piece IS NOT NULL GROUP BY 1
),
vocab AS MATERIALIZED (
  SELECT piece, cnt FROM (
    SELECT piece, cnt FROM cnts WHERE len(piece) >= 2
    ORDER BY cnt DESC, piece LIMIT 40
  )
  UNION
  SELECT piece, cnt FROM cnts WHERE len(piece) = 1
),
tot AS (SELECT sum(cnt)::bigint AS t FROM vocab),
vsc AS MATERIALIZED (
  SELECT piece,
    (floor(round(ln(cnt::double), 6) * 1000000)::bigint
     - floor(round(ln(t::double), 6) * 1000000)::bigint) AS score
  FROM vocab, tot
),
u0 AS (SELECT word, n, 1::bigint AS pos, 0::bigint AS v FROM words),
{','.join(steps)},
useg AS (
  SELECT word, n, max(v)::bigint AS v
  FROM u12 WHERE pos > len(word) GROUP BY word, n
)"""


def _sql_unigram_segments() -> str:
    return (
        _unigram_seg_cte()
        + """
SELECT word, n, ((-v) % 64)::bigint AS n_pieces,
  ((v + (-v) % 64) // 64)::bigint AS best_micro
FROM useg
"""
    )


def _sql_unigram_fertility() -> str:
    return (
        _unigram_seg_cte()
        + """
SELECT sum(n * ((-v) % 64))::bigint AS total_pieces,
  sum(n)::bigint AS total_tokens,
  floor(sum(n * ((-v) % 64)) * 1000000 / sum(n))::bigint AS fertility_micro,
  floor(sum(n * ((v + (-v) % 64) // 64))::double / sum(n)::double)::bigint
    AS mean_score_micro
FROM useg
"""
    )


# ---------------------------------------------------------------------------
# sentence_dedup (round-4 session-20)
# ---------------------------------------------------------------------------


def q_sentence_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-grain boilerplate dedup (textops.sentence_dedup): each
    doc's text gains a global boilerplate tail ('Subscribe now.',
    appears in every doc) and a per-source courtesy line (25 docs each)
    — both must drop at min_docs=2 while the unique content sentence
    survives; kept_fp byte-checks the survivors in order."""
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(". Subscribe now. Courtesy of "),
            F.col("source"),
            F.lit("."),
        ).alias("text"),
    )
    return textops.sentence_dedup(d)


_SQL_SENTENCE_DEDUP = r"""
WITH deco AS (
  SELECT doc_id,
    text || '. Subscribe now. Courtesy of ' || source || '.' AS text
  FROM documents
), fr AS (
  SELECT doc_id,
    unnest(regexp_extract_all(text, '[^.!?]*[.!?]+|[^.!?]+$')) AS frag,
    unnest(range(len(regexp_extract_all(text, '[^.!?]*[.!?]+|[^.!?]+$'))))
      ::bigint AS pos
  FROM deco
), flags AS (
  SELECT doc_id, pos, frag,
    (regexp_matches(frag, '[.!?]$') AND NOT regexp_matches(frag,
      '(^|[\s.])(Dr|Mr|Mrs|Ms|Prof|St|No|Fig|vs|etc|Jr|Sr)\.$'))::int AS is_end
  FROM fr
), sids AS (
  SELECT doc_id, pos, frag,
    coalesce(SUM(is_end) OVER (PARTITION BY doc_id ORDER BY pos
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS sent_idx
  FROM flags
), asm AS (
  SELECT doc_id, sent_idx::bigint AS sent_idx,
    trim(regexp_replace(string_agg(frag, '' ORDER BY pos), '\s+', ' ', 'g'))
      AS sentence
  FROM sids GROUP BY doc_id, sent_idx
), sents AS (
  SELECT doc_id, sent_idx, sentence FROM asm WHERE sentence <> ''
), census AS (
  SELECT sentence, count(DISTINCT doc_id)::bigint AS n_docs
  FROM sents GROUP BY sentence
)
SELECT s.doc_id,
  count(*)::bigint AS n_sents,
  sum(CASE WHEN c.n_docs < 2 THEN 1 ELSE 0 END)::bigint AS n_kept,
  md5(coalesce(string_agg(CASE WHEN c.n_docs < 2 THEN s.sentence END,
    chr(10) ORDER BY s.sent_idx), '')) AS kept_fp
FROM sents s JOIN census c ON c.sentence = s.sentence
GROUP BY s.doc_id
"""


# ---------------------------------------------------------------------------
# sentence_chunks (round-4 session-20)
# ---------------------------------------------------------------------------


def q_sentence_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-aligned retrieval chunking (textops.sentence_chunks)
    over the punctuation-decorated corpus (the split_sentences
    injection): 200-char budget spans cut at sentence boundaries —
    chunk_id is a pure cumulative-sum function, so the oracle restates
    it exactly; chunk_fp byte-checks each chunk's sentence content in
    order."""
    deco = F.col("text")
    for pat, rep in (
        ("merge", "end."),
        ("window", "huh?"),
        ("scan", "Dr."),
        ("batch", "No. 7"),
    ):
        deco = F.replace(deco, F.lit(pat), F.lit(rep))
    return textops.sentence_chunks(
        _docs(spark, sf_dir).select("doc_id", deco.alias("text"))
    )


_SQL_SENTENCE_CHUNKS = r"""
WITH deco AS (
  SELECT doc_id,
    replace(replace(replace(replace(text,
      'merge', 'end.'), 'window', 'huh?'), 'scan', 'Dr.'),
      'batch', 'No. 7') AS text
  FROM documents
), fr AS (
  SELECT doc_id,
    unnest(regexp_extract_all(text, '[^.!?]*[.!?]+|[^.!?]+$')) AS frag,
    unnest(range(len(regexp_extract_all(text, '[^.!?]*[.!?]+|[^.!?]+$'))))
      ::bigint AS pos
  FROM deco
), flags AS (
  SELECT doc_id, pos, frag,
    (regexp_matches(frag, '[.!?]$') AND NOT regexp_matches(frag,
      '(^|[\s.])(Dr|Mr|Mrs|Ms|Prof|St|No|Fig|vs|etc|Jr|Sr)\.$'))::int AS is_end
  FROM fr
), sids AS (
  SELECT doc_id, pos, frag,
    coalesce(SUM(is_end) OVER (PARTITION BY doc_id ORDER BY pos
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS sent_idx
  FROM flags
), asm AS (
  SELECT doc_id, sent_idx::bigint AS sent_idx,
    trim(regexp_replace(string_agg(frag, '' ORDER BY pos), '\s+', ' ', 'g'))
      AS sentence
  FROM sids GROUP BY doc_id, sent_idx
), sents AS (
  SELECT doc_id, sent_idx, sentence, length(sentence)::bigint AS n_chars
  FROM asm WHERE sentence <> ''
), ch AS (
  SELECT doc_id, sent_idx, sentence, n_chars,
    (coalesce(SUM(n_chars) OVER (PARTITION BY doc_id ORDER BY sent_idx
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 200)
      ::bigint AS chunk_id
  FROM sents
)
SELECT doc_id, chunk_id,
  count(*)::bigint AS n_sents,
  sum(n_chars)::bigint AS n_chars,
  md5(string_agg(sentence, chr(10) ORDER BY sent_idx)) AS chunk_fp
FROM ch GROUP BY doc_id, chunk_id
"""


# ---------------------------------------------------------------------------
# rag_corpus_pipeline (round-4 session-20 capstone)
# ---------------------------------------------------------------------------


def q_rag_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-corpus capstone: boilerplate-injected docs -> sentence split
    -> cross-doc sentence dedup (min_docs=2) -> sentence-aligned
    200-char chunking of the SURVIVORS -> per-source census — the
    composition that turns a raw crawl into a retrieval corpus, wired
    from the session's sentence_dedup and sentence_chunks machinery
    (same injection, same census key, same budget-span rule).

    Scale shape: split_sentences' one doc-keyed exchange; census
    groupBy on the md5 sentence key; join-back pinned shuffle_hash;
    the chunk window and both per-doc groupBys reuse the doc-keyed
    exchange; final per-source rollup joins docs on doc_id (pinned
    shuffle_hash — corpus-sized both sides).

    Output per source: n_docs, n_sents, n_kept, n_chunks, kept_chars.
    """
    d = _docs(spark, sf_dir).select(
        "doc_id",
        "source",
        F.concat(
            F.col("text"),
            F.lit(". Subscribe now. Courtesy of "),
            F.col("source"),
            F.lit("."),
        ).alias("text"),
    )
    sents = textops.split_sentences(d.select("doc_id", "text")).withColumn(
        "_rp_key", F.md5(F.col("sentence"))
    )
    census = sents.groupBy("_rp_key").agg(
        F.count_distinct("doc_id").cast("long").alias("_rp_docs")
    )
    joined = sents.join(census.hint("shuffle_hash"), "_rp_key")
    kept = joined.where(F.col("_rp_docs") < 2)
    from pyspark.sql import Window as _W

    w = (
        _W.partitionBy("doc_id")
        .orderBy("sent_idx")
        .rowsBetween(_W.unboundedPreceding, -1)
    )
    chunked = kept.withColumn(
        "_rp_chunk",
        (F.coalesce(F.sum("n_chars").over(w), F.lit(0)) / 200).cast("long"),
    )
    per_kept = chunked.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("_rp_nk"),
        F.count_distinct("_rp_chunk").cast("long").alias("_rp_nc"),
        F.sum("n_chars").cast("long").alias("_rp_kc"),
    )
    per_all = sents.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("_rp_ns")
    )
    per_doc = per_all.join(per_kept.hint("shuffle_hash"), "doc_id", "left")
    rolled = (
        per_doc.join(
            d.select("doc_id", "source").hint("shuffle_hash"), "doc_id"
        )
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("_rp_ns").cast("long").alias("n_sents"),
            F.sum(F.coalesce(F.col("_rp_nk"), F.lit(0)))
            .cast("long")
            .alias("n_kept"),
            F.sum(F.coalesce(F.col("_rp_nc"), F.lit(0)))
            .cast("long")
            .alias("n_chunks"),
            F.sum(F.coalesce(F.col("_rp_kc"), F.lit(0)))
            .cast("long")
            .alias("kept_chars"),
        )
    )
    return rolled


_SQL_RAG_CORPUS_PIPELINE = r"""
WITH deco AS (
  SELECT doc_id, source,
    text || '. Subscribe now. Courtesy of ' || source || '.' AS text
  FROM documents
), fr AS (
  SELECT doc_id,
    unnest(regexp_extract_all(text, '[^.!?]*[.!?]+|[^.!?]+$')) AS frag,
    unnest(range(len(regexp_extract_all(text, '[^.!?]*[.!?]+|[^.!?]+$'))))
      ::bigint AS pos
  FROM deco
), flags AS (
  SELECT doc_id, pos, frag,
    (regexp_matches(frag, '[.!?]$') AND NOT regexp_matches(frag,
      '(^|[\s.])(Dr|Mr|Mrs|Ms|Prof|St|No|Fig|vs|etc|Jr|Sr)\.$'))::int AS is_end
  FROM fr
), sids AS (
  SELECT doc_id, pos, frag,
    coalesce(SUM(is_end) OVER (PARTITION BY doc_id ORDER BY pos
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS sent_idx
  FROM flags
), asm AS (
  SELECT doc_id, sent_idx::bigint AS sent_idx,
    trim(regexp_replace(string_agg(frag, '' ORDER BY pos), '\s+', ' ', 'g'))
      AS sentence
  FROM sids GROUP BY doc_id, sent_idx
), sents AS (
  SELECT doc_id, sent_idx, sentence, length(sentence)::bigint AS n_chars
  FROM asm WHERE sentence <> ''
), census AS (
  SELECT sentence, count(DISTINCT doc_id)::bigint AS n_docs
  FROM sents GROUP BY sentence
), kept AS (
  SELECT s.doc_id, s.sent_idx, s.n_chars
  FROM sents s JOIN census c ON c.sentence = s.sentence
  WHERE c.n_docs < 2
), chunked AS (
  SELECT doc_id, sent_idx, n_chars,
    (coalesce(SUM(n_chars) OVER (PARTITION BY doc_id ORDER BY sent_idx
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 200)
      ::bigint AS chunk_id
  FROM kept
), per_kept AS (
  SELECT doc_id, count(*)::bigint AS nk,
    count(DISTINCT chunk_id)::bigint AS nc, sum(n_chars)::bigint AS kc
  FROM chunked GROUP BY doc_id
), per_all AS (
  SELECT doc_id, count(*)::bigint AS ns FROM sents GROUP BY doc_id
)
SELECT d.source,
  count(*)::bigint AS n_docs,
  sum(a.ns)::bigint AS n_sents,
  sum(coalesce(k.nk, 0))::bigint AS n_kept,
  sum(coalesce(k.nc, 0))::bigint AS n_chunks,
  sum(coalesce(k.kc, 0))::bigint AS kept_chars
FROM per_all a
LEFT JOIN per_kept k ON k.doc_id = a.doc_id
JOIN (SELECT DISTINCT doc_id, source FROM documents) d
  ON d.doc_id = a.doc_id
GROUP BY d.source
"""
