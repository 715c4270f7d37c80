"""Registry segment: multimodal stages, streaming, URL/host hygiene."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import multimodal, relational, textops

from .common import (
    _TOKS,
    _docs,
    _utc,
)
from .mining import _SQL_SESSION_WINDOW_AGG
from .relational_web import _SQL_SESSIONIZE_EVENTS, _SQL_WINDOWED_EVENT_COUNTS

# ---------------------------------------------------------------------------
# multimodal + streaming
# ---------------------------------------------------------------------------


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    payloads = _docs(spark, sf_dir).select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    return multimodal.media_features(payloads)


_SQL_MULTIMODAL_FEATURES = """
SELECT doc_id,
  octet_length(encode(text))::bigint AS n_bytes,
  md5(text) AS content_hash,
  (('0x' || substr(md5(text), 1, 4))::integer % 1000)::integer AS fake_width,
  (('0x' || substr(md5(text), 5, 4))::integer % 1000)::integer AS fake_height
FROM documents
"""


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1->N frame sampling over binary payloads (mapInPandas fan-out); on
    ascii payloads each frame hash is a closed-form md5 of a text slice."""
    payloads = _docs(spark, sf_dir).select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    return multimodal.frame_sample(payloads, n_frames=4)


_SQL_MULTIMODAL_FRAMES = """
WITH f AS (
  SELECT doc_id, length(text) AS n, text,
         unnest([0, 1, 2, 3]) AS frame_idx
  FROM documents
)
SELECT doc_id, frame_idx::int AS frame_idx,
  (n // 4 + CASE WHEN frame_idx < (n % 4) THEN 1 ELSE 0 END)::bigint
    AS frame_bytes,
  md5(substr(text,
             (frame_idx * (n // 4) + least(frame_idx, n % 4) + 1)::int,
             (n // 4 + CASE WHEN frame_idx < (n % 4) THEN 1 ELSE 0 END)::int))
    AS frame_hash
FROM f
"""


def q_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming op (applyInPandasWithState + EventTimeTimeout):
    closed sessions emit on gap breaks; each user's final open session emits
    through a real event-time timeout once the sentinel-driven watermark
    passes its deadline (streaming/pipeline.py). Streamed output == batch
    sessionization exactly, so the full _SQL_SESSIONIZE_EVENTS oracle applies."""
    from ..streaming.pipeline import stream_sessionize

    name = "stream_sessions_result"
    sdf = stream_sessionize(spark, f"{sf_dir}/events.parquet", emit_final=True)
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


_SQL_STREAM_SESSIONIZE = _SQL_SESSIONIZE_EVENTS


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup (stateful dropDuplicates): the emitted hash SET
    equals the batch distinct — first-seen semantics, deterministic set."""
    from ..streaming.pipeline import run_stream_to_table, stream_dedup_hashes

    name = "stream_dedup_result"
    sdf = stream_dedup_hashes(spark, f"{sf_dir}/documents.parquet")
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


_SQL_STREAM_DEDUP = (
    "SELECT DISTINCT sha256(text) AS content_hash FROM documents"
)


def q_stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming continuous-ingest dedup: stream-side first-seen dedup +
    anti-join against the static corpus hash set (streaming face of
    incremental_dedup; emitted set equals the batch formulation)."""
    from ..streaming.pipeline import stream_incremental_dedup

    name = "stream_incr_dedup_result"
    corpus = _docs(spark, sf_dir).where(F.col("doc_id") < 400)
    sdf = stream_incremental_dedup(
        spark, f"{sf_dir}/documents.parquet", corpus
    )
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


_SQL_STREAM_INCREMENTAL_DEDUP = """
WITH seen AS (
  SELECT DISTINCT sha256(text) AS content_hash FROM documents
  WHERE doc_id < 400
)
SELECT DISTINCT sha256(text) AS content_hash FROM documents d
WHERE NOT EXISTS (
  SELECT 1 FROM seen s WHERE s.content_hash = sha256(d.text)
)
"""


def q_stream_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.pipeline import run_stream_to_table, stream_windowed_counts

    _utc(spark)
    name = "stream_counts_result"
    sdf = stream_windowed_counts(spark, f"{sf_dir}/events.parquet")
    run_stream_to_table(spark, sdf, name)
    return spark.table(name)


_SQL_STREAM_WINDOWED_COUNTS = _SQL_WINDOWED_EVENT_COUNTS


def q_url_spam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-only spam scoring (urls.url_spam_scores) over a deterministic
    mix of clean and spam-shaped URLs synthesized from documents."""
    from ..operators import urls

    d = _docs(spark, sf_dir)
    did = F.col("doc_id").cast("string")
    url = (
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit("http://best-casino-777-"),
                F.col("source"),
                F.lit(".example.biz/win/big/now?aff=1&id="),
                did,
            ),
        )
        .when(
            F.col("doc_id") % 5 == 1,
            F.concat(
                F.lit("https://"),
                F.col("source"),
                F.lit(".example.org/articles/"),
                F.col("lang"),
                F.lit("/"),
                did,
            ),
        )
        .when(
            F.col("doc_id") % 5 == 2,
            F.concat(
                F.lit("https://cheap-pills-365."),
                F.col("source"),
                F.lit(".info/buy?ref=aa&sid="),
                did,
                F.lit("&track=1"),
            ),
        )
        .when(
            F.col("doc_id") % 5 == 3,
            F.concat(F.lit("https://www."), F.col("source"), F.lit(".example.org/")),
        )
        .otherwise(
            F.concat(
                F.lit("http://"),
                F.col("source"),
                F.lit(".example.com/blog/2024/01/post-"),
                did,
            )
        )
    )
    return urls.url_spam_scores(d.select(url.alias("url")))


def _sql_url_spam() -> str:
    from ..operators.urls import SPAM_KEYWORDS

    kw = " + ".join(
        f"CASE WHEN contains(lower(url), '{k}') THEN 1 ELSE 0 END"
        for k in SPAM_KEYWORDS
    )
    return rf"""
WITH m AS (
  SELECT CASE doc_id % 5
    WHEN 0 THEN 'http://best-casino-777-' || source
                || '.example.biz/win/big/now?aff=1&id=' || doc_id
    WHEN 1 THEN 'https://' || source || '.example.org/articles/' || lang
                || '/' || doc_id
    WHEN 2 THEN 'https://cheap-pills-365.' || source || '.info/buy?ref=aa&sid='
                || doc_id || '&track=1'
    WHEN 3 THEN 'https://www.' || source || '.example.org/'
    ELSE 'http://' || source || '.example.com/blog/2024/01/post-' || doc_id
  END AS url
  FROM documents
),
p AS (
  SELECT url,
    lower(coalesce(regexp_extract(url,
      '^[a-zA-Z][a-zA-Z0-9+.\-]*://([^/?#]+)', 1), '')) AS host,
    coalesce(regexp_extract(url,
      '^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]*([^?#]*)', 1), '') AS path,
    coalesce(regexp_extract(url, '\?([^#]*)', 1), '') AS raw_q
  FROM m
),
f AS (
  SELECT url, host,
    length(host) - length(regexp_replace(host, '[0-9]', '', 'g'))
      AS host_digits,
    length(host) - length(regexp_replace(host, '-', '', 'g'))
      AS host_hyphens,
    len(list_filter(string_split(path, '/'), x -> length(x) > 0))
      AS path_depth,
    len(list_filter(string_split(raw_q, '&'), x -> length(x) > 0))
      AS n_params,
    ({kw}) AS kw_hits
  FROM p
),
s AS (
  SELECT *,
    kw_hits * 40 + host_hyphens * 5 + host_digits * 4 + n_params * 3
      + path_depth * 2
      + CASE WHEN length(host) > 30 THEN 10 ELSE 0 END AS spam_score
  FROM f
)
SELECT url, host, host_digits::bigint AS host_digits,
  host_hyphens::bigint AS host_hyphens, path_depth::bigint AS path_depth,
  n_params::bigint AS n_params, kw_hits::bigint AS kw_hits,
  spam_score::bigint AS spam_score, spam_score >= 40 AS is_spam
FROM s
"""


# nav prefix is 9 tokens + the source name = one exact 10-token segment;
# footer is 10 tokens on its own
_NAV_PREFIX = "site nav home about contact subscribe newsletter terms privacy "
_FOOTER_LINE = "footer links sitemap rss feed archive tags search help contact"


def q_host_template_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host template-line detection (textops.host_template_lines):
    source plays the host role; a 10-token nav segment is prepended to 3/4
    of each host's pages and a 10-token footer segment to 1/2, so both
    align exactly on the operator's 10-token line grid."""
    d = _docs(spark, sf_dir)
    nav = F.when(
        F.col("doc_id") % 4 != 0,
        F.concat(F.lit(_NAV_PREFIX), F.col("source"), F.lit(" ")),
    ).otherwise(F.lit(""))
    footer = F.when(F.col("doc_id") % 2 == 0, F.lit(_FOOTER_LINE + " ")).otherwise(
        F.lit("")
    )
    aug = d.select(
        "doc_id",
        F.col("source").alias("host"),
        F.concat(nav, footer, F.col("text")).alias("text"),
    )
    return textops.host_template_lines(aug, host_col="host")


_SQL_HOST_TEMPLATE_LINES = f"""
WITH aug AS (
  SELECT doc_id, source AS host,
    CASE WHEN doc_id % 4 <> 0
         THEN '{_NAV_PREFIX}' || source || ' ' ELSE '' END
    || CASE WHEN doc_id % 2 = 0 THEN '{_FOOTER_LINE} ' ELSE '' END
    || text AS text
  FROM documents
),
t AS (SELECT doc_id, host, {_TOKS} AS toks FROM aug),
c AS (
  SELECT doc_id, host,
    CASE WHEN len(toks) > 0 THEN
      list_transform(generate_series(0, ((len(toks) + 9) // 10) - 1),
        i -> array_to_string(toks[i*10+1 : i*10+10], ' '))
    ELSE []::varchar[] END AS lines
  FROM t
),
l AS (SELECT host, doc_id, unnest(lines) AS line FROM c),
pl AS (
  SELECT host, md5(line) AS h, count(DISTINCT doc_id) AS n_docs,
         min(line) AS line
  FROM l GROUP BY 1, 2
),
hd AS (SELECT host, count(DISTINCT doc_id) AS host_docs FROM aug GROUP BY 1)
SELECT pl.host, pl.line, n_docs::bigint AS n_docs,
  host_docs::bigint AS host_docs,
  floor(n_docs * 1000000 / host_docs)::bigint AS frac_micro
FROM pl JOIN hd USING (host)
WHERE floor(n_docs * 1000000 / host_docs) >= 500000 AND n_docs >= 2
"""


def q_recrawl_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recrawl prioritization (urls.recrawl_priority) over 4 synthetic
    fetch epochs: a third of the URLs change every epoch, a third change
    once at epoch 2, a third never change."""
    from ..operators import urls

    d = _docs(spark, sf_dir)
    version = (
        F.when(F.col("doc_id") % 3 == 0, F.col("epoch"))
        .when(F.col("doc_id") % 3 == 1, (F.col("epoch") >= 2).cast("int"))
        .otherwise(F.lit(0))
    )
    obs = d.select(
        "doc_id",
        "source",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("epoch"),
    ).select(
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit(".example.org/page/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        F.col("epoch").cast("long").alias("epoch"),
        F.md5(
            F.concat(
                F.col("doc_id").cast("string"),
                F.lit(":"),
                version.cast("string"),
            )
        ).alias("content_hash"),
    )
    return urls.recrawl_priority(obs)


_SQL_RECRAWL_PRIORITY = r"""
WITH e AS (SELECT unnest([0, 1, 2, 3]) AS epoch),
obs AS (
  SELECT 'https://' || source || '.example.org/page/' || doc_id AS url,
    epoch,
    md5(doc_id::varchar || ':' ||
        (CASE doc_id % 3 WHEN 0 THEN epoch
              WHEN 1 THEN CASE WHEN epoch >= 2 THEN 1 ELSE 0 END
              ELSE 0 END)::varchar) AS content_hash
  FROM documents CROSS JOIN e
),
fl AS (
  SELECT url, epoch,
    CASE WHEN lag(content_hash)
             OVER (PARTITION BY url ORDER BY epoch) IS NOT NULL
          AND content_hash <> lag(content_hash)
             OVER (PARTITION BY url ORDER BY epoch)
         THEN 1 ELSE 0 END AS changed
  FROM obs
),
pu AS (
  SELECT url, count(*) AS n_obs, sum(changed) AS n_changes,
         max(CASE WHEN changed = 1 THEN epoch END) AS last_change,
         min(epoch) AS first_e, max(epoch) AS last_e
  FROM fl GROUP BY url
),
sc AS (
  SELECT url,
    CASE WHEN n_obs > 1
         THEN floor(n_changes * 1000000 / (n_obs - 1)) ELSE 0 END AS rate,
    last_e - coalesce(last_change, first_e) AS stale,
    n_obs, n_changes
  FROM pu
)
SELECT url,
  lower(coalesce(regexp_extract(url,
    '^[a-zA-Z][a-zA-Z0-9+.\-]*://([^/?#]+)', 1), '')) AS host,
  n_obs::bigint AS n_obs, n_changes::bigint AS n_changes,
  rate::bigint AS change_rate_micro, stale::bigint AS stale_epochs,
  (rate * stale)::bigint AS priority_micro
FROM sc
"""


_DOMAIN_URL_SPARK = None  # built lazily below


def _domain_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic url mix exercising subdomains x suffix classes
    (multi-label PSL, single-label, built-in exception, unknown TLD)."""
    d = _docs(spark, sf_dir)
    sub = (
        F.when(F.col("doc_id") % 4 == 0, F.lit("www."))
        .when(F.col("doc_id") % 4 == 1, F.lit("blog."))
        .when(F.col("doc_id") % 4 == 2, F.lit(""))
        .otherwise(F.lit("a.b."))
    )
    suf = (
        F.when(F.col("doc_id") % 5 == 0, F.lit(".co.uk"))
        .when(F.col("doc_id") % 5 == 1, F.lit(".com"))
        .when(F.col("doc_id") % 5 == 2, F.lit(".github.io"))
        .when(F.col("doc_id") % 5 == 3, F.lit(".unknowntld"))
        .otherwise(F.lit(".org.au"))
    )
    return d.select(
        F.concat(
            F.lit("https://"),
            sub,
            F.col("source"),
            suf,
            F.lit("/p/"),
            F.col("doc_id").cast("string"),
        ).alias("url")
    )


_SQL_DOMAIN_URLS = """
SELECT 'https://'
  || CASE doc_id % 4 WHEN 0 THEN 'www.' WHEN 1 THEN 'blog.'
                     WHEN 2 THEN '' ELSE 'a.b.' END
  || source
  || CASE doc_id % 5 WHEN 0 THEN '.co.uk' WHEN 1 THEN '.com'
                     WHEN 2 THEN '.github.io' WHEN 3 THEN '.unknowntld'
                     ELSE '.org.au' END
  || '/p/' || doc_id AS url
FROM documents
"""


def _sql_registrable_domain_expr(host: str) -> str:
    """DuckDB mirror of urls.registrable_domain_expr, generated from the
    SAME suffix tuple (single source of truth)."""
    from ..operators.urls import PUBLIC_SUFFIXES

    arms = [
        f"nullif(regexp_extract({host}, '([^.]+\\.{s.replace('.', chr(92) + '.')})$', 1), '')"
        for s in PUBLIC_SUFFIXES
    ]
    arms.append(f"nullif(regexp_extract({host}, '([^.]+\\.[^.]+)$', 1), '')")
    arms.append(host)
    return "coalesce(" + ", ".join(arms) + ")"


def q_registrable_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """eTLD+1 extraction (urls.registrable_domains) — scan-speed coalesce
    chain over the built-in public-suffix subset."""
    from ..operators import urls

    return urls.registrable_domains(_domain_urls(spark, sf_dir))


def _sql_registrable_domains() -> str:
    host = (
        "lower(coalesce(regexp_extract(url,"
        " '^[a-zA-Z][a-zA-Z0-9+.\\-]*://([^/?#]+)', 1), ''))"
    )
    return f"""
WITH m AS ({_SQL_DOMAIN_URLS}),
h AS (SELECT url, {host} AS host FROM m)
SELECT url, host, {_sql_registrable_domain_expr('host')} AS registrable_domain
FROM h
"""


def q_domain_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-registrable-domain census (urls.domain_rollup): pages + distinct
    hosts per site."""
    from ..operators import urls

    return urls.domain_rollup(_domain_urls(spark, sf_dir))


def _sql_domain_rollup() -> str:
    host = (
        "lower(coalesce(regexp_extract(url,"
        " '^[a-zA-Z][a-zA-Z0-9+.\\-]*://([^/?#]+)', 1), ''))"
    )
    return f"""
WITH m AS ({_SQL_DOMAIN_URLS}),
h AS (SELECT url, {host} AS host FROM m),
r AS (SELECT url, host, {_sql_registrable_domain_expr('host')} AS registrable_domain
      FROM h)
SELECT registrable_domain, count(*)::bigint AS n_pages,
  count(DISTINCT host)::bigint AS n_hosts
FROM r GROUP BY 1
"""


def q_host_page_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host page cap (urls.host_page_cap): keep <= 10 pages per host by
    deterministic md5(url) rank — two-phase, megahost-safe."""
    from ..operators import urls

    d = _docs(spark, sf_dir)
    pages = d.select(
        F.col("source").alias("host"),
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit(".example.org/p/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    return urls.host_page_cap(pages, 10)


_SQL_HOST_PAGE_CAP = """
WITH m AS (
  SELECT source AS host,
    'https://' || source || '.example.org/p/' || doc_id AS url
  FROM documents
),
r AS (
  SELECT host, url,
    row_number() OVER (PARTITION BY host ORDER BY md5(url), url) AS rn
  FROM m
)
SELECT host, url FROM r WHERE rn <= 10
"""


def q_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-source length quantiles (relational.grouped_quantiles)
    via the bounded distribution sketch — p50/p90/p99 of n_chars."""
    return relational.grouped_quantiles(_docs(spark, sf_dir), "source", "n_chars")


_SQL_LENGTH_QUANTILES = """
WITH dist AS (
  SELECT source AS grp, n_chars AS val, count(*) AS cnt
  FROM documents GROUP BY 1, 2
),
cum AS (
  SELECT grp, val,
    sum(cnt) OVER (PARTITION BY grp ORDER BY val) AS cum,
    sum(cnt) OVER (PARTITION BY grp) AS n_rows
  FROM dist
)
SELECT grp AS source, max(n_rows)::bigint AS n_rows,
  min(CASE WHEN cum >= (500000 * n_rows + 999999) // 1000000 THEN val END)::bigint
    AS q_500000,
  min(CASE WHEN cum >= (900000 * n_rows + 999999) // 1000000 THEN val END)::bigint
    AS q_900000,
  min(CASE WHEN cum >= (990000 * n_rows + 999999) // 1000000 THEN val END)::bigint
    AS q_990000
FROM cum GROUP BY grp
"""




# ---------------------------------------------------------------------------
# stream_dedup_wm
# ---------------------------------------------------------------------------


def q_stream_dedup_wm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-bounded streaming dedup
    (streaming.stream_dedup_watermark): dropDuplicatesWithinWatermark
    on (user_id, event_type), drained availableNow — within one drain
    every row is inside the watermark, so the set equals batch
    DISTINCT (the oracle)."""
    from ..streaming.pipeline import run_stream_to_table, stream_dedup_watermark

    name = "stream_dedup_wm_result"
    sdf = stream_dedup_watermark(spark, f"{sf_dir}/events.parquet")
    run_stream_to_table(spark, sdf, name, output_mode="append")
    return spark.table(name)


_SQL_STREAM_DEDUP_WM = """
SELECT DISTINCT user_id::bigint AS user_id, event_type FROM events
"""


# ---------------------------------------------------------------------------
# content_type_mismatch (round-4 session-15)
# ---------------------------------------------------------------------------

from ..operators.multimodal import SYNTH_CT_MAGIC as _CT_MAGIC
from ..operators.multimodal import SYNTH_CT_MIMES as _CT_MIMES


def q_content_type_mismatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared-vs-sniffed Content-Type census
    (multimodal.content_type_census): deterministic payloads built as
    magic-prefix || utf-8(text) with every third document's declared
    header rotated one family off — the mislabeled-crawl audit. The
    sniff is pure JVM (hex prefix CASE ladder); payload bytes never
    reach the exchange."""
    from ..operators.multimodal import (
        content_type_census,
        synth_typed_payloads,
    )

    d = _docs(spark, sf_dir).select("doc_id", "text")
    return content_type_census(synth_typed_payloads(d))


_SQL_CONTENT_TYPE_MISMATCH = f"""
WITH mm AS (
  SELECT unnest([0, 1, 2, 3, 4, 5]) AS fam,
         unnest({list(_CT_MIMES)}) AS mime,
         unnest({list(_CT_MAGIC)}) AS magic
),
p AS (
  SELECT m.magic || upper(hex(encode(d.text))) AS hx, dm.mime AS declared
  FROM documents d
  JOIN mm m ON m.fam = d.doc_id % 6
  JOIN mm dm ON dm.fam =
    (d.doc_id % 6 + CASE WHEN d.doc_id % 3 = 0 THEN 1 ELSE 0 END) % 6
),
s AS (
  SELECT declared,
    CASE
      WHEN substr(hx, 1, 8) = '89504E47' THEN 'image/png'
      WHEN substr(hx, 1, 12) IN ('474946383761', '474946383961')
        THEN 'image/gif'
      WHEN substr(hx, 1, 6) = 'FFD8FF' THEN 'image/jpeg'
      WHEN substr(hx, 1, 10) = '255044462D' THEN 'application/pdf'
      WHEN substr(hx, 1, 8) = '52494646' THEN 'audio/wav'
      WHEN substr(hx, 1, 2) = '3C' THEN 'text/html'
      ELSE 'application/octet-stream' END AS sniffed
  FROM p
)
SELECT declared, sniffed, count(*)::bigint AS n,
  (CASE WHEN declared <> sniffed THEN 1 ELSE 0 END)::bigint AS mismatch
FROM s GROUP BY declared, sniffed ORDER BY declared, sniffed
"""


def q_stream_sniff_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Content-Type census (streaming.stream_sniff_census):
    the live face of content_type_mismatch — complete-mode running
    (declared, sniffed) counts over synthesized payloads, drained
    availableNow; the oracle is the identical batch census."""
    from ..streaming.pipeline import run_stream_to_table, stream_sniff_census

    name = "stream_sniff_census_result"
    sdf = stream_sniff_census(spark, f"{sf_dir}/documents.parquet")
    run_stream_to_table(spark, sdf, name, output_mode="complete")
    return spark.table(name)


_SQL_STREAM_SNIFF_CENSUS = _SQL_CONTENT_TYPE_MISMATCH


def q_stream_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming HLL register table (streaming.stream_hll_registers) —
    max-per-register drained availableNow equals the batch sketch
    bit-for-bit; the oracle is the closed-form register table."""
    from ..streaming.pipeline import run_stream_to_table, stream_hll_registers

    name = "stream_hll_registers_result"
    sdf = stream_hll_registers(spark, f"{sf_dir}/events.parquet")
    run_stream_to_table(spark, sdf, name, output_mode="complete")
    return spark.table(name).orderBy("reg")


_SQL_STREAM_HLL_REGISTERS = """
WITH h AS (
  SELECT ('0x' || substr(md5(user_id::varchar), 1, 15))::bigint AS h
  FROM events
),
r AS (
  SELECT h % 256 AS reg,
    CASE WHEN h // 256 > 0 THEN 53 - length(bin(h // 256))
         ELSE 53 END AS rank
  FROM h
)
SELECT reg::bigint AS reg, max(rank)::bigint AS mx
FROM r GROUP BY reg ORDER BY reg
"""


def q_stream_cms_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CMS register table (streaming.stream_cms_registers) —
    13th streaming surface: counter sums drained availableNow equal the
    batch sketch bit-for-bit; the oracle is the closed-form counter
    table over the same hash layout as cms_counts."""
    from ..streaming.pipeline import run_stream_to_table, stream_cms_registers

    name = "stream_cms_registers_result"
    sdf = stream_cms_registers(spark, f"{sf_dir}/events.parquet")
    run_stream_to_table(spark, sdf, name, output_mode="complete")
    return spark.table(name).orderBy("d", "slot")


_SQL_STREAM_CMS_REGISTERS = """
WITH cells AS (
  SELECT u.d,
    ('0x' || substr(md5(u.d::varchar || '|' || user_id::varchar), 1, 7))
      ::bigint % 1024 AS slot
  FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS d) u
)
SELECT d::bigint AS d, slot, count(*)::bigint AS cnt
FROM cells GROUP BY d, slot ORDER BY d, slot
"""


def q_stream_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming multimodal decode (streaming.stream_media_decode — the
    14th surface, first binary one): PNG payloads synthesized and
    decoded inside the stream via the batch Arrow kernel, drained
    availableNow in append mode; stateless, so row-for-row the batch
    decode — the oracle restates the synthesis closed form."""
    from ..streaming.pipeline import run_stream_to_table, stream_media_decode

    name = "stream_media_decode_result"
    sdf = stream_media_decode(spark, f"{sf_dir}/documents.parquet")
    run_stream_to_table(spark, sdf, name, output_mode="append")
    return spark.table(name)


_SQL_STREAM_MEDIA_DECODE = """
SELECT doc_id,
  (doc_id % 7 + 2)::int AS width,
  (doc_id % 5 + 2)::int AS height,
  'L' AS mode,
  list_sum(flatten(list_transform(range((doc_id % 5 + 2)::int), y ->
    list_transform(range((doc_id % 7 + 2)::int), x ->
      (doc_id + 3*x + 5*y) % 256))))::bigint AS px_sum,
  NULL::varchar AS error
FROM documents
"""


def q_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session_window drained availableNow in complete mode —
    must equal the batch session_window_agg (same oracle)."""
    from ..streaming.pipeline import run_stream_to_table, stream_session_window

    _utc(spark)
    name = "stream_session_window_result"
    sdf = stream_session_window(spark, f"{sf_dir}/events.parquet")
    run_stream_to_table(spark, sdf, name)
    return spark.table(name)


_SQL_STREAM_SESSION_WINDOW = _SQL_SESSION_WINDOW_AGG


# ---------------------------------------------------------------------------
# stream_quantile_sketch (round-4 session-20)
# ---------------------------------------------------------------------------


def q_stream_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact-quantile sketch (streaming.stream_quantile_sketch
    — 16th streaming surface): the (group, value) count sketch
    maintained by a complete-mode streaming aggregate, drained
    availableNow, then read with quantiles_from_sketch — the answers
    must equal the batch exact quantiles, which is what the oracle
    states (the streaming face of quantile_sketch_merge's mergeability
    proof)."""
    from ..operators.relational import quantiles_from_sketch
    from ..streaming.pipeline import run_stream_to_table, stream_quantile_sketch

    name = "stream_quantile_sketch_result"
    sdf = stream_quantile_sketch(spark, f"{sf_dir}/documents.parquet")
    run_stream_to_table(spark, sdf, name, output_mode="complete")
    return quantiles_from_sketch(spark.table(name))


_SQL_STREAM_QUANTILE_SKETCH = """
WITH dist AS (
  SELECT source AS grp, n_chars AS val, count(*) AS cnt
  FROM documents GROUP BY 1, 2
),
cum AS (
  SELECT grp, val,
    sum(cnt) OVER (PARTITION BY grp ORDER BY val) AS cum,
    sum(cnt) OVER (PARTITION BY grp) AS n_rows
  FROM dist
)
SELECT grp AS source, max(n_rows)::bigint AS n_rows,
  min(CASE WHEN cum >= (500000 * n_rows + 999999) // 1000000
        THEN val END)::bigint AS q_500000,
  min(CASE WHEN cum >= (900000 * n_rows + 999999) // 1000000
        THEN val END)::bigint AS q_900000,
  min(CASE WHEN cum >= (990000 * n_rows + 999999) // 1000000
        THEN val END)::bigint AS q_990000
FROM cum GROUP BY grp
"""
