"""Registry segment: relational battery + web/WARC/CDX families."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup, multimodal, relational, textops
from ..sources.pages import synthesize_pages_df

from ..scale.salt import ensure_parallelism as _spread
from .common import (
    _DOUBLED_SQL,
    _TOKS,
    _as_long,
    _docs,
    _doubled_docs,
    _tbl,
    _utc,
)

# ---------------------------------------------------------------------------
# relational battery
# ---------------------------------------------------------------------------


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.pricing_summary(_tbl(spark, sf_dir, "lineitem"))


_SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
  sum(cast(l_quantity as decimal(18,2)))::double AS sum_qty,
  sum(cast(l_extendedprice as decimal(18,2)))::double AS sum_base_price,
  sum(cast(cast(l_extendedprice as decimal(18,2))
           * (cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2)))
      as decimal(18,4)))::double AS sum_disc_price,
  count(*) AS count_order,
  sum(cast(l_quantity as decimal(18,2)))::double / count(*) AS avg_qty
FROM lineitem GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.revenue_by_nation(
        _tbl(spark, sf_dir, "orders"),
        _tbl(spark, sf_dir, "customer"),
        _tbl(spark, sf_dir, "nation"),
    )


_SQL_REVENUE_BY_NATION = """
SELECT n_name,
  sum(cast(o_totalprice as decimal(18,2)))::double AS revenue,
  count(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name ORDER BY n_name
"""


def q_top_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.top_brands_by_revenue(
        _tbl(spark, sf_dir, "lineitem"), _tbl(spark, sf_dir, "part"), k=5
    )


_SQL_TOP_BRANDS = """
SELECT p_brand,
  sum(cast(cast(l_extendedprice as decimal(18,2))
           * (cast(1 as decimal(18,2)) - cast(l_discount as decimal(18,2)))
      as decimal(18,4)))::double AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand ORDER BY revenue DESC, p_brand LIMIT 5
"""


def q_order_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _as_long(
        relational.order_ranks(_tbl(spark, sf_dir, "orders"), max_custkey=100),
        "order_seq",
        "price_rank",
    )


_SQL_ORDER_RANKS = """
SELECT o_custkey, o_orderkey,
  row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    AS order_seq,
  rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    AS price_rank
FROM orders WHERE o_custkey <= 100
ORDER BY o_custkey, o_orderkey
"""


def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    return _as_long(
        relational.sessionize_events(_tbl(spark, sf_dir, "events")), "session_id"
    )


_SQL_SESSIONIZE_EVENTS = """
WITH e AS (
  SELECT user_id, event_id, ts,
    CASE WHEN lag(ts) OVER w IS NULL
           OR floor(epoch(ts))::bigint - floor(epoch(lag(ts) OVER w))::bigint
              >= 1800
         THEN 1 ELSE 0 END AS is_break
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, event_id,
    -- ::bigint: DuckDB's windowed sum yields HUGEINT; Spark casts to long
    sum(is_break) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING)::bigint AS session_id
  FROM e
)
SELECT user_id, session_id, count(*) AS n_events,
       min(event_id) AS first_event, max(event_id) AS last_event
FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id
"""


def q_windowed_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    return relational.windowed_event_counts(_tbl(spark, sf_dir, "events"))


_SQL_WINDOWED_EVENT_COUNTS = """
SELECT (floor(epoch(ts) / 300) * 300)::bigint AS bucket_start, event_type,
  count(*) AS n_events,
  sum(cast(value as decimal(18,2)))::double AS sum_value
FROM events GROUP BY bucket_start, event_type ORDER BY bucket_start, event_type
"""


def q_list_documents_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.list_documents(
        _docs(spark, sf_dir), lang="en", skip=10, limit=20
    )


_SQL_LIST_DOCUMENTS_PAGE = """
SELECT doc_id, text, lang, source, n_chars FROM documents
WHERE lang = 'en' ORDER BY doc_id LIMIT 20 OFFSET 10
"""


def q_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.get_document(_docs(spark, sf_dir), 42)


_SQL_POINT_LOOKUP = "SELECT doc_id, text, lang, source, n_chars FROM documents WHERE doc_id = 42"


def q_delete_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level delete surface: drop doc_ids divisible by 7, keep a bounded
    slice so the oracle result stays small."""
    docs = _docs(spark, sf_dir)
    ids = docs.where(F.col("doc_id") % 7 == 0).select("doc_id")
    return relational.delete_documents(docs, ids).where(F.col("doc_id") < 100)


_SQL_DELETE_DOCUMENTS = """
SELECT doc_id, text, lang, source, n_chars FROM documents
WHERE doc_id % 7 <> 0 AND doc_id < 100
"""


def q_update_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-patch update surface: relabel lang of even doc_ids, null patch
    fields fall through to current values."""
    docs = _docs(spark, sf_dir)
    patch = docs.where(F.col("doc_id") % 2 == 0).select(
        "doc_id",
        F.lit("xx").alias("lang"),
        F.lit(None).cast("string").alias("source"),  # null -> keep current
    )
    return relational.update_documents(docs, patch).where(
        F.col("doc_id") < 100
    )


_SQL_UPDATE_DOCUMENTS = """
SELECT doc_id, text,
  CASE WHEN doc_id % 2 = 0 THEN 'xx' ELSE lang END AS lang,
  source, n_chars
FROM documents WHERE doc_id < 100
"""


def q_adjacent_word_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _as_long(
        relational.adjacent_word_overlap(_docs(spark, sf_dir)), "common_words"
    )


_SQL_ADJACENT_WORD_OVERLAP = f"""
WITH w AS (
  SELECT doc_id, list_distinct({_TOKS}) AS words FROM documents
), p AS (
  SELECT doc_id, words, lag(words) OVER (ORDER BY doc_id) AS prev_words FROM w
)
SELECT doc_id, len(list_intersect(words, prev_words)) AS common_words
FROM p WHERE prev_words IS NOT NULL
  AND len(list_intersect(words, prev_words)) >= 2
ORDER BY doc_id
"""


def q_asof_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (union-merge shape): each purchase event gets the value of
    the user's most recent view at or before it. Oracle: DuckDB's native
    ASOF JOIN — an independent formulation of the same semantics."""
    _utc(spark)
    events = _tbl(spark, sf_dir, "events")
    purchases = events.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = events.where(F.col("event_type") == "view").select(
        "user_id", "ts", "value"
    )
    # dedupe_right='max' makes the right side unique per (key, ts) inside
    # the operator: deterministic regardless of tie order
    joined = relational.asof_join(
        purchases, views, key="user_id", ts="ts",
        value_col="value", out_col="last_view_value", dedupe_right="max",
    )
    return joined.select(
        "user_id",
        "event_id",
        F.col("ts").cast("timestamp").cast("long").alias("ts_epoch"),
        "last_view_value",
    ).orderBy("user_id", "event_id")


_SQL_ASOF_EVENTS = """
WITH v AS (
  SELECT user_id, ts, max(value) AS value FROM events
  WHERE event_type = 'view' GROUP BY user_id, ts
),
p AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
)
SELECT p.user_id, p.event_id, floor(epoch(p.ts))::bigint AS ts_epoch,
       v.value AS last_view_value
FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
ORDER BY p.user_id, p.event_id
"""


def q_corpus_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP(lang, source) corpus totals: per-(lang,source), per-lang
    subtotals and the grand total in one pass (§2.5 beyond the reference —
    it has no grouping sets)."""
    docs = _docs(spark, sf_dir)
    return docs.rollup("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


_SQL_CORPUS_ROLLUP = """
SELECT lang, source, count(*) AS n_docs, sum(n_chars)::bigint AS total_chars
FROM documents GROUP BY ROLLUP (lang, source)
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language sampling (training-mix rebalancing): keep
    30% of en, all of vi, 10% of everything else — membership is a pure md5
    function of doc_id, so the sample is partitioning/engine independent."""
    from ..operators import sampling

    docs = _docs(spark, sf_dir)
    return sampling.stratified_sample(
        docs,
        {"en": 0.3, "vi": 1.0},
        key_col="doc_id",
        strata_col="lang",
        default_fraction=0.1,
    ).select("doc_id", "lang")


_SQL_STRATIFIED_SAMPLE = """
SELECT doc_id, lang FROM documents
WHERE ('0x' || substr(md5(doc_id::varchar), 1, 7))::bigint % 10000 <
  CASE lang WHEN 'en' THEN 3000 WHEN 'vi' THEN 10000 ELSE 1000 END
"""


def q_domain_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain page/byte/dup profile over the pages table — the skew
    diagnosis pass that sizes salting and dedup decisions."""
    pages = synthesize_pages_df(spark, sf_dir)
    return _as_long(
        relational.domain_profile(pages), "n_pages", "distinct_payloads"
    )


def _sql_domain_profile() -> str:
    from ..sources.pages import _TEMPLATE_HEAD, _TEMPLATE_TAIL

    fixed = len(_TEMPLATE_HEAD.encode()) + len(_TEMPLATE_TAIL.encode())
    sha = f"sha256('{_TEMPLATE_HEAD}' || text || '{_TEMPLATE_TAIL}')"
    return f"""
SELECT source || '.example.com' AS domain,
  count(*) AS n_pages,
  (sum(octet_length(encode(text))) + count(*) * {fixed})::bigint AS total_bytes,
  count(DISTINCT {sha}) AS distinct_payloads,
  round(1.0::double - count(DISTINCT {sha}) / count(*)::double, 6) AS dup_ratio
FROM documents GROUP BY source ORDER BY domain
"""


def q_extract_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-link edge list from the pages corpus (urls.extract_links):
    regexp anchor extraction + root-relative resolution, no UDF."""
    from ..operators import urls

    return urls.extract_links(synthesize_pages_df(spark, sf_dir))


def _sql_extract_links() -> str:
    from ..sources.pages import _TEMPLATE_HEAD, _TEMPLATE_TAIL

    return f"""
WITH pages AS (
  SELECT 'https://' || source || '.example.com/' || lang || '/' || doc_id
           AS url,
         '{_TEMPLATE_HEAD}' || text || '{_TEMPLATE_TAIL}' AS html
  FROM documents
),
e AS (
  SELECT url,
    lower(coalesce(regexp_extract(url,
      '^([a-zA-Z][a-zA-Z0-9+.\\-]*)://', 1), '')) AS scheme,
    lower(coalesce(regexp_extract(url,
      '^[a-zA-Z][a-zA-Z0-9+.\\-]*://([^/?#]+)', 1), '')) AS host,
    regexp_extract_all(html, 'href="([^"]*)"', 1) AS hrefs
  FROM pages
),
l AS (
  SELECT url, scheme, host,
    unnest(range(len(hrefs))) AS link_pos, unnest(hrefs) AS href
  FROM e
)
SELECT url, link_pos::bigint AS link_pos, href,
  CASE WHEN href LIKE '//%' THEN scheme || ':' || href
       WHEN href LIKE '/%' THEN scheme || '://' || host || href
       ELSE href END AS resolved
FROM l
"""


def _host_graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic demo host graph shared by q_host_pagerank and
    q_crawl_frontier: each host links to two formula-derived peers
    (squaring map varies in-degree; no dangling nodes, no self-loops)."""
    hosts = _docs(spark, sf_dir).select("source").distinct()
    k = F.regexp_replace(F.col("source"), "^src", "").cast("int")
    e1 = hosts.select(
        F.col("source").alias("src"),
        F.concat(F.lit("src"), ((k * k + 1) % 20).cast("string")).alias("dst"),
    )
    e2 = hosts.select(
        F.col("source").alias("src"),
        F.concat(F.lit("src"), ((k * 3 + 1) % 20).cast("string")).alias("dst"),
    )
    return e1.unionByName(e2)


def q_host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank (graph.pagerank) over the deterministic
    host graph. At corpus scale the edge list comes from
    urls.extract_links aggregated to hosts."""
    from ..operators import graph

    return graph.pagerank(_host_graph_edges(spark, sf_dir))


def _sql_host_pagerank_ctes(iters: int = 3) -> tuple[str, str]:
    """(CTE prefix WITHOUT the leading WITH, final relation name) — shared
    verbatim by the standalone pagerank oracle and the frontier oracle, so
    the two can never desynchronize on iteration count or rank expression."""
    parts = [
        """
WITH hosts AS (SELECT DISTINCT source FROM documents),
e AS (
  SELECT source AS src,
    'src' || ((regexp_replace(source, '^src', '')::int * regexp_replace(source, '^src', '')::int + 1) % 20) AS dst
  FROM hosts
  UNION
  SELECT source,
    'src' || ((regexp_replace(source, '^src', '')::int * 3 + 1) % 20)
  FROM hosts
),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
nn AS (SELECT count(*)::double AS n FROM nodes),
outdeg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
r0 AS (SELECT node, 1.0::double / nn.n AS rank FROM nodes, nn)"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f""",
c{i} AS (
  SELECT e.dst AS node, round(r.rank / o.deg, 12)::decimal(28,12) AS c
  FROM e JOIN r{i-1} r ON e.src = r.node JOIN outdeg o ON e.src = o.src
),
s{i} AS (SELECT node, sum(c) AS s FROM c{i} GROUP BY node),
r{i} AS (
  SELECT nodes.node,
    (1.0::double - 0.85::double) / nn.n
    + 0.85::double * coalesce(s::double, 0.0::double) AS rank
  FROM nodes CROSS JOIN nn LEFT JOIN s{i} USING (node)
)"""
        )
    prefix = "".join(parts).lstrip()
    assert prefix.startswith("WITH ")
    return prefix[len("WITH "):], f"r{iters}"


def _sql_host_pagerank(iters: int = 3) -> str:
    ctes, final = _sql_host_pagerank_ctes(iters)
    return (
        "WITH "
        + ctes
        + f"""
SELECT node, floor(rank * 1000000000.0)::bigint AS rank_nano FROM {final}
"""
    )


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch (dedup.kmv_distinct) on the doubled corpus
    (2x rows, same distinct payloads — the estimate must ignore copies).
    ``exact=True`` ONLY here: the oracle checks the estimate against the true
    cardinality, so this query pays the distinct shuffle the production
    default (exact=False) skips."""
    return dedup.kmv_distinct(_doubled_docs(spark, sf_dir), exact=True)


_SQL_KMV_DISTINCT = f"""
WITH d2 AS ({_DOUBLED_SQL}),
h AS (
  SELECT DISTINCT ('0x' || substr(md5(text), 1, 15))::bigint AS h FROM d2
),
mins AS (SELECT h FROM h ORDER BY h LIMIT 64),
agg AS (
  SELECT count(*)::bigint AS k_used, max(h) AS kth_min FROM mins
)
SELECT k_used, kth_min,
  CASE WHEN k_used < 64 THEN k_used
       ELSE floor(63.0::double
              / (kth_min::double / 1152921504606846976.0::double))::bigint
  END AS est_distinct,
  (SELECT count(DISTINCT text) FROM d2)::bigint AS exact_distinct
FROM agg
"""


def q_crawl_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff between two deterministic crawl states
    (relational.snapshot_diff): docs <100 removed, >=400 added, every 7th
    of the overlap changed."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    old = d.where(F.col("doc_id") < 400).select(
        "doc_id", F.sha2("text", 256).alias("content_hash")
    )
    new_text = F.when(
        F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" v2"))
    ).otherwise(F.col("text"))
    new = d.where(F.col("doc_id") >= 100).select(
        "doc_id", F.sha2(new_text, 256).alias("content_hash")
    )
    return relational.snapshot_diff(old, new, key_col="doc_id")


_SQL_CRAWL_DIFF = """
WITH o AS (
  SELECT doc_id, sha256(text) AS h FROM documents WHERE doc_id < 400
),
n AS (
  SELECT doc_id,
    sha256(CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END) AS h
  FROM documents WHERE doc_id >= 100
)
SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
  CASE WHEN o.doc_id IS NULL THEN 'added'
       WHEN n.doc_id IS NULL THEN 'removed'
       WHEN o.h IS DISTINCT FROM n.h THEN 'changed'
       ELSE 'unchanged' END AS status
FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
"""


def q_warc_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC roundtrip (sources/warc.py): synthesize response records from
    the template corpus, parse them back with pure expressions, and emit
    recovered fields + payload integrity. The oracle states the synthesis
    closed form, so the parser must actually recover headers AND payload."""
    from ..sources.warc import parse_warc_records, synthesize_warc_df

    _utc(spark)
    parsed = parse_warc_records(synthesize_warc_df(spark, sf_dir))
    return parsed.select(
        "url",
        F.col("warc_ts").cast("long").alias("ts_epoch"),
        "content_length",
        F.length("payload").cast("long").alias("payload_chars"),
        F.md5("payload").alias("payload_md5"),
        (F.col("content_length") == F.octet_length("payload"))
        .cast("int")
        .alias("length_ok"),
    )


def _sql_warc_parse() -> str:
    from ..sources.pages import _TEMPLATE_HEAD, _TEMPLATE_TAIL

    html = f"'{_TEMPLATE_HEAD}' || text || '{_TEMPLATE_TAIL}'"
    return f"""
SELECT 'https://' || source || '.example.com/' || lang || '/' || doc_id
         AS url,
  (1704067200 + doc_id)::bigint AS ts_epoch,
  octet_length(encode({html}))::bigint AS content_length,
  length({html})::bigint AS payload_chars,
  md5({html}) AS payload_md5,
  1::int AS length_ok
FROM documents
"""


def _synth_robots_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One robots.txt per corpus host, deterministic: a decoy non-* section
    first (its Disallow must NOT leak into * rules — pins the section
    logic), then a ``User-agent: *`` group disallowing each lang prefix
    whose md5(host|lang) starts 0-7 (portable 50% coin)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    hosts = docs.select(
        F.concat(F.col("source"), F.lit(".example.com")).alias("host")
    ).distinct()
    langs = [r["lang"] for r in docs.select("lang").distinct().collect()]
    dis_lines = [
        F.when(
            F.substring(F.md5(F.concat(F.col("host"), F.lit("|" + lang))), 1, 1)
            < F.lit("8"),
            F.lit(f"Disallow: /{lang}"),
        )
        for lang in sorted(langs)
    ]
    # per-host Crawl-delay 1-4 s (portable md5 coin); the evilbot section's
    # delay is a decoy that must never apply to the * group
    delay = (
        F.conv(F.substring(F.md5(F.col("host")), 1, 7), 16, 10).cast("bigint") % 4
        + 1
    )
    body = F.concat_ws(
        "\n",
        F.lit("User-agent: evilbot"),
        F.lit("Disallow: /never"),
        F.lit("Crawl-delay: 99"),
        F.lit("User-agent: *"),
        F.concat(F.lit("Crawl-delay: "), delay.cast("string")),
        *dis_lines,
    )
    return hosts.select("host", body.alias("robots_txt"))


def _synth_robots_precedence_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The precedence-exercise robots corpus (separate from
    ``_synth_robots_df`` so the Disallow-only queries keep their pinned
    outputs): on top of the coin-Disallowed lang prefixes, a LONGER Allow
    under each disallowed lang (re-allows /{lang}/4* paths) and an
    equal-length Allow+Disallow TIE on a second md5 coin — RFC 9309 says
    longest prefix wins, and Allow wins equal-length ties."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    hosts = docs.select(
        F.concat(F.col("source"), F.lit(".example.com")).alias("host")
    ).distinct()
    langs = [r["lang"] for r in docs.select("lang").distinct().collect()]
    lines = []
    for lang in sorted(langs):
        coin = F.md5(F.concat(F.col("host"), F.lit("|" + lang)))
        dis = F.substring(coin, 1, 1) < F.lit("8")
        tie = (F.substring(coin, 1, 1) >= F.lit("8")) & (
            F.substring(coin, 2, 1) < F.lit("4")
        )
        lines.append(F.when(dis, F.lit(f"Disallow: /{lang}")))
        lines.append(F.when(dis, F.lit(f"Allow: /{lang}/4")))
        lines.append(F.when(tie, F.lit(f"Disallow: /{lang}")))
        lines.append(F.when(tie, F.lit(f"Allow: /{lang}")))
    body = F.concat_ws(
        "\n",
        F.lit("User-agent: evilbot"),
        F.lit("Disallow: /never"),
        F.lit("Allow: /"),
        F.lit("User-agent: *"),
        *lines,
    )
    return hosts.select("host", body.alias("robots_txt"))


def q_robots_precedence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 9309 rule precedence (urls.parse_robots_directives +
    robots_precedence_filter): longest matching prefix wins, Allow wins
    equal-length ties, unmatched urls are 'none' — over a robots corpus
    carrying a longer re-Allow under each Disallowed lang plus an
    equal-length tie pair."""
    from ..operators import urls

    pages = synthesize_pages_df(spark, sf_dir).select("url")
    frontier = pages.select(
        "url",
        F.regexp_extract(
            F.col("url"), r"^[a-zA-Z][a-zA-Z0-9+.\-]*://([^/?#]+)", 1
        ).alias("host"),
    )
    directives = urls.parse_robots_directives(
        _synth_robots_precedence_df(spark, sf_dir)
    )
    return urls.robots_precedence_filter(frontier, directives)


_SQL_ROBOTS_PRECEDENCE = """
WITH pages AS (
  SELECT 'https://' || source || '.example.com/' || lang || '/' || doc_id AS url,
         source || '.example.com' AS host,
         '/' || lang || '/' || doc_id AS path
  FROM documents
),
hl AS (
  SELECT h.host, l.lang,
    substr(md5(h.host || '|' || l.lang), 1, 1) AS c1,
    substr(md5(h.host || '|' || l.lang), 2, 1) AS c2
  FROM (SELECT DISTINCT source || '.example.com' AS host FROM documents) h,
       (SELECT DISTINCT lang FROM documents) l
),
directives AS (
  SELECT host, 'disallow' AS rule, '/' || lang AS prefix FROM hl WHERE c1 < '8'
  UNION
  SELECT host, 'allow', '/' || lang || '/4' FROM hl WHERE c1 < '8'
  UNION
  SELECT host, 'disallow', '/' || lang FROM hl WHERE c1 >= '8' AND c2 < '4'
  UNION
  SELECT host, 'allow', '/' || lang FROM hl WHERE c1 >= '8' AND c2 < '4'
),
matched AS (
  SELECT p.url, p.host,
    lpad(length(d.prefix)::varchar, 4, '0')
      || CASE WHEN d.rule = 'allow' THEN 'b' ELSE 'a' END
      || d.prefix AS enc
  FROM pages p
  LEFT JOIN directives d
    ON p.host = d.host AND starts_with(p.path, d.prefix)
),
win AS (SELECT url, host, max(enc) AS w FROM matched GROUP BY url, host)
SELECT url, host,
  CASE WHEN w IS NULL THEN 'none'
       WHEN substr(w, 5, 1) = 'b' THEN 'allow'
       ELSE 'disallow' END AS verdict,
  CASE WHEN w IS NOT NULL THEN substr(w, 6) END AS rule_prefix
FROM win
"""


def q_robots_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt parse (urls.parse_robots_rules): per-host Disallow
    prefixes for the * agent group, with a decoy section proving the
    window-based section assignment. Oracle restates the synthesis coin."""
    from ..operators import urls

    return urls.parse_robots_rules(_synth_robots_df(spark, sf_dir))


_SQL_ROBOTS_RULES = """
WITH hosts AS (SELECT DISTINCT source || '.example.com' AS host FROM documents),
langs AS (SELECT DISTINCT lang FROM documents)
SELECT host, '/' || lang AS prefix
FROM hosts, langs
WHERE substr(md5(host || '|' || lang), 1, 1) < '8'
"""


def q_frontier_polite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polite crawl frontier: corpus urls ranked by a portable md5 hash ->
    robots Disallow filter (urls.filter_disallowed, LEFT ANTI on host +
    prefix match) -> per-host top-3 fetch budget (urls.politeness_topk).
    The composition every fetch scheduler runs between 'frontier' and
    'fetch'."""
    from ..operators import urls

    pages = synthesize_pages_df(spark, sf_dir).select("url")
    frontier = pages.select(
        "url",
        F.regexp_extract(
            F.col("url"), r"^[a-zA-Z][a-zA-Z0-9+.\-]*://([^/?#]+)", 1
        ).alias("host"),
        F.conv(F.substring(F.md5(F.col("url")), 1, 15), 16, 10)
        .cast("bigint")
        .alias("rank_nano"),
    )
    rules = urls.parse_robots_rules(_synth_robots_df(spark, sf_dir))
    polite = urls.politeness_topk(
        urls.filter_disallowed(frontier, rules), 3
    )
    return polite.orderBy(F.col("host"), F.col("rank_nano").desc(), F.col("url"))


_SQL_FRONTIER_POLITE = f"""
WITH pages AS (
  SELECT 'https://' || source || '.example.com/' || lang || '/' || doc_id AS url,
         source || '.example.com' AS host,
         '/' || lang || '/' || doc_id AS path
  FROM documents
),
frontier AS (
  SELECT url, host,
         ('0x' || substr(md5(url), 1, 15))::bigint AS rank_nano, path
  FROM pages
),
langs AS (SELECT DISTINCT lang FROM documents),
rules AS (
  SELECT DISTINCT host, '/' || lang AS prefix
  FROM (SELECT DISTINCT source || '.example.com' AS host FROM documents), langs
  WHERE substr(md5(host || '|' || lang), 1, 1) < '8'
),
allowed AS (
  SELECT f.url, f.host, f.rank_nano
  FROM frontier f
  WHERE NOT EXISTS (
    SELECT 1 FROM rules r
    WHERE r.host = f.host AND starts_with(f.path, r.prefix)
  )
),
ranked AS (
  SELECT url, host, rank_nano,
         row_number() OVER (PARTITION BY host ORDER BY rank_nano DESC, url) AS rn
  FROM allowed
)
SELECT url, host, rank_nano FROM ranked WHERE rn <= 3
ORDER BY host, rank_nano DESC, url
"""


def q_crawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fetch scheduling (urls.crawl_schedule): the polite frontier (robots
    filter + per-host budget) assigned per-host slots and start offsets
    honoring each host's parsed Crawl-delay."""
    from ..operators import urls

    pages = synthesize_pages_df(spark, sf_dir).select("url")
    frontier = pages.select(
        "url",
        F.regexp_extract(
            F.col("url"), r"^[a-zA-Z][a-zA-Z0-9+.\-]*://([^/?#]+)", 1
        ).alias("host"),
        F.conv(F.substring(F.md5(F.col("url")), 1, 15), 16, 10)
        .cast("bigint")
        .alias("rank_nano"),
    )
    robots = _synth_robots_df(spark, sf_dir)
    polite = urls.politeness_topk(
        urls.filter_disallowed(frontier, urls.parse_robots_rules(robots)), 3
    )
    return urls.crawl_schedule(polite, urls.parse_crawl_delay(robots))


_SQL_CRAWL_SCHEDULE = f"""
WITH pages AS (
  SELECT 'https://' || source || '.example.com/' || lang || '/' || doc_id AS url,
         source || '.example.com' AS host,
         '/' || lang || '/' || doc_id AS path
  FROM documents
),
frontier AS (
  SELECT url, host,
         ('0x' || substr(md5(url), 1, 15))::bigint AS rank_nano, path
  FROM pages
),
langs AS (SELECT DISTINCT lang FROM documents),
rules AS (
  SELECT DISTINCT host, '/' || lang AS prefix
  FROM (SELECT DISTINCT source || '.example.com' AS host FROM documents), langs
  WHERE substr(md5(host || '|' || lang), 1, 1) < '8'
),
delays AS (
  SELECT DISTINCT source || '.example.com' AS host,
    (('0x' || substr(md5(source || '.example.com'), 1, 7))::bigint % 4 + 1)::bigint
      AS delay_sec
  FROM documents
),
allowed AS (
  SELECT f.url, f.host, f.rank_nano
  FROM frontier f
  WHERE NOT EXISTS (
    SELECT 1 FROM rules r
    WHERE r.host = f.host AND starts_with(f.path, r.prefix)
  )
),
budgeted AS (
  SELECT url, host, rank_nano,
         row_number() OVER (PARTITION BY host ORDER BY rank_nano DESC, url) AS rn
  FROM allowed
),
sched AS (
  SELECT host, url, rank_nano AS rank,
         row_number() OVER (PARTITION BY host ORDER BY rank_nano DESC, url)::bigint
           AS slot
  FROM budgeted WHERE rn <= 3
)
SELECT s.host, s.url, s.rank, s.slot,
  ((s.slot - 1) * coalesce(d.delay_sec, 1))::bigint AS fetch_offset_sec
FROM sched s LEFT JOIN delays d ON s.host = d.host
"""


def q_dom_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOM structure statistics (urls.dom_stats) over the synthesized pages
    corpus — the scan-speed pre-filter signals (tag census, nesting depth,
    text density) main-content extraction consults before the Arrow stage."""
    from ..operators import urls

    return urls.dom_stats(synthesize_pages_df(spark, sf_dir))


# the oracle RE-RUNS the identical tag census + encoded depth fold over the
# reconstructed html string (template || text || tail) — not a closed form
_SQL_DOM_STATS = """
WITH pages AS (
  SELECT 'https://' || source || '.example.com/' || lang || '/' || doc_id AS url,
    '<html><head><meta charset="utf-8"><title>Synthetic page</title>'
    || '<script>var t=1;</script></head><body>'
    || '<nav><a href="/">Home</a> <a href="/about">About</a> '
    || '<a href="/contact">Contact</a></nav>'
    || '<div><a href="/promo">Big promo sale click here now</a></div>'
    || '<main><p>' || text || '</p></main>'
    || '<footer><a href="/privacy">Privacy</a> <a href="/terms">Terms</a></footer>'
    || '</body></html>' AS h
  FROM documents
),
t AS (
  SELECT url, h, regexp_extract_all(h, '<[^>]+>') AS tags,
    length(regexp_replace(h, '<[^>]+>', '', 'g'))::bigint AS text_chars,
    length(h)::bigint AS n_chars
  FROM pages
),
f AS (
  SELECT url, tags, text_chars, n_chars,
    list_reduce(
      list_prepend('0', tags),
      (acc, tag) -> (CASE
        WHEN starts_with(tag, '</')
          THEN greatest(acc::bigint // 1048576 - 1, 0) * 1048576
               + acc::bigint % 1048576
        WHEN lower(regexp_extract(tag, '^</?([a-zA-Z0-9]+)', 1)) IN
          ('meta','br','img','hr','input','link','area','base','col',
           'embed','source','track','wbr') THEN acc::bigint
        ELSE (acc::bigint // 1048576 + 1) * 1048576
             + greatest(acc::bigint % 1048576, acc::bigint // 1048576 + 1)
      END)::varchar)::bigint AS enc
  FROM t
)
SELECT url,
  len(tags) AS n_tags,
  len(list_filter(tags, x -> starts_with(x, '</'))) AS n_close,
  len(list_filter(tags, x -> lower(regexp_extract(x, '^</?([a-zA-Z0-9]+)', 1)) IN
    ('meta','br','img','hr','input','link','area','base','col',
     'embed','source','track','wbr'))) AS n_void,
  (enc % 1048576)::bigint AS max_depth,
  len(list_filter(tags, x -> NOT starts_with(x, '</') AND
    lower(regexp_extract(x, '^</?([a-zA-Z0-9]+)', 1)) = 'a')) AS n_links,
  len(list_filter(tags, x -> NOT starts_with(x, '</') AND
    lower(regexp_extract(x, '^</?([a-zA-Z0-9]+)', 1)) = 'script')) AS n_scripts,
  round(CASE WHEN n_chars > 0 THEN text_chars / n_chars::double
             ELSE 0.0::double END, 6) AS text_markup_ratio
FROM f
"""


def _synth_sitemaps_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One synthesized sitemap per corpus host: plain, whitespace-padded and
    CDATA-wrapped <loc> variants per lang (shared by q_sitemap_urls and
    q_sitemap_coverage)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    hl = (
        docs.select(
            F.concat(F.col("source"), F.lit(".example.com")).alias("host"),
            "lang",
        )
        .distinct()
        .select(
            "host",
            F.concat(
                F.lit("<url><loc>https://"), F.col("host"), F.lit("/"),
                F.col("lang"), F.lit("/sm0</loc></url>"),
                F.lit("<url><loc>  https://"), F.col("host"), F.lit("/"),
                F.col("lang"), F.lit("/sm1  </loc></url>"),
                F.lit("<url><loc><![CDATA[https://"), F.col("host"), F.lit("/"),
                F.col("lang"), F.lit("/sm2]]></loc></url>"),
            ).alias("entry"),
        )
    )
    return hl.groupBy("host").agg(
        F.concat(
            F.lit('<?xml version="1.0"?><urlset>'),
            F.array_join(F.array_sort(F.collect_list("entry")), ""),
            F.lit("</urlset>"),
        ).alias("sitemap_xml")
    )


def q_sitemap_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap <loc> extraction (urls.parse_sitemap_urls): the parser must
    normalize plain/padded/CDATA loc variants to match the clean oracle."""
    from ..operators import urls

    out = urls.parse_sitemap_urls(_synth_sitemaps_df(spark, sf_dir))
    return out.orderBy("host", "url")


_SQL_SITEMAP_URLS = """
WITH hl AS (
  SELECT DISTINCT source || '.example.com' AS host, lang FROM documents
),
v AS (SELECT unnest(['sm0', 'sm1', 'sm2']) AS leaf)
SELECT host, 'https://' || host || '/' || lang || '/' || leaf AS url
FROM hl, v
ORDER BY host, url
"""


def q_warc_binary_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-framed WARC parse (sources/warc.py parse_warc_records_binary):
    records whose payload is NOT valid UTF-8 (leading 0x00 0xFF octets), so
    only a genuine octet-offset parse recovers it — a UTF-8 string
    round-trip corrupts the payload and fails the md5. Payload integrity is
    checked via md5 over the lowercase hex of the bytes (DuckDB has no
    md5(BLOB); hex is portable)."""
    from ..sources.warc import parse_warc_records_binary, synthesize_warc_binary_df

    _utc(spark)
    parsed = parse_warc_records_binary(synthesize_warc_binary_df(spark, sf_dir))
    return parsed.select(
        "url",
        F.col("warc_ts").cast("long").alias("ts_epoch"),
        "content_length",
        F.md5(F.lower(F.hex("payload"))).alias("payload_md5"),
        (F.col("content_length") == F.octet_length("payload"))
        .cast("int")
        .alias("length_ok"),
    )


def _sql_warc_binary_parse() -> str:
    from ..sources.pages import _TEMPLATE_HEAD, _TEMPLATE_TAIL

    html = f"'{_TEMPLATE_HEAD}' || text || '{_TEMPLATE_TAIL}'"
    blob = rf"'\x00\xFF'::blob || encode({html})"
    return f"""
SELECT 'https://' || source || '.example.com/' || lang || '/' || doc_id
         AS url,
  (1704067200 + doc_id)::bigint AS ts_epoch,
  octet_length({blob})::bigint AS content_length,
  md5(lower(to_hex({blob}))) AS payload_md5,
  1::int AS length_ok
FROM documents
"""


def q_anchor_texts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text extraction (urls.extract_anchor_texts): out-links WITH
    inner text from the template corpus — two codegen regexp_extract_all
    passes zipped positionally, one posexplode, no UDF."""
    from ..operators import urls

    return urls.extract_anchor_texts(synthesize_pages_df(spark, sf_dir))


_ANCHOR_SQL_PAT = '<a href="([^"]*)"[^>]*>([^<]*)</a>'


def _sql_anchor_texts() -> str:
    from ..sources.pages import _TEMPLATE_HEAD, _TEMPLATE_TAIL

    return f"""
WITH pages AS (
  SELECT 'https://' || source || '.example.com/' || lang || '/' || doc_id
           AS url,
         '{_TEMPLATE_HEAD}' || text || '{_TEMPLATE_TAIL}' AS html
  FROM documents
),
e AS (
  SELECT url,
    lower(coalesce(regexp_extract(url,
      '^([a-zA-Z][a-zA-Z0-9+.\\-]*)://', 1), '')) AS scheme,
    lower(coalesce(regexp_extract(url,
      '^[a-zA-Z][a-zA-Z0-9+.\\-]*://([^/?#]+)', 1), '')) AS host,
    regexp_extract_all(html, '{_ANCHOR_SQL_PAT}', 1) AS hrefs,
    regexp_extract_all(html, '{_ANCHOR_SQL_PAT}', 2) AS texts
  FROM pages
),
l AS (
  SELECT url, scheme, host,
    unnest(range(len(hrefs))) AS link_pos,
    unnest(hrefs) AS href, unnest(texts) AS txt
  FROM e
)
SELECT url, link_pos::bigint AS link_pos, href,
  trim(regexp_replace(txt, '\\s+', ' ', 'g')) AS anchor_text,
  CASE WHEN href LIKE '//%' THEN scheme || ':' || href
       WHEN href LIKE '/%' THEN scheme || '://' || host || href
       ELSE href END AS resolved
FROM l
"""


def q_image_alt_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image/alt-text pair mining (urls.extract_image_alt_pairs) over an
    img-decorated corpus: lowercase double-quoted, uppercase
    single-quoted attribute-swapped, alt-less (dropped) and src-less
    (dropped) tags all planted; one page-sized regex scan, no UDF."""
    from ..operators import urls as urlops

    d = _docs(spark, sf_dir)
    did = F.col("doc_id").cast("string")
    img_b = F.when(
        F.col("doc_id") % 4 == 0,
        F.concat(
            F.lit("<IMG ALT='Logo  "),
            F.col("lang"),
            F.lit("' SRC='https://cdn.example.com/l/"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".png'/>"),
        ),
    ).otherwise(F.lit(""))
    img_c = F.when(
        F.col("doc_id") % 5 == 0, F.lit('<img src="//static.example.org/s.gif">')
    ).otherwise(F.lit(""))
    img_d = F.when(
        F.col("doc_id") % 7 == 0, F.lit('<img alt="orphan caption" src="">')
    ).otherwise(F.lit(""))
    html = F.encode(
        F.concat(
            F.lit("<html><body><p>"),
            F.substring("text", 1, 50),
            F.lit('</p><img src="/media/'),
            did,
            F.lit('.jpg" alt="'),
            F.substring("text", 1, 30),
            F.lit('">'),
            img_b,
            img_c,
            img_d,
            F.lit("</body></html>"),
        ),
        "UTF-8",
    )
    pages = d.select(
        F.concat(
            F.lit("https://img"),
            (F.col("doc_id") % 5).cast("string"),
            F.lit(".example.org/p/"),
            did,
        ).alias("url"),
        html.alias("html"),
    )
    return urlops.extract_image_alt_pairs(pages)


_SQL_IMAGE_ALT_PAIRS = r"""
WITH pages AS (
  SELECT 'https://img' || (doc_id % 5) || '.example.org/p/' || doc_id AS url,
    '<html><body><p>' || substr(text, 1, 50) || '</p>'
    || '<img src="/media/' || doc_id || '.jpg" alt="'
    || substr(text, 1, 30) || '">'
    || CASE WHEN doc_id % 4 = 0
         THEN '<IMG ALT=''Logo  ' || lang
              || ''' SRC=''https://cdn.example.com/l/' || (doc_id % 7)
              || '.png''/>'
         ELSE '' END
    || CASE WHEN doc_id % 5 = 0
         THEN '<img src="//static.example.org/s.gif">' ELSE '' END
    || CASE WHEN doc_id % 7 = 0
         THEN '<img alt="orphan caption" src="">' ELSE '' END
    || '</body></html>' AS html
  FROM documents
),
e AS (
  SELECT url,
    lower(coalesce(regexp_extract(url,
      '^([a-zA-Z][a-zA-Z0-9+.\-]*)://', 1), '')) AS scheme,
    lower(coalesce(regexp_extract(url,
      '^[a-zA-Z][a-zA-Z0-9+.\-]*://([^/?#]+)', 1), '')) AS host,
    regexp_extract_all(html, '(?i)<img\b[^>]*>', 0) AS tags
  FROM pages
),
l AS (
  SELECT url, scheme, host,
    unnest(range(len(tags))) AS img_pos,
    unnest(tags) AS frag
  FROM e
),
x AS (
  SELECT url, img_pos::bigint AS img_pos, scheme, host,
    coalesce(regexp_extract(frag,
      '(?i)\bsrc\s*=\s*["'']([^"'']*)["'']', 1), '') AS src,
    trim(regexp_replace(coalesce(regexp_extract(frag,
      '(?i)\balt\s*=\s*["'']([^"'']*)["'']', 1), ''), '\s+', ' ', 'g'))
      AS alt_text
  FROM l
),
rr AS (
  SELECT url, img_pos,
    CASE WHEN src LIKE '//%' THEN scheme || ':' || src
         WHEN src LIKE '/%' THEN scheme || '://' || host || src
         ELSE src END AS img_url,
    alt_text
  FROM x
)
SELECT url, img_pos, img_url, alt_text, length(alt_text)::bigint AS alt_len
FROM rr
WHERE img_url <> '' AND alt_text <> ''
"""


def q_anchor_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted anchor index (urls.anchor_text_index): per target url,
    in-link count, distinct anchor phrases, dominant phrase — two map-side-
    combined shuffles keyed on target, max(struct) top-1, no window."""
    from ..operators import urls

    links = urls.extract_anchor_texts(synthesize_pages_df(spark, sf_dir))
    return urls.anchor_text_index(links)


def _sql_anchor_index() -> str:
    base = _sql_anchor_texts()
    return f"""
WITH links AS ({base}),
pp AS (
  SELECT resolved AS target, lower(anchor_text) AS phrase,
         count(*)::bigint AS cnt
  FROM links WHERE lower(anchor_text) <> ''
  GROUP BY target, phrase
),
ranked AS (
  SELECT target, phrase, cnt,
    sum(cnt) OVER (PARTITION BY target)::bigint AS n_links,
    count(*) OVER (PARTITION BY target)::bigint AS n_phrases,
    row_number() OVER (PARTITION BY target ORDER BY cnt DESC, phrase DESC)
      AS rn
  FROM pp
)
SELECT target, n_links, n_phrases, phrase AS top_phrase, cnt AS top_count
FROM ranked WHERE rn = 1
"""


def q_html_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML head metadata (urls.extract_html_metadata): title / description /
    canonical / charset from a synthesized head-rich corpus in which each
    field is present for only a doc_id-derived subset — the NULL paths are
    exercised, not just the happy path. Pure codegen regexp, no UDF."""
    from ..operators import urls

    doc_id = F.col("doc_id")
    did = doc_id.cast("string")
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/"),
        F.col("lang"), F.lit("/"), did,
    )
    charset_part = F.when(
        doc_id % 5 != 0, F.lit('<meta charset="UTF-8">')
    ).otherwise(F.lit(""))
    desc_part = F.when(
        doc_id % 3 != 0,
        F.concat(
            F.lit('<meta name="description" content="'),
            F.substring("text", 1, 32), F.lit('">'),
        ),
    ).otherwise(F.lit(""))
    canon_part = F.when(
        doc_id % 2 == 0,
        F.concat(
            F.lit('<link rel="canonical" href="https://'), F.col("source"),
            F.lit(".example.com/"), did, F.lit('">'),
        ),
    ).otherwise(F.lit(""))
    html = F.encode(
        F.concat(
            F.lit("<html><head>"), charset_part,
            F.lit("<title>  Doc "), did, F.lit("  of  "),
            F.col("source"), F.lit(" </title>"),
            desc_part, canon_part,
            F.lit("</head><body><p>"), F.col("text"),
            F.lit("</p></body></html>"),
        ),
        "UTF-8",
    )
    pages = _docs(spark, sf_dir).select(url.alias("url"), html.alias("html"))
    return urls.extract_html_metadata(pages)


_SQL_HTML_METADATA = """
WITH pages AS (
  SELECT 'https://' || source || '.example.com/' || lang || '/' || doc_id
           AS url,
    '<html><head>'
    || CASE WHEN doc_id % 5 <> 0 THEN '<meta charset="UTF-8">' ELSE '' END
    || '<title>  Doc ' || doc_id || '  of  ' || source || ' </title>'
    || CASE WHEN doc_id % 3 <> 0 THEN '<meta name="description" content="'
         || substring(text, 1, 32) || '">' ELSE '' END
    || CASE WHEN doc_id % 2 = 0 THEN '<link rel="canonical" href="https://'
         || source || '.example.com/' || doc_id || '">' ELSE '' END
    || '</head><body><p>' || text || '</p></body></html>' AS html
  FROM documents
)
SELECT url,
  nullif(trim(regexp_replace(coalesce(
    regexp_extract(html, '<title>([^<]*)</title>', 1), ''),
    '\\s+', ' ', 'g')), '') AS title,
  nullif(coalesce(regexp_extract(html,
    '<meta name="description" content="([^"]*)"', 1), ''), '')
    AS meta_description,
  nullif(coalesce(regexp_extract(html,
    '<link rel="canonical" href="([^"]*)"', 1), ''), '') AS canonical_url,
  lower(nullif(coalesce(regexp_extract(html,
    '<meta charset="([^"]*)"', 1), ''), '')) AS charset
FROM pages
"""


def q_cdx_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDX capture index (sources/warc.cdx_index): octet offset + length +
    payload digest per record, offsets a per-file running sum — the window
    partitions by warc_file so files parallelize and no global order
    exists anywhere in the plan."""
    from ..sources.warc import cdx_index, synthesize_warc_files_df

    _utc(spark)
    return cdx_index(synthesize_warc_files_df(spark, sf_dir))


def _sql_cdx_index() -> str:
    from ..sources.pages import _TEMPLATE_HEAD, _TEMPLATE_TAIL

    html = f"'{_TEMPLATE_HEAD}' || text || '{_TEMPLATE_TAIL}'"
    crlf = "chr(13) || chr(10)"
    return f"""
WITH r1 AS (
  SELECT source || '.example.com.warc' AS warc_file,
    doc_id AS record_idx,
    'https://' || source || '.example.com/' || lang || '/' || doc_id AS url,
    (1704067200 + doc_id)::bigint AS ts_epoch,
    '\\x00\\xFF'::blob || encode({html}) AS payload
  FROM documents
),
r2 AS (
  SELECT *, octet_length(payload)::bigint AS clen FROM r1
),
r3 AS (
  SELECT *,
    'WARC/1.0' || {crlf} || 'WARC-Type: response' || {crlf}
    || 'WARC-Target-URI: ' || url || {crlf}
    || 'WARC-Date: '
    || strftime(epoch_ms(ts_epoch * 1000), '%Y-%m-%dT%H:%M:%SZ') || {crlf}
    || 'Content-Length: ' || clen || {crlf} || {crlf} AS head
  FROM r2
),
r4 AS (
  SELECT *, (octet_length(encode(head)) + clen)::bigint AS reclen FROM r3
)
SELECT warc_file, url, ts_epoch,
  coalesce(sum(reclen) OVER (PARTITION BY warc_file ORDER BY record_idx
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::bigint
    AS rec_offset,
  reclen AS length,
  sha256(lower(to_hex(payload))) AS digest
FROM r4
"""


def q_cdx_revisits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot revisit elimination (sources/warc.revisit_dedup): the
    snapshot-1 capture index unioned with a day-later recrawl in which half
    the urls (portable md5 coin) kept their payload digest — those collapse
    to revisit records pointing at the snapshot-1 (file, offset)."""
    from ..sources.warc import cdx_index, revisit_dedup, synthesize_warc_files_df

    _utc(spark)
    snap1 = cdx_index(synthesize_warc_files_df(spark, sf_dir)).select(
        "url", "ts_epoch", "warc_file", "rec_offset", "digest"
    )
    unchanged = F.substring(F.md5(F.col("url")), 1, 1) < "8"
    snap2 = snap1.select(
        "url",
        (F.col("ts_epoch") + 86400).alias("ts_epoch"),
        F.concat(F.col("warc_file"), F.lit("-2")).alias("warc_file"),
        "rec_offset",
        F.when(unchanged, F.col("digest"))
        .otherwise(F.sha2(F.concat(F.col("digest"), F.lit("v2")), 256))
        .alias("digest"),
    )
    return revisit_dedup(snap1.unionByName(snap2))


def _sql_cdx_revisits() -> str:
    # nested-CTE subquery: DuckDB allows a full WITH...SELECT inside the
    # parenthesized CTE body, so the cdx oracle is reused verbatim
    return f"""
WITH idx AS ({_sql_cdx_index()}),
snap1 AS (SELECT url, ts_epoch, warc_file, rec_offset, digest FROM idx),
snap2 AS (
  SELECT url, ts_epoch + 86400 AS ts_epoch, warc_file || '-2' AS warc_file,
    rec_offset,
    CASE WHEN substr(md5(url), 1, 1) < '8' THEN digest
         ELSE sha256(digest || 'v2') END AS digest
  FROM snap1
),
allc AS (SELECT * FROM snap1 UNION ALL SELECT * FROM snap2),
e AS (
  SELECT *, lpad(ts_epoch::varchar, 12, '0') || chr(9) || url || chr(9)
    || warc_file || chr(9) || lpad(rec_offset::varchar, 12, '0') AS enc
  FROM allc
),
firsts AS (SELECT digest, min(enc) AS f FROM e GROUP BY digest)
SELECT url, ts_epoch, warc_file, rec_offset, digest,
  CASE WHEN enc = f THEN 'response' ELSE 'revisit' END AS kind,
  CASE WHEN enc <> f THEN split_part(f, chr(9), 3) END AS orig_file,
  CASE WHEN enc <> f THEN split_part(f, chr(9), 4)::bigint END AS orig_offset
FROM e JOIN firsts USING (digest)
"""


def q_pdf_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PDF roundtrip (pdf.py + multimodal.pdf_extract): each document's
    words are chunked into layout blocks of up to two lines, written into a
    one-page PDF in REVERSED stream order, and the parser must reorder by
    coordinates (top-down, left-right) and re-merge lines into blocks to
    reproduce the original text — stream order alone fails the oracle."""
    import math as _math

    import pandas as _pd

    from ..operators import multimodal
    from ..pdf import encode_simple_pdf

    def _synth(batches):
        for pdf in batches:
            payloads = []
            for text in pdf["text"]:
                words = (text or "").split()
                n = len(words)
                runs = []
                if n:
                    chunk_len = (n + 7) // 8
                    m = (n + chunk_len - 1) // chunk_len
                    for k in range(m):
                        chunk = words[k * chunk_len : (k + 1) * chunk_len]
                        y_top = 720.0 - 40.0 * k
                        if len(chunk) >= 2:
                            half = _math.ceil(len(chunk) / 2)
                            runs.append((72.0, y_top, " ".join(chunk[:half])))
                            runs.append(
                                (72.0, y_top - 14.0, " ".join(chunk[half:]))
                            )
                        else:
                            runs.append((72.0, y_top, chunk[0]))
                payloads.append(encode_simple_pdf(list(reversed(runs))))
            yield _pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StructField,
        StructType,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    payloads = docs.mapInPandas(
        _synth,
        StructType(
            [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
        ),
    )
    return multimodal.pdf_extract(payloads)


_SQL_PDF_EXTRACT = """
WITH w AS (
  SELECT doc_id,
    CASE WHEN trim(text) = '' THEN 0
         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n,
    trim(regexp_replace(text, '\\s+', ' ', 'g')) AS norm
  FROM documents
),
c AS (
  SELECT doc_id, n, norm,
    CASE WHEN n = 0 THEN 0 ELSE (n + 7) // 8 END AS chunk_len
  FROM w
),
m AS (
  SELECT doc_id, n, norm, chunk_len,
    CASE WHEN n = 0 THEN 0
         ELSE (n + chunk_len - 1) // chunk_len END AS n_blocks,
    CASE WHEN n = 0 THEN 0
         ELSE n - ((n + chunk_len - 1) // chunk_len - 1) * chunk_len
    END AS last_size
  FROM c
)
SELECT doc_id,
  CASE WHEN n = 0 THEN 0
       WHEN chunk_len = 1 THEN n
       ELSE 2 * (n_blocks - 1) + (CASE WHEN last_size >= 2 THEN 2 ELSE 1 END)
  END::int AS n_runs,
  n_blocks::int AS n_blocks,
  norm AS extracted_text,
  NULL::varchar AS error
FROM m
"""


def _synth_ahash_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 8x8 grayscale PNGs with planted near-dups: image
    depends only on (doc_id % 50, (doc_id // 50) % 2) — 5-way exact copies
    within each (group, variant), one strongly-flipped corner pixel between
    variants, pseudo-random across groups (expected hamming ~32)."""
    import pandas as _pd

    from ..codecs import encode_png

    def _synth(batches):
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                g = int(doc_id) % 50
                q = (int(doc_id) // 50) % 2
                px = bytearray(
                    ((i + 1) * 37 * (2 * g + 1)) % 256 for i in range(64)
                )
                if q:
                    px[0] = 255
                payloads.append(encode_png(8, 8, bytes(px), color_type=0))
            yield _pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StructField,
        StructType,
    )

    return _spread(_docs(spark, sf_dir).select("doc_id")).mapInPandas(
        _synth,
        StructType(
            [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
        ),
    )


def q_image_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual average-hash per image (multimodal.image_ahash): REAL PNG
    decode then 64-bit mean-threshold hash; the oracle recomputes the hash
    closed-form from the synthesis formula, so decode + hash must both be
    exact."""
    from ..operators import multimodal

    return multimodal.image_ahash(_synth_ahash_images(spark, sf_dir))


_SQL_AHASH_BITS = """
px AS (
  SELECT doc_id,
    list_transform(range(64), i ->
      CASE WHEN i = 0 AND ((doc_id // 50) % 2) = 1 THEN 255
           ELSE ((i + 1) * 37 * (2 * (doc_id % 50) + 1)) % 256 END) AS p
  FROM documents
),
bits AS (
  SELECT doc_id,
    list_transform(range(64), i ->
      CASE WHEN 64 * p[i + 1] > list_sum(p) THEN 1 ELSE 0 END) AS b
  FROM px
)
"""


_SQL_IMAGE_AHASH = (
    "WITH "
    + _SQL_AHASH_BITS
    + """
SELECT doc_id,
  array_to_string(list_transform(range(16), k ->
    substring('0123456789abcdef',
      8 * b[4 * k + 1] + 4 * b[4 * k + 2] + 2 * b[4 * k + 3] + b[4 * k + 4]
        + 1, 1)), '') AS ahash_hex,
  NULL::varchar AS error
FROM bits
"""
)


def q_image_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup pairs (multimodal.image_near_pairs): pigeonhole
    chunk-join over the aHash, hamming <= 3 verified by bit_count(xor) —
    the oracle recomputes every hash closed-form and does the exact
    all-pairs hamming filter, so the chunk candidates must be complete."""
    from ..operators import multimodal

    sigs = multimodal.image_ahash(_synth_ahash_images(spark, sf_dir))
    return multimodal.image_near_pairs(sigs, max_hamming=3)


_SQL_IMAGE_NEAR_PAIRS = (
    "WITH "
    + _SQL_AHASH_BITS
    + """
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  len(list_filter(range(64), i -> a.b[i + 1] <> b.b[i + 1]))::int AS hamming
FROM bits a JOIN bits b ON a.doc_id < b.doc_id
WHERE len(list_filter(range(64), i -> a.b[i + 1] <> b.b[i + 1])) <= 3
"""
)


def q_extraction_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extraction-quality scorer (textops.extraction_eval): the prediction
    keeps the template boilerplate (nav/footer anchor words) around the
    gold body, so precision < 1 and recall = 1 — the metrics must measure
    the planted token differences exactly (floor-ppm integer math)."""
    from ..operators import textops

    docs = _docs(spark, sf_dir)
    pred = F.concat(
        F.lit("Home About Contact Big promo sale click here now "),
        F.col("text"),
        F.lit(" Privacy Terms"),
    )
    return textops.extraction_eval(
        docs.select(
            "doc_id",
            pred.alias("extracted_text"),
            F.col("text").alias("gold_text"),
        )
    )


_SQL_EXTRACTION_EVAL = """
WITH base AS (
  SELECT doc_id,
    'Home About Contact Big promo sale click here now ' || text
      || ' Privacy Terms' AS pred,
    text AS gold
  FROM documents
),
ac AS (
  SELECT doc_id, tok, count(*)::bigint AS ca FROM (
    SELECT doc_id, unnest(string_split_regex(trim(pred), '\\s+')) AS tok
    FROM base WHERE trim(pred) <> ''
  ) GROUP BY doc_id, tok
),
bc AS (
  SELECT doc_id, tok, count(*)::bigint AS cb FROM (
    SELECT doc_id, unnest(string_split_regex(trim(gold), '\\s+')) AS tok
    FROM base WHERE trim(gold) <> ''
  ) GROUP BY doc_id, tok
),
j AS (
  SELECT coalesce(ac.doc_id, bc.doc_id) AS doc_id,
    coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
  FROM ac FULL OUTER JOIN bc
    ON ac.doc_id = bc.doc_id AND ac.tok = bc.tok
),
p AS (
  SELECT doc_id, sum(least(ca, cb))::bigint AS inter,
    sum(ca)::bigint AS na, sum(cb)::bigint AS nb
  FROM j GROUP BY doc_id
)
SELECT doc_id, na AS pred_tokens, nb AS gold_tokens, inter AS overlap_tokens,
  (CASE WHEN na > 0 THEN inter * 1000000 // na ELSE 0 END)::bigint
    AS precision_ppm,
  (CASE WHEN nb > 0 THEN inter * 1000000 // nb ELSE 0 END)::bigint
    AS recall_ppm,
  (CASE WHEN na + nb > 0 THEN 2 * inter * 1000000 // (na + nb) ELSE 0 END)
    ::bigint AS f1_ppm
FROM p
"""


def q_crawl_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier prioritization — the composition the webtext operators
    exist for: out-links (urls.extract_links) -> canonicalize -> anti-join
    the already-crawled url set -> attach the host's PageRank -> top-100 by
    (rank desc, url asc). Every stage is an existing oracle-checked
    operator; this query checks their COMPOSITION end to end."""
    from ..operators import graph, urls

    pages = synthesize_pages_df(spark, sf_dir)
    links = urls.extract_links(pages)
    canon = urls.canonicalize_urls(links.select(F.col("resolved").alias("url")))
    cand = canon.select(F.col("canonical_url").alias("url")).distinct()
    seen = pages.select("url").distinct()
    frontier = cand.join(seen.hint("shuffle_hash"), "url", "left_anti")
    # host rank from the SHARED deterministic host graph (one definition,
    # both queries — see _host_graph_edges)
    ranks = graph.pagerank(_host_graph_edges(spark, sf_dir)).select(
        F.concat(F.col("node"), F.lit(".example.com")).alias("host"), "rank_nano"
    )
    # The rank table is per-HOST, far smaller than the page corpus, but at
    # Common-Crawl scale hosts are still ~1e8 rows — never driver-funneled
    # through a broadcast. shuffle_hash keeps it a co-partitioned exchange
    # (VERDICT r2 "What's wrong" #1); plan-locked by
    # tests/test_operators.py::test_graph_frontier_plans_have_no_corpus_broadcasts.
    out = frontier.select(
        "url",
        F.regexp_extract(
            F.col("url"), r"^[a-zA-Z][a-zA-Z0-9+.\-]*://([^/?#]+)", 1
        ).alias("host"),
    ).join(ranks.hint("shuffle_hash"), "host")
    return (
        out.select("url", "host", "rank_nano")
        .orderBy(F.col("rank_nano").desc(), F.col("url"))
        .limit(100)
    )


def _sql_crawl_frontier() -> str:
    from ..sources.pages import _TEMPLATE_HEAD, _TEMPLATE_TAIL

    ctes, final = _sql_host_pagerank_ctes()
    return (
        "WITH "
        + ctes
        + f""",
ranks AS (
  SELECT node || '.example.com' AS host,
         floor(rank * 1000000000.0)::bigint AS rank_nano
  FROM {final}
),
pages AS (
  SELECT 'https://' || source || '.example.com/' || lang || '/' || doc_id
           AS url,
         '{_TEMPLATE_HEAD}' || text || '{_TEMPLATE_TAIL}' AS html
  FROM documents
),
le AS (
  SELECT url,
    lower(coalesce(regexp_extract(url,
      '^([a-zA-Z][a-zA-Z0-9+.\\-]*)://', 1), '')) AS scheme,
    lower(coalesce(regexp_extract(url,
      '^[a-zA-Z][a-zA-Z0-9+.\\-]*://([^/?#]+)', 1), '')) AS phost,
    regexp_extract_all(html, 'href="([^"]*)"', 1) AS hrefs
  FROM pages
),
ll AS (SELECT scheme, phost, unnest(hrefs) AS href FROM le),
resolved AS (
  SELECT DISTINCT CASE WHEN href LIKE '//%' THEN scheme || ':' || href
       WHEN href LIKE '/%' THEN scheme || '://' || phost || href
       ELSE href END AS url
  FROM ll
),
-- resolved urls are already canonical (https, no port/query/fragment,
-- root path kept) so canonicalization is the identity here; the Spark side
-- runs the full canonicalizer to prove that
frontier AS (
  SELECT r.url FROM resolved r
  WHERE NOT EXISTS (SELECT 1 FROM pages p WHERE p.url = r.url)
),
fh AS (
  SELECT url,
    coalesce(regexp_extract(url,
      '^[a-zA-Z][a-zA-Z0-9+.\\-]*://([^/?#]+)', 1), '') AS host
  FROM frontier
)
SELECT url, host, rank_nano
FROM fh JOIN ranks USING (host)
ORDER BY rank_nano DESC, url LIMIT 100
"""
    )



def q_jsonld_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """schema.org JSON-LD blocks (urls.extract_jsonld) over a synthesized
    corpus where Article/Product blocks are present for doc_id-derived
    subsets and every doc_id%7==0 page carries a MALFORMED block — the
    parse_ok=0 error-isolation path is exercised, not just the happy
    path. regexp_extract_all + posexplode + from_json, all JVM-side."""
    from ..operators import urls

    doc_id = F.col("doc_id")
    did = doc_id.cast("string")
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/"),
        F.col("lang"), F.lit("/"), did,
    )
    day = F.lpad(((doc_id % 28) + 1).cast("string"), 2, "0")
    article = F.when(
        doc_id % 2 == 0,
        F.concat(
            F.lit('<script type="application/ld+json">'
                  '{"@context":"https://schema.org","@type":"Article",'
                  '"name":"Doc '),
            did,
            F.lit('","datePublished":"2024-01-'), day,
            F.lit('"}</script>'),
        ),
    ).otherwise(F.lit(""))
    product = F.when(
        doc_id % 3 == 0,
        F.concat(
            F.lit('<script type="application/ld+json">'
                  '{"@type":"Product","name":"Item '),
            did, F.lit('","sku":"SKU-'), did, F.lit('"}</script>'),
        ),
    ).otherwise(F.lit(""))
    broken = F.when(
        doc_id % 7 == 0,
        F.lit('<script type="application/ld+json">'
              '{"@type":"Broken","name":</script>'),
    ).otherwise(F.lit(""))
    html = F.encode(
        F.concat(
            F.lit("<html><head>"), article, product, broken,
            F.lit("</head><body></body></html>"),
        ),
        "UTF-8",
    )
    pages = _docs(spark, sf_dir).select(url.alias("url"), html.alias("html"))
    return urls.extract_jsonld(pages)


_SQL_JSONLD_EXTRACT = r"""
WITH pages AS (
  SELECT 'https://' || source || '.example.com/' || lang || '/' || doc_id
           AS url,
    '<html><head>'
    || CASE WHEN doc_id % 2 = 0 THEN
         '<script type="application/ld+json">{"@context":"https://schema.org","@type":"Article","name":"Doc '
         || doc_id || '","datePublished":"2024-01-'
         || lpad(((doc_id % 28) + 1)::varchar, 2, '0') || '"}</script>'
       ELSE '' END
    || CASE WHEN doc_id % 3 = 0 THEN
         '<script type="application/ld+json">{"@type":"Product","name":"Item '
         || doc_id || '","sku":"SKU-' || doc_id || '"}</script>'
       ELSE '' END
    || CASE WHEN doc_id % 7 = 0 THEN
         '<script type="application/ld+json">{"@type":"Broken","name":</script>'
       ELSE '' END
    || '</head><body></body></html>' AS html
  FROM documents
),
b AS (
  SELECT url,
    unnest(regexp_extract_all(html,
      '<script type="application/ld\+json">([^<]*)</script>', 1)) AS raw,
    unnest(range(len(regexp_extract_all(html,
      '<script type="application/ld\+json">([^<]*)</script>', 1)))) AS i
  FROM pages
)
SELECT url, i::int AS block_idx,
  json_valid(raw)::int AS parse_ok,
  CASE WHEN json_valid(raw)
       THEN json_extract_string(raw, '$."@type"') END AS jtype,
  CASE WHEN json_valid(raw)
       THEN json_extract_string(raw, '$.name') END AS name,
  (CASE WHEN json_valid(raw) THEN len(json_keys(raw)) ELSE 0 END)::int
    AS n_keys
FROM b
"""


def q_hreflang_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hreflang cluster confirmation (urls.extract_hreflang +
    urls.hreflang_reciprocity): docs form 3-language clusters (doc_id div
    3); each member declares alternates to all three cluster URLs
    (including itself, per Google guidance) EXCEPT every 5th doc, which
    declares nothing — so edges INTO it are non-reciprocal, and edges to
    cluster slots with no backing doc (the ragged final cluster) are
    dangling. The confirmation self-join is shuffle_hash, never broadcast
    (both sides are the corpus-scale edge table)."""
    from ..operators import urls

    d = _docs(spark, sf_dir)
    doc_id = F.col("doc_id")
    cluster = F.expr("doc_id div 3").cast("string")
    langs = ("en", "de", "fr")
    own_lang = F.element_at(
        F.array(*[F.lit(x) for x in langs]), (doc_id % 3 + 1).cast("int")
    )
    url = F.concat(
        F.lit("https://h.example.com/"), own_lang, F.lit("/"), cluster
    )

    def tag(lg: str):
        return F.concat(
            F.lit(
                f'<link rel="alternate" hreflang="{lg}" '
                f'href="https://h.example.com/{lg}/'
            ),
            cluster,
            F.lit('">'),
        )

    tags = F.when(
        doc_id % 5 != 0, F.concat(*[tag(lg) for lg in langs])
    ).otherwise(F.lit(""))
    html = F.encode(
        F.concat(F.lit("<html><head>"), tags, F.lit("</head></html>")),
        "UTF-8",
    )
    pages = d.select(url.alias("url"), html.alias("html"))
    return urls.hreflang_reciprocity(urls.extract_hreflang(pages))


_SQL_HREFLANG_RECIPROCITY = """
WITH d AS (
  SELECT doc_id, doc_id // 3 AS c,
         ['en','de','fr'][(doc_id % 3)::int + 1] AS lang
  FROM documents
),
edges AS (
  SELECT 'https://h.example.com/' || d.lang || '/' || d.c AS url,
         l.lang AS hreflang,
         'https://h.example.com/' || l.lang || '/' || d.c AS target
  FROM d, (SELECT unnest(['en','de','fr']) AS lang) l
  WHERE d.doc_id % 5 <> 0
),
back AS (SELECT DISTINCT url, target FROM edges)
SELECT e.url, e.hreflang, e.target,
  (b.url IS NOT NULL)::int AS reciprocal
FROM edges e LEFT JOIN back b ON b.url = e.target AND b.target = e.url
"""


_FEED_MONTHS = (
    "Jan", "Feb", "Mar", "Apr", "May", "Jun",
    "Jul", "Aug", "Sep", "Oct", "Nov", "Dec",
)


def q_feed_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RSS/Atom feed parsing (urls.parse_feed_entries): even docs become
    RSS feeds with two <item>s (RFC-822 pubDate with weekday prefix and
    GMT suffix; every 14th doc's first item carries a MALFORMED date so
    the NULL pub_epoch path is exercised), odd docs become Atom feeds
    with one <entry> (ISO-8601 Zulu <updated>). Pure codegen regexp +
    try_to_timestamp — no UDF, no shuffle."""
    from ..operators import urls

    _utc(spark)
    d = _docs(spark, sf_dir)
    doc_id = F.col("doc_id")
    did = doc_id.cast("string")
    months = F.array(*[F.lit(m) for m in _FEED_MONTHS])

    def p2(col):
        return F.lpad(col.cast("string"), 2, "0")

    def rss_item(i: int):
        k = doc_id + i
        date = F.concat(
            F.lit("Mon, "), p2(k % 28 + 1), F.lit(" "),
            F.element_at(months, (k % 12 + 1).cast("int")),
            F.lit(" 2024 "), p2(k % 24), F.lit(":00:00 GMT"),
        )
        if i == 0:
            date = F.when(doc_id % 14 == 0, F.lit("not a date")).otherwise(date)
        return F.concat(
            F.lit(f"<item><title>Item "), did, F.lit(f"-{i}</title>"),
            F.lit("<link>https://feeds.example.com/"), did, F.lit(f"/{i}</link>"),
            F.lit("<guid>g-"), did, F.lit(f"-{i}</guid>"),
            F.lit("<pubDate>"), date, F.lit("</pubDate></item>"),
        )

    rss_xml = F.concat(
        F.lit("<rss><channel>"), rss_item(0), rss_item(1),
        F.lit("</channel></rss>"),
    )
    atom_updated = F.concat(
        F.lit("2024-"), p2(doc_id % 12 + 1), F.lit("-"), p2(doc_id % 28 + 1),
        F.lit("T"), p2(doc_id % 24), F.lit(":00:00Z"),
    )
    atom_xml = F.concat(
        F.lit("<feed><entry><title>Entry "), did, F.lit("</title>"),
        F.lit('<link href="https://feeds.example.com/a/'), did, F.lit('"/>'),
        F.lit("<id>tag:"), did, F.lit("</id>"),
        F.lit("<updated>"), atom_updated, F.lit("</updated></entry></feed>"),
    )
    xml = F.encode(
        F.when(doc_id % 2 == 0, rss_xml).otherwise(atom_xml), "UTF-8"
    )
    feeds = d.select(
        F.concat(F.lit("https://feeds.example.com/f/"), did).alias("url"),
        xml.alias("xml"),
    )
    return urls.parse_feed_entries(feeds)


_SQL_FEED_ENTRIES = """
WITH d AS (SELECT doc_id FROM documents),
rss AS (
  SELECT 'https://feeds.example.com/f/' || doc_id AS feed_url,
    'rss' AS kind, i::int AS entry_idx,
    'Item ' || doc_id || '-' || i AS title,
    'https://feeds.example.com/' || doc_id || '/' || i AS link,
    'g-' || doc_id || '-' || i AS guid,
    CASE WHEN i = 0 AND doc_id % 14 = 0 THEN NULL
         ELSE epoch(make_timestamp(2024,
            ((doc_id + i) % 12)::int + 1, ((doc_id + i) % 28)::int + 1,
            ((doc_id + i) % 24)::int, 0, 0))::bigint
    END AS pub_epoch
  FROM d, (SELECT unnest([0, 1]) AS i)
  WHERE doc_id % 2 = 0
),
atom AS (
  SELECT 'https://feeds.example.com/f/' || doc_id AS feed_url,
    'atom' AS kind, 0::int AS entry_idx,
    'Entry ' || doc_id AS title,
    'https://feeds.example.com/a/' || doc_id AS link,
    'tag:' || doc_id AS guid,
    epoch(make_timestamp(2024, (doc_id % 12)::int + 1,
      (doc_id % 28)::int + 1, (doc_id % 24)::int, 0, 0))::bigint AS pub_epoch
  FROM d WHERE doc_id % 2 = 1
)
SELECT * FROM rss UNION ALL SELECT * FROM atom
"""


def q_trust_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TrustRank (graph.trust_rank) over the shared deterministic host
    graph with seeds {src1, src3, src7} — hosts link-far from the seeds
    must score (1-d)/|S|-scale trust or below while pagerank still ranks
    them, which is exactly the spam-demotion contrast the operator
    exists for. Oracle: the same 3 iterations unrolled with the
    identical decimal-contribution expressions."""
    from ..operators import graph

    seeds = spark.createDataFrame(
        [("src1",), ("src3",), ("src7",)], "node string"
    )
    return graph.trust_rank(_host_graph_edges(spark, sf_dir), seeds)


def _sql_trust_rank(iters: int = 3) -> str:
    seeds = "('src1', 'src3', 'src7')"
    parts = [
        f"""
WITH hosts AS (SELECT DISTINCT source FROM documents),
e AS (
  SELECT source AS src,
    'src' || ((regexp_replace(source, '^src', '')::int * regexp_replace(source, '^src', '')::int + 1) % 20) AS dst
  FROM hosts
  UNION
  SELECT source,
    'src' || ((regexp_replace(source, '^src', '')::int * 3 + 1) % 20)
  FROM hosts
),
nodes AS (
  SELECT node, (node IN {seeds})::int AS is_seed
  FROM (SELECT src AS node FROM e UNION SELECT dst FROM e)
),
ss AS (SELECT count(*)::double AS s FROM nodes WHERE is_seed = 1),
outdeg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
r0 AS (
  SELECT node,
    CASE WHEN is_seed = 1 THEN 1.0::double / ss.s ELSE 0.0::double END
      AS rank
  FROM nodes, ss
)"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f""",
c{i} AS (
  SELECT e.dst AS node, round(r.rank / o.deg, 12)::decimal(28,12) AS c
  FROM e JOIN r{i-1} r ON e.src = r.node JOIN outdeg o ON e.src = o.src
),
s{i} AS (SELECT node, sum(c) AS s FROM c{i} GROUP BY node),
r{i} AS (
  SELECT nodes.node,
    CASE WHEN nodes.is_seed = 1
      THEN (1.0::double - 0.85::double) / ss.s ELSE 0.0::double END
    + 0.85::double * coalesce(s{i}.s::double, 0.0::double) AS rank
  FROM nodes CROSS JOIN ss LEFT JOIN s{i} USING (node)
)"""
        )
    return (
        "".join(parts).lstrip()
        + f"""
SELECT node, floor(rank * 1000000000.0)::bigint AS trust_nano
FROM r{iters}
"""
    )


def q_ip_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed range join (urls.ip_range_lookup): 25 nation-derived
    /8-half ranges (each nation owns the LOWER half of its /8, so ~half
    the synthesized ips fall in gaps and must come back with NULL label
    — the left-join contract), ips hashed from doc_id. The oracle is the
    plain non-equi BETWEEN join the bucketed plan must be semantically
    identical to."""
    from ..operators.urls import ip_range_lookup

    d = _docs(spark, sf_dir)
    ips = d.select(
        "doc_id",
        ((F.col("doc_id") * F.lit(2654435761).cast("long"))
         % F.lit(4294967296).cast("long")).alias("ip"),
    )
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    ranges = nation.select(
        (F.col("n_nationkey").cast("long") * F.lit(16777216).cast("long"))
        .alias("start_ip"),
        (F.col("n_nationkey").cast("long") * F.lit(16777216).cast("long")
         + F.lit(8388607).cast("long")).alias("end_ip"),
        F.col("n_name").alias("label"),
    )
    return ip_range_lookup(ips, ranges).select("doc_id", "ip", "label")


_SQL_IP_RANGES = """
WITH d AS (
  SELECT doc_id, (doc_id * 2654435761) % 4294967296 AS ip FROM documents
), r AS (
  SELECT n_nationkey::bigint * 16777216 AS s,
         n_nationkey::bigint * 16777216 + 8388607 AS e,
         n_name AS label
  FROM nation
)
SELECT d.doc_id, d.ip, r.label
FROM d LEFT JOIN r ON d.ip BETWEEN r.s AND r.e
"""


def q_zorder_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering keys (scale.layout.zorder_keys) over
    (doc_id, char length) at 8 bits — the oracle restates the exact
    integer rank normalization and the unrolled bit interleave."""
    from ..scale.layout import zorder_keys

    d = _docs(spark, sf_dir).select(
        "doc_id", F.length("text").cast("long").alias("n_chars")
    )
    return zorder_keys(d, "doc_id", "n_chars", bits=8)


def _sql_zorder_docs(bits: int = 8) -> str:
    m = (1 << bits) - 1
    terms = " + ".join(
        f"(((zx >> {i}) & 1) << {2 * i}) + (((zy >> {i}) & 1) << {2 * i + 1})"
        for i in range(bits)
    )
    return f"""
WITH d AS (
  SELECT doc_id, length(text)::bigint AS n_chars FROM documents
), s AS (
  SELECT min(doc_id) AS minx, max(doc_id) AS maxx,
         min(n_chars) AS miny, max(n_chars) AS maxy
  FROM d
), r AS (
  SELECT doc_id, n_chars,
    ((doc_id - minx) * {m}) // greatest(maxx - minx, 1) AS zx,
    ((n_chars - miny) * {m}) // greatest(maxy - miny, 1) AS zy
  FROM d, s
)
SELECT doc_id, n_chars, ({terms})::bigint AS z_key FROM r
"""


def q_publish_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Publish-date extraction (urls.publish_dates) over a synthesized
    capture set exercising all four cells of the precedence matrix:
    doc_id%2==0 has a /YYYY/MM/DD/ URL date, doc_id%3==0 a meta
    article:published_time SEVEN DAYS LATER (so the 'meta beats url'
    precedence is value-observable, not just source-labeled), and
    doc_id%6∈{1,5} has neither (NULL row). The oracle restates both
    regexes and the precedence."""
    from ..operators.urls import publish_dates

    d = _docs(spark, sf_dir)
    did = F.col("doc_id")
    pub = F.date_add(
        F.lit("2020-01-01").cast("date"), F.pmod(did, 1500).cast("int")
    )
    meta = F.date_add(pub, 7)
    pages = d.select(
        F.when(
            F.pmod(did, 2) == 0,
            F.concat(
                F.lit("https://"), F.col("source"), F.lit(".example.com/"),
                F.date_format(pub, "yyyy/MM/dd"),
                F.lit("/post-"), did.cast("string"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://"), F.col("source"),
                F.lit(".example.com/page-"), did.cast("string"),
            )
        )
        .alias("url"),
        F.when(
            F.pmod(did, 3) == 0,
            F.concat(
                F.lit('<html><head><meta property="article:published_time"'
                      ' content="'),
                F.date_format(meta, "yyyy-MM-dd"),
                F.lit('T08:00:00Z"></head></html>'),
            ),
        )
        .otherwise(F.lit("<html><body>no date here</body></html>"))
        .alias("html"),
    )
    return publish_dates(pages)


_SQL_PUBLISH_DATES = r"""
WITH p AS (
  SELECT doc_id,
    DATE '2020-01-01' + (doc_id % 1500)::int AS pub,
    DATE '2020-01-08' + (doc_id % 1500)::int AS meta,
    CASE WHEN doc_id % 2 = 0
      THEN 'https://' || source || '.example.com/'
           || strftime(DATE '2020-01-01' + (doc_id % 1500)::int, '%Y/%m/%d')
           || '/post-' || doc_id
      ELSE 'https://' || source || '.example.com/page-' || doc_id
    END AS url,
    CASE WHEN doc_id % 3 = 0
      THEN '<html><head><meta property="article:published_time" content="'
           || strftime(DATE '2020-01-08' + (doc_id % 1500)::int, '%Y-%m-%d')
           || 'T08:00:00Z"></head></html>'
      ELSE '<html><body>no date here</body></html>'
    END AS html
  FROM documents
), x AS (
  SELECT url,
    nullif(regexp_extract(url, '/(\d{4})/(\d{2})/(\d{2})/', 1) || '-'
           || regexp_extract(url, '/(\d{4})/(\d{2})/(\d{2})/', 2) || '-'
           || regexp_extract(url, '/(\d{4})/(\d{2})/(\d{2})/', 3), '--')
      AS url_date,
    nullif(regexp_extract(html,
      '<meta property="article:published_time" content="(\d{4}-\d{2}-\d{2})',
      1), '') AS meta_date
  FROM p
)
SELECT url, url_date, meta_date,
  coalesce(meta_date, url_date) AS publish_date,
  CASE WHEN meta_date IS NOT NULL THEN 'meta'
       WHEN url_date IS NOT NULL THEN 'url' END AS date_source,
  (coalesce(meta_date, url_date)::date - DATE '1970-01-01')::bigint
    AS epoch_day
FROM x
"""


def q_outline_numbering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outline reconstruction (relational.outline_numbering) over a
    synthesized heading stream: doc_id%5+3 headings per document, the
    first always level 1, the rest cycling levels by a doc-dependent
    hash — so restarts of the level-2 and level-3 counters at every
    level-1 (and level-2) boundary are exercised in every document. The
    oracle restates the three scoped cumulative-sum windows."""
    from ..operators.relational import outline_numbering

    d = _docs(spark, sf_dir)
    h = d.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), (F.pmod(F.col("doc_id"), 5) + 3).cast("int"))
        ).alias("pos"),
    )
    level = F.when(F.col("pos") == 1, F.lit(1)).otherwise(
        (F.pmod(F.col("doc_id") * 31 + F.col("pos") * 7, 3) + 1).cast("int")
    )
    return outline_numbering(h.withColumn("level", level.cast("int")))


_SQL_OUTLINE_NUMBERING = """
WITH h AS (
  SELECT doc_id, pos,
    CASE WHEN pos = 1 THEN 1
         ELSE ((doc_id * 31 + pos * 7) % 3 + 1) END::int AS level
  FROM documents,
    unnest(generate_series(1, (doc_id % 5 + 3)::int)) AS g(pos)
), n AS (
  SELECT doc_id, pos, level,
    sum(CASE WHEN level = 1 THEN 1 ELSE 0 END)
      OVER (PARTITION BY doc_id ORDER BY pos) AS n1,
    sum(CASE WHEN level <= 2 THEN 1 ELSE 0 END)
      OVER (PARTITION BY doc_id ORDER BY pos) AS g2
  FROM h
), m AS (
  SELECT doc_id, pos, level, n1,
    sum(CASE WHEN level = 2 THEN 1 ELSE 0 END)
      OVER (PARTITION BY doc_id, n1 ORDER BY pos) AS n2,
    sum(CASE WHEN level = 3 THEN 1 ELSE 0 END)
      OVER (PARTITION BY doc_id, g2 ORDER BY pos) AS n3
  FROM n
)
SELECT doc_id, pos::int AS pos, level, n1::int AS n1, n2::int AS n2,
  n3::int AS n3,
  CASE level WHEN 1 THEN n1::varchar
             WHEN 2 THEN n1 || '.' || n2
             ELSE n1 || '.' || n2 || '.' || n3 END AS outline
FROM m
"""


def q_capture_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 intervals (relational.capture_intervals) over a synthesized
    capture history: doc_id%4+2 captures per url at 10s spacing, with the
    content hash advancing every (doc_id%3+1) captures — so every period
    mixes no-change extensions (n_captures>1) with change points, and the
    final interval must come back open (valid_to NULL, is_current 1). The
    oracle restates lag-change-flag + cumsum + lead-close."""
    from ..operators.relational import capture_intervals

    d = _docs(spark, sf_dir)
    caps = d.select(
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/doc"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        F.col("doc_id"),
        F.explode(
            F.sequence(F.lit(1), (F.pmod(F.col("doc_id"), 4) + 2).cast("int"))
        ).alias("pos"),
    ).select(
        "url",
        (F.lit(1700000000).cast("long") + F.col("doc_id") * 1000
         + F.col("pos") * 10).alias("ts"),
        F.md5(
            F.concat_ws(
                ":",
                F.col("doc_id").cast("string"),
                F.expr("(pos - 1) div (doc_id % 3 + 1)").cast("string"),
            )
        ).alias("content_hash"),
    )
    return capture_intervals(caps)


_SQL_CAPTURE_INTERVALS = """
WITH caps AS (
  SELECT
    'https://' || source || '.example.com/doc' || doc_id AS url,
    1700000000 + doc_id * 1000 + pos * 10 AS ts,
    md5(doc_id || ':' || ((pos - 1)::bigint // (doc_id % 3 + 1)))
      AS content_hash
  FROM documents,
    unnest(generate_series(1, (doc_id % 4 + 2)::int)) AS g(pos)
), flagged AS (
  SELECT url, ts, content_hash,
    CASE WHEN lag(content_hash) OVER w IS NULL
           OR lag(content_hash) OVER w <> content_hash THEN 1 ELSE 0 END
      AS chg
  FROM caps
  WINDOW w AS (PARTITION BY url ORDER BY ts)
), runs AS (
  SELECT url, ts, content_hash,
    sum(chg) OVER (PARTITION BY url ORDER BY ts) AS version
  FROM flagged
), grouped AS (
  SELECT url, version, min(content_hash) AS content_hash,
    min(ts) AS valid_from, count(*) AS n_captures
  FROM runs GROUP BY url, version
)
SELECT url, version::int AS version, content_hash,
  valid_from::bigint AS valid_from,
  lead(valid_from::bigint) OVER wv AS valid_to,
  n_captures::bigint AS n_captures,
  (lead(version) OVER wv IS NULL)::int AS is_current
FROM grouped
WINDOW wv AS (PARTITION BY url ORDER BY version)
"""


def q_host_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities (graph.label_propagation, 2
    synchronous rounds, min-label tie-break) over the deterministic demo
    host graph shared with q_host_pagerank. The oracle unrolls the same
    two rounds as chained CTEs."""
    from ..operators.graph import label_propagation

    return label_propagation(_host_graph_edges(spark, sf_dir), iters=2)


def _sql_host_communities(iters: int = 2) -> str:
    parts = [
        """
WITH hosts AS (SELECT DISTINCT source FROM documents),
e AS (
  SELECT source AS src,
    'src' || ((regexp_replace(source, '^src', '')::int
               * regexp_replace(source, '^src', '')::int + 1) % 20) AS dst
  FROM hosts
  UNION
  SELECT source,
    'src' || ((regexp_replace(source, '^src', '')::int * 3 + 1) % 20)
  FROM hosts
),
ue AS (
  SELECT DISTINCT a, b FROM (
    SELECT src AS a, dst AS b FROM e
    UNION ALL SELECT dst, src FROM e
  )
),
l0 AS (SELECT DISTINCT a AS node, a AS community FROM ue)"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f""",
c{i} AS (
  SELECT ue.a AS node, l.community, count(*) AS votes
  FROM ue JOIN l{i-1} l ON ue.b = l.node
  GROUP BY ue.a, l.community
),
w{i} AS (
  SELECT node, community,
    row_number() OVER (PARTITION BY node ORDER BY votes DESC, community)
      AS rn
  FROM c{i}
),
l{i} AS (
  SELECT l0.node, coalesce(w{i}.community, l0.node) AS community
  FROM l0 LEFT JOIN w{i} ON w{i}.node = l0.node AND w{i}.rn = 1
)"""
        )
    return "".join(parts).lstrip() + f"\nSELECT node, community FROM l{iters}"


def q_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-round k-core peeling (graph.k_core, k=2, 2 rounds) over
    the deterministic demo host graph — the density filter separating
    interlinked hubs from spray-and-pray satellites. The oracle unrolls
    the same peel rounds as chained CTEs."""
    from ..operators.graph import k_core

    return k_core(_host_graph_edges(spark, sf_dir), k=2, iters=2)


_SQL_K_CORE = """
WITH hosts AS (SELECT DISTINCT source FROM documents),
e AS (
  SELECT source AS src,
    'src' || ((regexp_replace(source, '^src', '')::int
               * regexp_replace(source, '^src', '')::int + 1) % 20) AS dst
  FROM hosts
  UNION
  SELECT source,
    'src' || ((regexp_replace(source, '^src', '')::int * 3 + 1) % 20)
  FROM hosts
),
ue AS (
  SELECT DISTINCT a, b FROM (
    SELECT src AS a, dst AS b FROM e
    UNION ALL SELECT dst, src FROM e
  ) WHERE a <> b
),
a0 AS (SELECT DISTINCT a AS node FROM ue),
d1 AS (
  SELECT ue.a AS node, count(*) AS degree
  FROM ue JOIN a0 x ON ue.a = x.node JOIN a0 y ON ue.b = y.node
  GROUP BY ue.a
),
a1 AS (SELECT node FROM d1 WHERE degree >= 2),
d2 AS (
  SELECT ue.a AS node, count(*) AS degree
  FROM ue JOIN a1 x ON ue.a = x.node JOIN a1 y ON ue.b = y.node
  GROUP BY ue.a
)
SELECT node, degree FROM d2 WHERE degree >= 2
"""


# ---------------------------------------------------------------------------
# url_survival
# ---------------------------------------------------------------------------


def q_url_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete survival table (relational.capture_hazard) over a
    synthesized capture history: doc_id%4+2 captures per url, content
    version advancing every doc_id%3+1 captures — so first changes land
    at steps 2..4 and longer histories right-censor. The oracle restates
    lag-change + first-death + suffix-sum at-risk."""
    from ..operators.relational import capture_hazard

    d = _docs(spark, sf_dir)
    caps = d.select(
        F.concat(F.lit("u"), F.col("doc_id")).alias("url"),
        F.explode(
            F.sequence(F.lit(1).cast("long"), (F.col("doc_id") % 4) + 2)
        ).alias("cap_idx"),
        ((F.col("doc_id") % 3) + 1).alias("_p"),
    ).select(
        "url",
        "cap_idx",
        F.concat(
            F.lit("v"), F.expr("(cap_idx - 1L) div _p")
        ).alias("content_hash"),
    )
    return capture_hazard(caps)


_SQL_URL_SURVIVAL = """
WITH caps AS (
  SELECT 'u' || doc_id AS url, j AS cap_idx,
    'v' || ((j - 1) // ((doc_id % 3) + 1)) AS content_hash
  FROM documents, unnest(generate_series(1, (doc_id % 4) + 2)) AS t(j)
),
m AS (
  SELECT url, cap_idx,
    CASE WHEN lag(content_hash) OVER
           (PARTITION BY url ORDER BY cap_idx) IS NOT NULL
          AND content_hash <> lag(content_hash) OVER
           (PARTITION BY url ORDER BY cap_idx)
         THEN cap_idx END AS chg
  FROM caps
),
pu AS (
  SELECT url, max(cap_idx)::bigint AS n_caps, min(chg)::bigint AS death_step
  FROM m GROUP BY url
),
lv AS (
  SELECT coalesce(death_step, n_caps) AS last_alive,
    CASE WHEN death_step IS NOT NULL THEN 1 ELSE 0 END AS died
  FROM pu
),
bl AS (
  SELECT last_alive, count(*)::bigint AS ending_here,
    sum(died)::bigint AS deaths_here
  FROM lv GROUP BY last_alive
),
life AS (
  SELECT last_alive AS step,
    sum(ending_here) OVER (ORDER BY last_alive DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::bigint AS at_risk,
    deaths_here AS deaths
  FROM bl
)
SELECT step::bigint AS step, at_risk, deaths,
  ((deaths * 1000000) // at_risk)::bigint AS hazard_micro
FROM life WHERE step >= 2
"""


# ---------------------------------------------------------------------------
# cdc_apply (round-4 session-15)
# ---------------------------------------------------------------------------


def _synth_cdc_changes(docs: DataFrame) -> DataFrame:
    """Deterministic CDC changelog over documents: seq-1 updates for
    doc_id%5, seq-2 re-updates for %15 (last-writer-wins fodder),
    seq-3 deletes for %10, and brand-new keys (+10M) for %20."""
    d = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_chars").cast("long").alias("n_chars"),
    )
    upd1 = d.where(F.col("doc_id") % 5 == 0).select(
        "doc_id",
        F.lit(1).cast("long").alias("seq"),
        F.lit("U").alias("op"),
        (F.col("n_chars") + 1000).alias("n_chars"),
    )
    upd2 = d.where(F.col("doc_id") % 15 == 0).select(
        "doc_id",
        F.lit(2).cast("long").alias("seq"),
        F.lit("U").alias("op"),
        (F.col("n_chars") + 2000).alias("n_chars"),
    )
    dele = d.where(F.col("doc_id") % 10 == 0).select(
        "doc_id",
        F.lit(3).cast("long").alias("seq"),
        F.lit("D").alias("op"),
        F.lit(0).cast("long").alias("n_chars"),
    )
    ins = d.where(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 10000000).alias("doc_id"),
        F.lit(1).cast("long").alias("seq"),
        F.lit("U").alias("op"),
        F.col("n_chars"),
    )
    return upd1.unionByName(upd2).unionByName(dele).unionByName(ins)


def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog merge (relational.cdc_apply): last-writer-wins
    collapse of a deterministic insert/update/delete log onto the
    documents snapshot — the MERGE INTO shape as one aggregate + one
    shuffle_hash full-outer join, nothing broadcast."""
    from ..operators.relational import cdc_apply

    docs = _docs(spark, sf_dir).select("doc_id", "n_chars")
    return cdc_apply(docs, _synth_cdc_changes(docs))


_SQL_CDC_APPLY = """
WITH ch AS (
  SELECT doc_id::bigint AS k, 1::bigint AS seq, 'U' AS op,
    (n_chars + 1000)::bigint AS val
  FROM documents WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id::bigint, 2, 'U', (n_chars + 2000)::bigint
  FROM documents WHERE doc_id % 15 = 0
  UNION ALL
  SELECT doc_id::bigint, 3, 'D', 0
  FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT (doc_id + 10000000)::bigint, 1, 'U', n_chars::bigint
  FROM documents WHERE doc_id % 20 = 0
),
latest AS (
  SELECT k, op, val FROM (
    SELECT k, op, val,
      row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
    FROM ch
  ) WHERE rn = 1
),
b AS (SELECT doc_id::bigint AS k, n_chars::bigint AS bval FROM documents)
SELECT coalesce(b.k, latest.k)::bigint AS doc_id,
  coalesce(latest.val, b.bval)::bigint AS n_chars,
  CASE WHEN latest.k IS NULL THEN 'base'
       WHEN b.k IS NULL THEN 'insert'
       ELSE 'update' END AS origin
FROM b FULL OUTER JOIN latest ON b.k = latest.k
WHERE latest.op IS NULL OR latest.op <> 'D'
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# image_dup_clusters (round-4 session-15)
# ---------------------------------------------------------------------------


def q_image_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate IMAGE clusters: pigeonhole aHash pairs
    (multimodal.image_near_pairs, hamming <= 3) fed into min-label
    pointer-jumping connected components (dedup.connected_components) —
    the image-side mirror of dedup_clusters. The oracle recomputes
    every hash closed-form, does the exact all-pairs hamming filter,
    and walks components recursively."""
    from ..operators import dedup

    sigs = multimodal.image_ahash(_synth_ahash_images(spark, sf_dir))
    pairs = multimodal.image_near_pairs(sigs, max_hamming=3).select(
        "id_a", "id_b"
    )
    cc = dedup.connected_components(sigs.select("doc_id"), pairs)
    counts = cc.groupBy("cluster_id").agg(
        F.count("*").cast("long").alias("cluster_size")
    )
    return (
        cc.join(counts.hint("shuffle_hash"), "cluster_id")
        .select("doc_id", "cluster_id", "cluster_size")
        .orderBy("doc_id")
    )


_SQL_IMAGE_DUP_CLUSTERS = (
    "WITH RECURSIVE "
    + _SQL_AHASH_BITS
    + """,
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bits a JOIN bits b ON a.doc_id < b.doc_id
  WHERE len(list_filter(range(64), i -> a.b[i + 1] <> b.b[i + 1])) <= 3
),
sym AS (
  SELECT id_a AS src_n, id_b AS dst_n FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
),
walk(node, lbl) AS (
  SELECT doc_id, doc_id FROM bits
  UNION
  SELECT s.dst_n, w.lbl FROM walk w JOIN sym s ON s.src_n = w.node
),
cc AS (SELECT node AS doc_id, min(lbl) AS cluster_id FROM walk GROUP BY node)
SELECT doc_id, cluster_id,
  count(*) OVER (PARTITION BY cluster_id)::bigint AS cluster_size
FROM cc ORDER BY doc_id
"""
)


# ---------------------------------------------------------------------------
# link_locality (round-4 session-15)
# ---------------------------------------------------------------------------


def q_link_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-party vs third-party outlink ratio per host
    (urls.link_locality) — conditional sums over the extract_links
    edge list, href strings dropped before the exchange."""
    from ..operators import urls

    return urls.link_locality(synthesize_pages_df(spark, sf_dir))


def _sql_link_locality() -> str:
    return f"""
WITH links AS ({_sql_extract_links()}),
f AS (
  SELECT
    lower(coalesce(regexp_extract(url,
      '^[a-zA-Z][a-zA-Z0-9+.\\-]*://([^/?#]+)', 1), '')) AS host,
    CASE WHEN lower(coalesce(regexp_extract(resolved,
           '^[a-zA-Z][a-zA-Z0-9+.\\-]*://([^/?#]+)', 1), ''))
           IN (lower(coalesce(regexp_extract(url,
                '^[a-zA-Z][a-zA-Z0-9+.\\-]*://([^/?#]+)', 1), '')), '')
         THEN 1 ELSE 0 END AS i
  FROM links
),
a AS (
  SELECT host, count(*)::bigint AS n_links, sum(i)::bigint AS n_internal
  FROM f GROUP BY host
)
SELECT host, n_links, n_internal,
  (n_links - n_internal)::bigint AS n_external,
  ((n_internal * 1000000) // n_links)::bigint AS locality_micro
FROM a ORDER BY host
"""


def q_title_dup_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-host duplicated-title census (urls.title_dup_census) over
    deterministic per-doc titles (40 md5-assigned title templates,
    decorrelated from the 20 hosts)
    — the cheapest cross-host template signal."""
    from ..operators import urls

    pages = _docs(spark, sf_dir).select(
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit(".example.com/"),
            F.col("lang"),
            F.lit("/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        F.concat(
            F.lit("<html><head><title>Template "),
            (
                F.conv(
                    F.substring(F.md5(F.col("doc_id").cast("string")), 1, 7),
                    16,
                    10,
                ).cast("long")
                % 40
            ).cast("string"),
            F.lit("</title></head><body>"),
            F.col("text"),
            F.lit("</body></html>"),
        ).alias("html"),
    )
    return urls.title_dup_census(pages)


_SQL_TITLE_DUP_CENSUS = """
WITH p AS (
  SELECT 'https://' || source || '.example.com/' || lang || '/' || doc_id
           AS url,
    'Template '
      || (('0x' || substr(md5(doc_id::varchar), 1, 7))::bigint % 40)
           ::varchar AS title,
    lower(source || '.example.com') AS host
  FROM documents
),
ph AS (
  SELECT title, host, count(*)::bigint AS n FROM p GROUP BY title, host
),
c AS (
  SELECT title, sum(n)::bigint AS n_pages, count(*)::bigint AS n_hosts
  FROM ph GROUP BY title
)
SELECT title, n_pages, n_hosts FROM c
WHERE n_hosts >= 2 ORDER BY n_pages DESC, title ASC
"""


# ---------------------------------------------------------------------------
# http_cache_plan
# ---------------------------------------------------------------------------


def q_http_cache_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-GET transfer planning (urls.revalidation_plan) over
    deterministic cached-response headers: etag on doc_id%3==0,
    last-modified on doc_id%2==0, no-store on doc_id%17==0."""
    from ..operators.urls import revalidation_plan

    d = _docs(spark, sf_dir)
    headers = d.select(
        F.concat(F.col("source"), F.lit(".example.com")).alias("host"),
        F.when(
            F.col("doc_id") % 3 == 0, F.md5(F.col("doc_id").cast("string"))
        ).alias("etag"),
        F.when(
            F.col("doc_id") % 2 == 0, F.lit("Mon, 01 Jan 2024 00:00:00 GMT")
        ).alias("last_modified"),
        F.when(F.col("doc_id") % 17 == 0, F.lit("no-store"))
        .otherwise(F.lit("max-age=3600"))
        .alias("cache_control"),
        F.col("n_chars").alias("content_length"),
    )
    return revalidation_plan(headers)


_SQL_HTTP_CACHE_PLAN = """
WITH h AS (
  SELECT source || '.example.com' AS host,
    CASE WHEN doc_id % 17 = 0 THEN 'full_fetch'
         WHEN doc_id % 3 = 0 THEN 'conditional_etag'
         WHEN doc_id % 2 = 0 THEN 'conditional_modified'
         ELSE 'full_fetch' END AS plan,
    n_chars AS content_length
  FROM documents
)
SELECT host, plan, count(*)::bigint AS n_urls,
  sum(content_length)::bigint AS total_bytes
FROM h GROUP BY host, plan
"""


# ---------------------------------------------------------------------------
# dow_seasonality
# ---------------------------------------------------------------------------


def q_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly seasonality profile (relational.dow_seasonality): per
    (event_type, day-of-week) counts with the type-share in ppm; UTC
    pinned so both engines bucket identical instants."""
    from ..operators.relational import dow_seasonality

    _utc(spark)
    return dow_seasonality(_tbl(spark, sf_dir, "events"))


_SQL_DOW_SEASONALITY = """
WITH per AS (
  SELECT event_type, dayofweek(ts)::bigint AS dow, count(*)::bigint AS n
  FROM events GROUP BY 1, 2
)
SELECT event_type, dow, n,
  floor(n * 1000000 / sum(n) OVER (PARTITION BY event_type))::bigint
    AS share_ppm
FROM per
"""


# ---------------------------------------------------------------------------
# pagerank_convergence
# ---------------------------------------------------------------------------


def q_pagerank_convergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-iteration stopping gauge (graph.pagerank_convergence):
    per-host floor-nano rank delta between iterations 2 and 3 over the
    demo host graph; the oracle reuses the shared pagerank CTE builder so
    the two can never desynchronize."""
    from ..operators.graph import pagerank_convergence

    return pagerank_convergence(_host_graph_edges(spark, sf_dir), iters=3)


def _sql_pagerank_convergence() -> str:
    ctes, final = _sql_host_pagerank_ctes(3)
    assert final == "r3"
    return f"""
WITH {ctes}
SELECT r2.node,
  floor(r2.rank * 1000000000.0)::bigint AS rank_prev_nano,
  floor(r3.rank * 1000000000.0)::bigint AS rank_nano,
  abs(floor(r3.rank * 1000000000.0)
      - floor(r2.rank * 1000000000.0))::bigint AS delta_nano
FROM r2 JOIN r3 USING (node)
"""


# ---------------------------------------------------------------------------
# pagination_extract / breadcrumb_census
# ---------------------------------------------------------------------------


def q_pagination_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paginated-article marker parse (urls.pagination_extract): docs
    with doc_id%3 != 0 carry 'Page (doc_id%7+1) of 7'; the rest have no
    marker and must report NULLs."""
    from ..operators.urls import pagination_extract

    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 != 0,
            F.concat(
                F.col("text"),
                F.lit(" Page "),
                (F.col("doc_id") % 7 + 1).cast("string"),
                F.lit(" of 7"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return pagination_extract(d)


_SQL_PAGINATION_EXTRACT = """
SELECT doc_id,
  CASE WHEN doc_id % 3 <> 0 THEN doc_id % 7 + 1 END::bigint AS page_no,
  CASE WHEN doc_id % 3 <> 0 THEN 7 END::bigint AS total_pages,
  CASE WHEN doc_id % 3 <> 0 THEN (doc_id % 7 + 1) = 7 END AS is_last
FROM documents
"""


def q_breadcrumb_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Site-taxonomy census (urls.breadcrumb_census) over deterministic
    trails 'Home > {source} > {lang} > {doc_id}' (depth 4), with every
    20th page contributing a malformed trail that must be skipped."""
    from ..operators.urls import breadcrumb_census

    d = _docs(spark, sf_dir).select(
        F.when(
            F.col("doc_id") % 20 != 0,
            F.concat_ws(
                " > ",
                F.lit("Home"),
                F.col("source"),
                F.col("lang"),
                F.col("doc_id").cast("string"),
            ),
        )
        .otherwise(F.lit("orphan"))
        .alias("breadcrumb")
    )
    return breadcrumb_census(d)


_SQL_BREADCRUMB_CENSUS = """
SELECT source AS section, 4::bigint AS depth, count(*)::bigint AS n_pages
FROM documents WHERE doc_id % 20 <> 0 GROUP BY source
"""


# ---------------------------------------------------------------------------
# page_series_gaps / canonical_pick
# ---------------------------------------------------------------------------


def q_page_series_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Series completeness audit (urls.page_series_gaps) over the
    pagination synth: series = doc_id div 7, members with doc_id%3 == 0
    lack markers, so most series report gaps."""
    from ..operators.urls import page_series_gaps, pagination_extract

    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 != 0,
            F.concat(
                F.col("text"),
                F.lit(" Page "),
                (F.col("doc_id") % 7 + 1).cast("string"),
                F.lit(" of 7"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    parsed = pagination_extract(d).withColumn(
        "series", F.expr("doc_id div 7").cast("long")
    )
    return page_series_gaps(parsed)


_SQL_PAGE_SERIES_GAPS = """
WITH p AS (
  SELECT doc_id // 7 AS series,
    CASE WHEN doc_id % 3 <> 0 THEN doc_id % 7 + 1 END AS page_no,
    CASE WHEN doc_id % 3 <> 0 THEN 7 END AS total_pages
  FROM documents
)
SELECT series::bigint AS series,
  max(total_pages)::bigint AS total_pages,
  count(DISTINCT page_no)::bigint AS n_found,
  (max(total_pages) - count(DISTINCT page_no))::bigint AS n_missing,
  count(DISTINCT page_no) = max(total_pages) AS complete
FROM p GROUP BY series
"""


def q_canonical_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Representative-URL election (urls.canonical_pick): each document's
    content appears under an https site URL and an http mirror URL; the
    https member must win every family."""
    from ..operators.urls import canonical_pick

    d = _docs(spark, sf_dir)
    site = d.select(
        F.md5(F.col("text")).alias("group_key"),
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit(".example.com/"),
            F.col("lang"),
            F.lit("/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    mirror = d.select(
        F.md5(F.col("text")).alias("group_key"),
        F.concat(
            F.lit("http://mirror.example.net/p?id="),
            F.col("doc_id").cast("string"),
            F.lit("&ref=rss"),
        ).alias("url"),
    )
    return canonical_pick(site.unionByName(mirror))


_SQL_CANONICAL_PICK = """
WITH cand AS (
  SELECT md5(text) AS group_key,
    'https://' || source || '.example.com/' || lang || '/' || doc_id AS url
  FROM documents
  UNION ALL
  SELECT md5(text),
    'http://mirror.example.net/p?id=' || doc_id || '&ref=rss'
  FROM documents
),
k AS (
  SELECT group_key,
    (CASE WHEN url LIKE 'https://%' THEN '0' ELSE '1' END)
      || lpad(length(url)::varchar, 6, '0') || url AS key
  FROM cand
)
SELECT group_key, substr(min(key), 8) AS canonical_url,
  count(*)::bigint AS n_members
FROM k GROUP BY group_key
"""


def q_stitch_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paginated-article reassembly (urls.stitch_series): every doc in a
    7-page series carries a marker here; full series stitch in page
    order, the partial tail series is dropped by the completeness
    gate."""
    from ..operators.urls import pagination_extract, stitch_series

    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" Page "),
            (F.col("doc_id") % 7 + 1).cast("string"),
            F.lit(" of 7"),
        ).alias("text"),
    )
    pages = pagination_extract(d).withColumn(
        "series", F.expr("doc_id div 7").cast("long")
    ).join(d.hint("shuffle_hash"), "doc_id")
    return stitch_series(pages)


_SQL_STITCH_SERIES = """
WITH p AS (
  SELECT doc_id // 7 AS series, doc_id % 7 + 1 AS page_no,
    text || ' Page ' || (doc_id % 7 + 1)::varchar || ' of 7' AS text
  FROM documents
)
SELECT series::bigint AS series,
  string_agg(text, ' ' ORDER BY page_no) AS stitched_text,
  7::bigint AS n_pages
FROM p GROUP BY series HAVING count(*) = 7
"""


# ---------------------------------------------------------------------------
# cdx_zipnum (round-4 session-20)
# ---------------------------------------------------------------------------


def q_cdx_zipnum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZipNum cluster.idx over the CDX capture index
    (sources/warc.zipnum_blocks): one summary row per 20-line block of
    each per-file sorted CDX shard — the binary-searchable secondary
    index Common Crawl ships beside cc-index. Per-file windows only,
    exactly like cdx_index itself."""
    from ..sources.warc import cdx_index, synthesize_warc_files_df, zipnum_blocks

    _utc(spark)
    return zipnum_blocks(cdx_index(synthesize_warc_files_df(spark, sf_dir)))


def _sql_cdx_zipnum() -> str:
    return f"""
WITH idx AS ({_sql_cdx_index()}),
r AS (
  SELECT warc_file, url, ts_epoch,
    row_number() OVER (PARTITION BY warc_file ORDER BY url, ts_epoch)
      AS rn
  FROM idx
),
b AS (
  SELECT warc_file, (rn - 1) // 20 AS block_id,
    url || chr(9) || lpad(ts_epoch::varchar, 12, '0') AS enc
  FROM r
)
SELECT warc_file, block_id::bigint AS block_id,
  split_part(min(enc), chr(9), 1) AS first_url,
  split_part(min(enc), chr(9), 2)::bigint AS first_ts_epoch,
  count(*)::bigint AS n_lines
FROM b GROUP BY warc_file, block_id
"""


# ---------------------------------------------------------------------------
# seasonal_anomaly (round-4 session-20)
# ---------------------------------------------------------------------------


def q_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-adjusted daily anomaly flags: per-(event_type, day)
    counts judged against the type's SAME-WEEKDAY median/MAD baseline
    (robust_outliers over the (type, dow) key) — the composition of
    dow_seasonality's insight (Mondays run hot by design) with the
    median/MAD robustness host_length_outliers uses: a spike only flags
    if it is anomalous FOR THAT WEEKDAY. All-integer; dow derives from
    the epoch day ((day+4) % 7, 1970-01-01 = Thursday = 4) so no engine
    calendar is consulted."""
    from ..operators.relational import robust_outliers

    _utc(spark)
    ev = _tbl(spark, sf_dir, "events")
    day = F.floor(
        F.col("ts").cast("timestamp").cast("long") / 86400
    ).cast("long")
    daily = ev.groupBy(F.col("event_type"), day.alias("day")).agg(
        F.count("*").cast("long").alias("n")
    )
    keyed = daily.withColumn(
        "grp",
        F.concat_ws(
            "|", F.col("event_type"), ((F.col("day") + 4) % 7).cast("string")
        ),
    ).persist()  # bounded (types x days); robust_outliers consumes it 3x
    out = robust_outliers(keyed, "grp", "n")
    return out.select(
        "event_type",
        "day",
        "n",
        "med",
        "mad",
        F.col("is_outlier").cast("int").alias("is_anomaly"),
    )


_SQL_SEASONAL_ANOMALY = """
WITH daily AS (
  SELECT event_type, (floor(epoch(ts))::bigint // 86400) AS day,
    count(*)::bigint AS n
  FROM events GROUP BY 1, 2
),
v AS (
  SELECT event_type, day, n,
    event_type || '|' || ((day + 4) % 7)::varchar AS grp
  FROM daily
),
d1 AS (SELECT grp, n AS val, count(*) AS cnt FROM v GROUP BY 1, 2),
c1 AS (
  SELECT grp, val, sum(cnt) OVER (PARTITION BY grp ORDER BY val) AS cum,
    sum(cnt) OVER (PARTITION BY grp) AS nn
  FROM d1
),
med AS (
  SELECT grp, min(CASE WHEN cum >= (nn + 1) // 2 THEN val END)::bigint AS med
  FROM c1 GROUP BY 1
),
dev AS (
  SELECT v.grp, abs(v.n - med.med) AS val FROM v JOIN med USING (grp)
),
d2 AS (SELECT grp, val, count(*) AS cnt FROM dev GROUP BY 1, 2),
c2 AS (
  SELECT grp, val, sum(cnt) OVER (PARTITION BY grp ORDER BY val) AS cum,
    sum(cnt) OVER (PARTITION BY grp) AS nn
  FROM d2
),
mad AS (
  SELECT grp, min(CASE WHEN cum >= (nn + 1) // 2 THEN val END)::bigint AS mad
  FROM c2 GROUP BY 1
)
SELECT v.event_type, v.day::bigint AS day, v.n, med.med, mad.mad,
  (abs(v.n - med.med) > 3 * mad.mad)::int AS is_anomaly
FROM v JOIN med USING (grp) JOIN mad USING (grp)
"""


# ---------------------------------------------------------------------------
# sliding_event_counts (round-4 session-20)
# ---------------------------------------------------------------------------


def q_sliding_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (relational.sliding_event_counts, 10-min windows
    every 5 min): each event contributes to exactly two windows; the
    oracle materializes both window starts per event by integer
    arithmetic — no window function, no engine window semantics to
    disagree over."""
    _utc(spark)
    from ..operators.relational import sliding_event_counts

    return sliding_event_counts(_tbl(spark, sf_dir, "events"))


_SQL_SLIDING_EVENT_COUNTS = """
WITH base AS (
  SELECT event_type,
    -- ::bigint BEFORE //: DuckDB // on DOUBLE is plain division
    -- (the BASELINE round-3 trap)
    (floor(epoch(ts))::bigint // 300) * 300 AS b
  FROM events
),
ex AS (
  SELECT event_type, b AS ws FROM base
  UNION ALL
  SELECT event_type, b - 300 AS ws FROM base
)
SELECT ws::bigint AS window_start, event_type,
  count(*)::bigint AS n_events
FROM ex GROUP BY ws, event_type ORDER BY window_start, event_type
"""
