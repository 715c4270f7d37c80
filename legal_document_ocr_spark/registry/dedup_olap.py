"""Registry segment: dedup family + OLAP/gauge batteries."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup, relational, similarity, textops

from .common import (
    _DOUBLED_SQL,
    _NEARDUP_SQL,
    _TOKS,
    _as_long,
    _docs,
    _doubled_docs,
    _neardup_docs,
    _tbl,
    _utc,
)
from .relational_web import (
    _SQL_ROBOTS_PRECEDENCE,
    _host_graph_edges,
    _synth_sitemaps_df,
    q_robots_precedence,
)

# ---------------------------------------------------------------------------
# dedup family
# ---------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dups(_doubled_docs(spark, sf_dir))


_SQL_DEDUP_EXACT = f"""
WITH d2 AS ({_DOUBLED_SQL})
SELECT sha256(text) AS content_hash, count(*) AS copies,
       min(doc_id) AS representative
FROM d2 GROUP BY content_hash
"""

_SHINGLES_SQL = (
    "list_distinct(list_transform("
    "generate_series(1, greatest(len(toks) - 2, 0)), "
    "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))"
)


def _sql_minhash_sig(source_sql: str, num_hashes: int = 8) -> str:
    # mirrors dedup.minhash_signature_array: 28-bit md5-prefix base hash,
    # g_i = (A_i*h + B_i) mod P, component = min over shingles
    p = dedup.MINHASH_P
    mins = ",\n    ".join(
        f"list_aggregate(list_transform(hs, h -> ({a}::bigint * h + {b}::bigint)"
        f" % {p}::bigint), 'min') AS mh_{i}"
        for i, (a, b) in enumerate(dedup.MINHASH_COEFFS[:num_hashes])
    )
    return f"""
WITH src AS ({source_sql}),
t AS (SELECT doc_id, {_TOKS} AS toks FROM src),
sh AS (SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM t),
hx AS (
  SELECT doc_id,
    list_transform(shingles, s -> ('0x' || substr(md5(s), 1, 7))::bigint) AS hs
  FROM sh WHERE len(shingles) > 0
),
sig AS (
  SELECT doc_id, {mins}
  FROM hx
)"""


def _sql_minhash_bands(source_sql: str, num_hashes: int = 8, bands: int = 4) -> str:
    rows = num_hashes // bands
    band_selects = "\n  UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, md5("
        + " || '|' || ".join(f"mh_{b * rows + r}::varchar" for r in range(rows))
        + ") AS bucket FROM sig"
        for b in range(bands)
    )
    return f"{_sql_minhash_sig(source_sql, num_hashes)},\nbands AS ({band_selects})"


def q_minhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _as_long(
        dedup.minhash_bands(_docs(spark, sf_dir).select("doc_id", "text")), "band"
    )


_SQL_MINHASH_BANDS = (
    _sql_minhash_bands("SELECT doc_id, text FROM documents")
    + "\nSELECT doc_id, band::bigint AS band, bucket FROM bands"
)


def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_candidate_pairs(_neardup_docs(spark, sf_dir))


_SQL_MINHASH_PAIRS = (
    _sql_minhash_bands(_NEARDUP_SQL)
    + """
SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
FROM bands l JOIN bands r
  ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
"""
)


def _sql_simhash(source_sql: str, bits: int = dedup.SIMHASH_BITS) -> str:
    terms = "\n    + ".join(
        f"(CASE WHEN list_sum(list_transform(hs, v -> ((v >> {j}) & 1) * 2 - 1))"
        f" > 0 THEN {1 << j}::bigint ELSE 0::bigint END)"
        for j in range(bits)
    )
    return f"""
WITH src AS ({source_sql}),
t AS (SELECT doc_id, list_distinct({_TOKS}) AS toks FROM src),
h AS (
  SELECT doc_id, len(toks) AS n_tokens,
    list_transform(toks, s -> ('0x' || substr(md5(s), 1, 15))::bigint) AS hs
  FROM t
),
s AS (SELECT doc_id, n_tokens, ({terms}) AS simhash FROM h)"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _as_long(
        dedup.simhash(_docs(spark, sf_dir).select("doc_id", "text")), "n_tokens"
    )


_SQL_SIMHASH = (
    _sql_simhash("SELECT doc_id, text FROM documents")
    + "\nSELECT doc_id, n_tokens, simhash FROM s"
)


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _as_long(
        dedup.simhash_near_pairs(_neardup_docs(spark, sf_dir)), "hamming"
    )


# oracle = brute force; equals the chunked candidate join by pigeonhole
_SQL_SIMHASH_PAIRS = (
    _sql_simhash(_NEARDUP_SQL)
    + """
SELECT l.doc_id AS id_a, r.doc_id AS id_b,
  bit_count(xor(l.simhash, r.simhash))::bigint AS hamming
FROM s l JOIN s r ON l.doc_id < r.doc_id
WHERE bit_count(xor(l.simhash, r.simhash)) <= 3
"""
)


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(_neardup_docs(spark, sf_dir), threshold=0.5)


# mirrors dedup.ngram_jaccard_pairs df_cap=64: shingles with document
# frequency above the cap are dropped before sizes AND the pair join
_SQL_NGRAM_JACCARD = f"""
WITH src AS ({_NEARDUP_SQL}),
t AS (SELECT doc_id, {_TOKS} AS toks FROM src),
sh AS (SELECT doc_id, list_transform({_SHINGLES_SQL}, s -> md5(s)) AS shingles
       FROM t),
e0 AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
dfreq AS (SELECT shingle, count(*) AS c FROM e0 GROUP BY shingle),
e AS (SELECT e0.doc_id, e0.shingle FROM e0 JOIN dfreq USING (shingle)
      WHERE c <= 64),
sizes AS (SELECT doc_id, count(*) AS n FROM e GROUP BY doc_id),
common AS (
  SELECT l.doc_id AS id_a, r.doc_id AS id_b, count(*) AS common
  FROM e l JOIN e r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
  GROUP BY l.doc_id, r.doc_id
)
SELECT id_a, id_b,
  round(common / (sa.n + sb.n - common)::double, 6) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE round(common / (sa.n + sb.n - common)::double, 6) >= 0.5::double
"""

def q_neardup_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage near-dup: MinHash-LSH candidates -> exact Jaccard verify on
    candidates only (the composition that scales — see dedup.verified_near_dups)."""
    return dedup.verified_near_dups(_neardup_docs(spark, sf_dir), threshold=0.5)


_SQL_NEARDUP_VERIFIED = (
    _sql_minhash_bands(_NEARDUP_SQL)
    + f""",
cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM bands l JOIN bands r
    ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
),
shd AS (
  SELECT doc_id, {_SHINGLES_SQL} AS sh
  FROM (SELECT doc_id, {_TOKS} AS toks FROM src) tt
)
SELECT id_a, id_b,
  round(len(list_intersect(a.sh, b.sh))
        / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))::double,
        6) AS jaccard
FROM cand JOIN shd a ON a.doc_id = id_a JOIN shd b ON b.doc_id = id_b
WHERE round(len(list_intersect(a.sh, b.sh))
        / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))::double,
        6) >= 0.5::double
"""
)


def q_dup_substring_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring runs (Lee et al. ExactSubstr shape) over
    the near-dup corpus: copies share every window with their original, so
    each doc carries at least one maximal run."""
    return dedup.duplicated_substring_runs(_neardup_docs(spark, sf_dir))


# mirrors dedup.duplicated_substring_runs k=8: window hash = md5 of 8
# space-joined tokens; duplicated = total occurrences >= 2; runs =
# gaps-and-islands over duplicated window starts per doc
_SQL_DUP_SUBSTRING_RUNS = f"""
WITH src AS ({_NEARDUP_SQL}),
t AS (SELECT doc_id, {_TOKS} AS toks FROM src),
g AS (
  SELECT doc_id, toks,
    unnest(CASE WHEN len(toks) >= 8 THEN generate_series(1, len(toks) - 7)
                ELSE CAST([] AS BIGINT[]) END) AS i
  FROM t
),
p AS (
  SELECT doc_id, i - 1 AS pos,
         md5(array_to_string(toks[i : i + 7], ' ')) AS sh
  FROM g
),
dup AS (SELECT sh FROM p GROUP BY sh HAVING count(*) >= 2),
m AS (SELECT doc_id, pos FROM p JOIN dup USING (sh)),
r AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM m
)
SELECT doc_id, min(pos)::bigint AS run_start, max(pos)::bigint AS run_end,
       (max(pos) - min(pos) + 8)::bigint AS run_tokens
FROM r GROUP BY doc_id, grp
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs -> connected components -> representative election:
    the decision table a curation pass consumes (dedup.dedup_clusters)."""
    return dedup.dedup_clusters(_neardup_docs(spark, sf_dir))


# oracle: the verified-pair SQL feeding a recursive reachability walk;
# cluster_id = min reachable node = the component minimum (what the Spark
# min-label fixpoint computes)
_SQL_DEDUP_CLUSTERS = (
    _sql_minhash_bands(_NEARDUP_SQL).replace("\nWITH src AS", "\nWITH RECURSIVE src AS", 1)
    + f""",
cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM bands l JOIN bands r
    ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
),
shd AS (
  SELECT doc_id, {_SHINGLES_SQL} AS sh
  FROM (SELECT doc_id, {_TOKS} AS toks FROM src) tt
),
pairs AS (
  SELECT id_a, id_b
  FROM cand JOIN shd a ON a.doc_id = id_a JOIN shd b ON b.doc_id = id_b
  WHERE round(len(list_intersect(a.sh, b.sh))
          / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))::double,
          6) >= 0.5::double
),
sym AS (
  SELECT id_a AS src_n, id_b AS dst_n FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
),
walk(node, lbl) AS (
  SELECT doc_id, doc_id FROM src
  UNION
  SELECT s.dst_n, w.lbl FROM walk w JOIN sym s ON s.src_n = w.node
),
cc AS (SELECT node AS doc_id, min(lbl) AS cluster_id FROM walk GROUP BY node)
SELECT doc_id, cluster_id,
  count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
  (doc_id = cluster_id)::int AS is_representative
FROM cc
"""
)


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention (relational.cohort_retention) over events —
    epoch-week buckets, session-timezone-proof."""
    return relational.cohort_retention(_tbl(_utc(spark), sf_dir, "events"))


_SQL_COHORT_RETENTION = """
WITH ev AS (
  SELECT user_id AS u, floor(epoch(ts))::bigint // 604800 AS b FROM events
),
fst AS (SELECT u, min(b) AS b0 FROM ev GROUP BY u),
d AS (
  SELECT DISTINCT ev.u, fst.b0 AS cohort_bucket, ev.b - fst.b0 AS "offset"
  FROM ev JOIN fst USING (u)
)
SELECT cohort_bucket, "offset", count(*)::bigint AS n_users
FROM d GROUP BY 1, 2
"""


_PIVOT_LANGS = ["de", "en", "es", "fr", "zh"]


def q_robots_blockrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host robots verdict census (composition over robots_precedence):
    the ops dashboard of crawl compliance — how much of each host's
    frontier is disallowed vs unmatched."""
    base = q_robots_precedence(spark, sf_dir)
    return base.groupBy("host", "verdict").agg(F.count("*").alias("n_urls"))


_SQL_ROBOTS_BLOCKRATE = (
    "SELECT host, verdict, count(*)::bigint AS n_urls FROM ("
    + _SQL_ROBOTS_PRECEDENCE
    + ") b GROUP BY 1, 2"
)


def q_sitemap_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap coverage gap: declared urls (through the REAL sitemap
    parser over the synthesized XML) vs a crawled set that misses some
    declared urls (md5-coin sm1) and adds undeclared ones (extra0) —
    per-host to-crawl and orphan counts via two LEFT ANTI joins."""
    from ..operators import urls as urlops

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    declared = urlops.parse_sitemap_urls(_synth_sitemaps_df(spark, sf_dir))
    hl = docs.select(
        F.concat(F.col("source"), F.lit(".example.com")).alias("host"), "lang"
    ).distinct()
    coin = F.substring(
        F.md5(F.concat(F.col("host"), F.lit("|"), F.col("lang"))), 1, 1
    ) < F.lit("8")
    mk = lambda leaf: F.concat(  # noqa: E731
        F.lit("https://"), F.col("host"), F.lit("/"), F.col("lang"),
        F.lit("/" + leaf),
    )
    crawled = (
        hl.select("host", mk("sm0").alias("url"))
        .unionByName(hl.where(coin).select("host", mk("sm1").alias("url")))
        .unionByName(hl.select("host", mk("extra0").alias("url")))
    )
    to_crawl = declared.join(
        crawled.hint("shuffle_hash"), ["host", "url"], "left_anti"
    ).groupBy("host").agg(F.count("*").alias("n_to_crawl"))
    orphans = crawled.join(
        declared.hint("shuffle_hash"), ["host", "url"], "left_anti"
    ).groupBy("host").agg(F.count("*").alias("n_orphans"))
    nd = declared.groupBy("host").agg(F.count("*").alias("n_declared"))
    nc = crawled.groupBy("host").agg(F.count("*").alias("n_crawled"))
    return (
        nd.join(nc.hint("shuffle_hash"), "host", "full")
        .join(to_crawl.hint("shuffle_hash"), "host", "left")
        .join(orphans.hint("shuffle_hash"), "host", "left")
        .select(
            "host",
            F.coalesce("n_declared", F.lit(0)).cast("long").alias("n_declared"),
            F.coalesce("n_crawled", F.lit(0)).cast("long").alias("n_crawled"),
            F.coalesce("n_to_crawl", F.lit(0)).cast("long").alias("n_to_crawl"),
            F.coalesce("n_orphans", F.lit(0)).cast("long").alias("n_orphans"),
        )
    )


_SQL_SITEMAP_COVERAGE = """
WITH hl AS (
  SELECT DISTINCT source || '.example.com' AS host, lang FROM documents
),
declared AS (
  SELECT host, 'https://' || host || '/' || lang || '/' || leaf AS url
  FROM hl, (SELECT unnest(['sm0', 'sm1', 'sm2']) AS leaf) v
),
crawled AS (
  SELECT host, 'https://' || host || '/' || lang || '/sm0' AS url FROM hl
  UNION ALL
  SELECT host, 'https://' || host || '/' || lang || '/sm1' FROM hl
  WHERE substr(md5(host || '|' || lang), 1, 1) < '8'
  UNION ALL
  SELECT host, 'https://' || host || '/' || lang || '/extra0' FROM hl
),
tc AS (
  SELECT d.host, count(*) AS n_to_crawl FROM declared d
  WHERE NOT EXISTS (SELECT 1 FROM crawled c
                    WHERE c.host = d.host AND c.url = d.url)
  GROUP BY 1
),
orp AS (
  SELECT c.host, count(*) AS n_orphans FROM crawled c
  WHERE NOT EXISTS (SELECT 1 FROM declared d
                    WHERE d.host = c.host AND d.url = c.url)
  GROUP BY 1
),
nd AS (SELECT host, count(*) AS n_declared FROM declared GROUP BY 1),
nc AS (SELECT host, count(*) AS n_crawled FROM crawled GROUP BY 1)
SELECT nd.host, nd.n_declared::bigint AS n_declared,
  coalesce(nc.n_crawled, 0)::bigint AS n_crawled,
  coalesce(tc.n_to_crawl, 0)::bigint AS n_to_crawl,
  coalesce(orp.n_orphans, 0)::bigint AS n_orphans
FROM nd
LEFT JOIN nc USING (host) LEFT JOIN tc USING (host) LEFT JOIN orp USING (host)
"""


def q_param_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-parameter KEY census per host — faceted-navigation trap
    detection (hosts whose urls carry many distinct sort/filter/page
    params explode combinatorially; schedulers cap or canonicalize them).
    Synthesized urls carry page/sort/ref params by deterministic mods;
    one split + posexplode + bounded groupBy."""
    d = _docs(spark, sf_dir)
    q1 = F.when(
        F.expr("(doc_id div 20) % 2") == 0,
        F.concat(F.lit("page="), (F.col("doc_id") % 9).cast("string")),
    )
    q2 = F.when(F.col("doc_id") % 3 == 0, F.lit("sort=price"))
    q3 = F.when(F.col("doc_id") % 7 == 0, F.lit("ref=home"))
    qs = F.concat_ws("&", q1, q2, q3)
    urls_df = d.select(
        F.col("source").alias("host"),
        F.when(qs == "", F.lit(None)).otherwise(qs).alias("q"),
    )
    keys = F.transform(
        F.split(F.col("q"), "&"), lambda p: F.substring_index(p, "=", 1)
    )
    ex = urls_df.where(F.col("q").isNotNull()).select(
        "host", F.explode(keys).alias("param")
    )
    return ex.groupBy("host", "param").agg(F.count("*").alias("n_urls"))


_SQL_PARAM_CENSUS = """
WITH u AS (
  SELECT source AS host,
    array_to_string(list_filter([
      CASE WHEN (doc_id // 20) % 2 = 0 THEN 'page=' || (doc_id % 9) END,
      CASE WHEN doc_id % 3 = 0 THEN 'sort=price' END,
      CASE WHEN doc_id % 7 = 0 THEN 'ref=home' END
    ], x -> x IS NOT NULL), '&') AS q
  FROM documents
),
ex AS (
  SELECT host, string_split(unnest(string_split(q, '&')), '=')[1] AS param
  FROM u WHERE q != ''
)
SELECT host, param, count(*)::bigint AS n_urls
FROM ex GROUP BY 1, 2
"""


def q_pricing_charge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full TPC-H Q1 charge expression (price * (1-disc) * (1+tax)) —
    covers the tax column; decimal products bounded to stay exact in both
    engines (the tfidf_pairs precision lesson)."""
    li = _tbl(spark, sf_dir, "lineitem")
    dec2 = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    charge = (
        (dec2("l_extendedprice")
         * (F.lit(1).cast("decimal(18,2)") - dec2("l_discount"))).cast("decimal(18,4)")
        * (F.lit(1).cast("decimal(18,2)") + dec2("l_tax"))
    ).cast("decimal(24,6)")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(charge).cast("double").alias("sum_charge"),
            F.count("*").alias("n"),
        )
    )


_SQL_PRICING_CHARGE = """
SELECT l_returnflag, l_linestatus,
  sum(((l_extendedprice::decimal(18,2)
        * (1::decimal(18,2) - l_discount::decimal(18,2)))::decimal(18,4)
       * (1::decimal(18,2) + l_tax::decimal(18,2)))::decimal(24,6)
  )::double AS sum_charge,
  count(*)::bigint AS n
FROM lineitem GROUP BY 1, 2
"""


def q_sized_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-shape predicate battery: revenue from mid-size BRAND#1*
    parts in a quantity band — compound pushable predicates on both join
    sides; covers p_size/p_type/quantity bands."""
    li = _tbl(spark, sf_dir, "lineitem")
    pt = _tbl(spark, sf_dir, "part")
    rev = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1).cast("decimal(18,2)")
           - F.col("l_discount").cast("decimal(18,2)"))
    ).cast("decimal(18,4)")
    sel_p = pt.where(
        (F.col("p_size").between(5, 25)) & F.col("p_brand").startswith("Brand#1")
    )
    sel_l = li.where(F.col("l_quantity").between(5, 30))
    return (
        sel_l.join(F.broadcast(sel_p), sel_l.l_partkey == sel_p.p_partkey)
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


_SQL_SIZED_PART_REVENUE = """
SELECT
  sum((l_extendedprice::decimal(18,2)
       * (1::decimal(18,2) - l_discount::decimal(18,2)))::decimal(18,4)
  )::double AS revenue,
  count(*)::bigint AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_size BETWEEN 5 AND 25 AND p_brand LIKE 'Brand#1%'
  AND l_quantity BETWEEN 5 AND 30
"""


def q_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers with ABOVE-AVERAGE account balance and
    NO orders — scalar-average threshold (exact decimal sum / count, one
    double compare both engines state identically) + LEFT ANTI join."""
    c = _tbl(spark, sf_dir, "customer")
    o = _tbl(spark, sf_dir, "orders")
    stats = c.agg(
        F.sum(F.col("c_acctbal").cast("decimal(18,2)")).alias("s"),
        F.count("*").alias("n"),
    )
    rich = c.crossJoin(F.broadcast(stats)).where(
        F.col("c_acctbal").cast("decimal(18,2)").cast("double")
        > F.col("s").cast("double") / F.col("n")
    )
    idle = rich.join(
        o.select(F.col("o_custkey").alias("c_custkey")).hint("shuffle_hash"),
        "c_custkey",
        "left_anti",
    )
    return idle.agg(
        F.count("*").alias("n_customers"),
        F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_balance"),
    )


_SQL_IDLE_RICH_CUSTOMERS = """
WITH st AS (
  SELECT sum(c_acctbal::decimal(18,2)) AS s, count(*) AS n FROM customer
),
rich AS (
  SELECT c_custkey, c_acctbal FROM customer CROSS JOIN st
  WHERE c_acctbal::decimal(18,2)::double > s::double / n
),
idle AS (
  SELECT r.* FROM rich r
  WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = r.c_custkey)
)
SELECT count(*)::bigint AS n_customers,
  sum(c_acctbal::decimal(18,2))::double AS total_balance
FROM idle
"""


def q_lang_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT surface: the wide lang crosstab melted back to long form
    (source, lang, n) — wide-table ingestion normalization; zero-count
    cells dropped to keep the melt inverse of the pivot."""
    wide = relational.lang_source_pivot(_docs(spark, sf_dir), _PIVOT_LANGS)
    long = wide.unpivot(
        "source",
        [f"n_{lg}" for lg in _PIVOT_LANGS],
        "lang",
        "n",
    )
    return long.select(
        "source",
        F.expr("substring(lang, 3)").alias("lang"),
        F.col("n").cast("long").alias("n"),
    ).where(F.col("n") > 0)


def _sql_lang_unpivot() -> str:
    parts = "\nUNION ALL ".join(
        f"SELECT source, '{lg}' AS lang, count(*) FILTER (lang = '{lg}')::bigint"
        f" AS n FROM documents GROUP BY source"
        for lg in _PIVOT_LANGS
    )
    return f"""
SELECT source, lang, n FROM (
{parts}
) u WHERE n > 0
"""


def q_latest_capture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-version compaction (SCD-1 / upsert semantics): two synthesized
    crawl snapshots of the same urls, keep each url's newest capture —
    ONE map-side-combined groupBy(url) max(struct(ts, snapshot, digest)):
    no window over the corpus, deterministic tiebreak by snapshot id.
    The complement of cdx_revisits (which keeps the FIRST per digest)."""
    d = _docs(spark, sf_dir)

    def mk(src: DataFrame, snap: int, off: int) -> DataFrame:
        return src.select(
            F.concat(
                F.lit("https://s.org/"), F.col("doc_id").cast("string")
            ).alias("url"),
            (F.lit(1704067200) + F.col("doc_id") + F.lit(off)).alias("ts_epoch"),
            F.lit(snap).alias("snapshot"),
            F.md5(F.concat(F.col("text"), F.lit(str(snap)))).alias("digest"),
        )

    # snapshot 2 recaptures only every 3rd doc (partial recrawl)
    caps = mk(d, 1, 0).unionByName(
        mk(d.where(F.col("doc_id") % 3 == 0), 2, 86400)
    )
    best = caps.groupBy("url").agg(
        F.max(F.struct("ts_epoch", "snapshot", "digest")).alias("b")
    )
    return best.select(
        "url",
        F.col("b.ts_epoch").cast("long").alias("ts_epoch"),
        F.col("b.snapshot").cast("int").alias("snapshot"),
        F.col("b.digest").alias("digest"),
    )


_SQL_LATEST_CAPTURE = """
WITH caps AS (
  SELECT 'https://s.org/' || doc_id AS url,
    (1704067200 + doc_id)::bigint AS ts_epoch, 1 AS snapshot,
    md5(text || '1') AS digest
  FROM documents
  UNION ALL
  SELECT 'https://s.org/' || doc_id,
    (1704067200 + doc_id + 86400)::bigint, 2, md5(text || '2')
  FROM documents WHERE doc_id % 3 = 0
),
b AS (
  SELECT url,
    max(struct_pack(t := ts_epoch, s := snapshot, d := digest)) AS b
  FROM caps GROUP BY 1
)
SELECT url, (b.b).t AS ts_epoch, (b.b).s::int AS snapshot, (b.b).d AS digest
FROM b
"""


def q_edit_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein distance between consecutive docs' 24-char prefixes —
    the title-variant detector (near-identical titles differing by a
    counter or date are pagination families). Built-in JVM levenshtein;
    bounded operand length keeps the DP cell count constant per row."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    nxt = d.select(
        (F.col("doc_id") - 1).alias("doc_id"), F.col("text").alias("next_text")
    )
    return (
        d.join(nxt.hint("shuffle_hash"), "doc_id")
        .select(
            "doc_id",
            F.levenshtein(
                F.substring("text", 1, 24), F.substring("next_text", 1, 24)
            )
            .cast("long")
            .alias("edit_distance"),
        )
    )


_SQL_EDIT_DISTANCES = """
SELECT d.doc_id,
  levenshtein(substr(d.text, 1, 24), substr(n.text, 1, 24))::bigint
    AS edit_distance
FROM documents d JOIN documents n ON n.doc_id = d.doc_id + 1
"""


def q_json_array_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON ARRAY handling: a synthesized per-event int array parsed with
    from_json and reduced to sum/max/size — the list-typed face of the
    semi-structured surface (json_key_census covers objects)."""
    ev = _tbl(spark, sf_dir, "events").select("event_id")
    arr_json = F.concat(
        F.lit("["),
        (F.col("event_id") % 7).cast("string"),
        F.lit(", "),
        (F.col("event_id") % 11).cast("string"),
        F.lit(", "),
        (F.col("event_id") % 13).cast("string"),
        F.lit("]"),
    )
    arr = F.from_json(arr_json, "array<bigint>")
    return ev.select(
        "event_id",
        F.size(arr).cast("long").alias("n_items"),
        F.aggregate(arr, F.lit(0).cast("long"), lambda a, x: a + x).alias(
            "sum_items"
        ),
        F.array_max(arr).cast("long").alias("max_item"),
    )


_SQL_JSON_ARRAY_STATS = """
WITH d AS (
  SELECT event_id,
    from_json('[' || (event_id % 7) || ', ' || (event_id % 11) || ', '
              || (event_id % 13) || ']', '["BIGINT"]') AS arr
  FROM events
)
SELECT event_id, len(arr)::bigint AS n_items,
  list_reduce(arr, (a, x) -> a + x)::bigint AS sum_items,
  list_max(arr)::bigint AS max_item
FROM d
"""


def q_host_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-graph degree census: out/in degree per host plus the degree
    histogram fan-in — two map-side-combined groupBys over the edge list
    (the sanity view before pagerank/HITS iteration counts are chosen)."""
    # distinct edges: the formula graph duplicates an edge when both
    # derivations agree (k*k+1 == 3k+1 mod 20) and the oracle's UNION dedupes
    e = _host_graph_edges(spark, sf_dir).distinct()
    out_d = e.groupBy(F.col("src").alias("host")).agg(
        F.count("*").alias("out_deg")
    )
    in_d = e.groupBy(F.col("dst").alias("host")).agg(
        F.count("*").alias("in_deg")
    )
    return (
        out_d.join(in_d.hint("shuffle_hash"), "host", "full")
        .select(
            "host",
            F.coalesce("out_deg", F.lit(0)).cast("long").alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).cast("long").alias("in_deg"),
        )
    )


_SQL_HOST_DEGREES = """
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
o AS (SELECT src AS host, count(*) AS out_deg FROM e GROUP BY 1),
i AS (SELECT dst AS host, count(*) AS in_deg FROM e GROUP BY 1)
SELECT coalesce(o.host, i.host) AS host,
  coalesce(o.out_deg, 0)::bigint AS out_deg,
  coalesce(i.in_deg, 0)::bigint AS in_deg
FROM o FULL OUTER JOIN i ON o.host = i.host
"""


def q_host_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration of documents across hosts — the single-number
    skew gauge crawl budgeting consults (G near 0 = even spread, near 1 =
    megahost-dominated). G_micro = floor((2*Σ(i*x_i) - (n+1)*Σx) * 1e6
    / (n*Σx)), x ascending.

    Scale shape (round-4 fix of the r3 `weak`): the rank sum is computed
    WITHOUT ranking the per-host table. For a tie-run of m hosts sharing
    count x after s strictly-smaller rows, Σ i*x over the run is
    x*(m*s + m*(m+1)/2) — independent of intra-tie order (the oracle's
    host tiebreak is therefore immaterial). So we aggregate hosts →
    (x, m) and rank only the distinct-count DISTRIBUTION table, which is
    provably bounded: k distinct count values need Σx ≥ k(k+1)/2 docs,
    so k ≤ √(2·n_docs) ≈ 1.4e6 rows at 10^12 docs (~20 MB) — the same
    "single-partition window over a bounded table only" shape as
    ``shard_assign``. The 1e8-host table is touched by map-side-combined
    aggregates only; no corpus-sized sort anywhere
    (test-pinned: tests/test_operators.py::test_host_gini_plan_ranks_only
    _the_bounded_distribution)."""
    from pyspark.sql import Window

    counts = (
        _docs(spark, sf_dir)
        .groupBy("source")
        .agg(F.count("*").alias("x"))
    )
    dist = counts.groupBy("x").agg(F.count("*").alias("m"))
    below = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, -1)
    runs = dist.withColumn(
        "s", F.coalesce(F.sum("m").over(below), F.lit(0)).cast("long")
    )
    run_six = F.col("x") * (
        F.col("m") * F.col("s") + F.expr("m * (m + 1) div 2")
    )
    agg = runs.agg(
        F.sum("m").alias("n"),
        F.sum(F.col("m") * F.col("x")).alias("sx"),
        F.sum(run_six).alias("six"),
    )
    return agg.select(
        F.col("n").cast("long").alias("n_hosts"),
        F.col("sx").cast("long").alias("n_docs"),
        F.floor(
            (2 * F.col("six") - (F.col("n") + 1) * F.col("sx"))
            * 1000000
            / (F.col("n") * F.col("sx"))
        )
        .cast("long")
        .alias("gini_micro"),
    )


_SQL_HOST_GINI = """
WITH c AS (SELECT source, count(*) AS x FROM documents GROUP BY 1),
r AS (
  SELECT x, row_number() OVER (ORDER BY x, source) AS i FROM c
),
a AS (SELECT count(*) AS n, sum(x) AS sx, sum(i * x) AS six FROM r)
SELECT n::bigint AS n_hosts, sx::bigint AS n_docs,
  floor((2 * six - (n + 1) * sx) * 1000000 / (n * sx))::bigint AS gini_micro
FROM a
"""


def q_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test lang x source: per-cell terms are
    exact-integer ((O*N - r*c)^2 / (N*r*c)) evaluated as ONE double
    division each, summed as round(·,6) decimals (order-independent).
    Output: one row (n_cells, dof, chi2_micro)."""
    d = _docs(spark, sf_dir)
    obs = d.groupBy("source", "lang").agg(F.count("*").alias("o"))
    rows_t = d.groupBy("source").agg(F.count("*").alias("r"))
    cols_t = d.groupBy("lang").agg(F.count("*").alias("c"))
    n_total = d.count()
    j = obs.join(F.broadcast(rows_t), "source").join(
        F.broadcast(cols_t), "lang"
    )
    dev = F.col("o") * F.lit(n_total) - F.col("r") * F.col("c")
    term = F.round(
        (dev * dev).cast("double")
        / (F.lit(n_total) * F.col("r") * F.col("c")).cast("double"),
        6,
    ).cast("decimal(28,6)")
    agg = j.agg(
        F.count("*").alias("n_cells"),
        F.sum(term).alias("chi2"),
        F.count_distinct("source").alias("nr"),
        F.count_distinct("lang").alias("nc"),
    )
    return agg.select(
        F.col("n_cells").cast("long").alias("n_cells"),
        ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("long").alias("dof"),
        F.floor(F.col("chi2").cast("double") * 1000000.0)
        .cast("long")
        .alias("chi2_micro"),
    )


_SQL_CHI_SQUARE = """
WITH obs AS (SELECT source, lang, count(*) AS o FROM documents GROUP BY 1, 2),
r AS (SELECT source, count(*) AS r FROM documents GROUP BY 1),
c AS (SELECT lang, count(*) AS c FROM documents GROUP BY 1),
nn AS (SELECT count(*) AS n FROM documents),
t AS (
  SELECT obs.source, obs.lang,
    round(((obs.o * nn.n - r.r * c.c) * (obs.o * nn.n - r.r * c.c))::double
          / (nn.n * r.r * c.c)::double, 6)::decimal(28,6) AS term
  FROM obs JOIN r USING (source) JOIN c USING (lang) CROSS JOIN nn
)
SELECT count(*)::bigint AS n_cells,
  ((SELECT count(DISTINCT source) FROM documents) - 1)::bigint
    * ((SELECT count(DISTINCT lang) FROM documents) - 1)::bigint AS dof,
  floor(sum(term)::double * 1000000.0)::bigint AS chi2_micro
FROM t
"""


def q_value_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation per event_type between the value column and the
    JSON props k field — the zipf_fit regression discipline applied to
    corr: all five sums accumulate as exact decimals (x rounded to 6 dp
    first), ONE double formula at emit. A NULL corr (zero variance) stays
    NULL."""
    ev = _tbl(spark, sf_dir, "events")
    x = F.round(F.col("value").cast("double"), 6).cast("decimal(18,6)")
    y = F.get_json_object("props", "$.k").cast("long").cast("decimal(18,0)")
    sums = ev.where(y.isNotNull()).groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum((x * x).cast("decimal(30,12)")).alias("sxx"),
        F.sum(y * y).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    denx = (F.col("n") * F.col("sxx") - (F.col("sx") * F.col("sx")).cast("decimal(38,12)")).cast("double")
    deny = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    corr = num / F.sqrt(denx * deny)
    return sums.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.when(
            (denx > 0) & (deny > 0), F.floor(corr * 1000000.0)
        ).cast("long").alias("corr_micro"),
    )


_SQL_VALUE_CORRELATION = """
WITH e AS (
  SELECT event_type,
    round(value::double, 6)::decimal(18,6) AS x,
    json_extract_string(props, '$.k')::bigint::decimal(18,0) AS y
  FROM events
),
s AS (
  SELECT event_type, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
    sum(x * y) AS sxy, sum((x * x)::decimal(30,12)) AS sxx,
    sum(y * y) AS syy
  FROM e WHERE y IS NOT NULL GROUP BY 1
)
SELECT event_type, n::bigint AS n,
  CASE WHEN (n * sxx - (sx * sx)::decimal(38,12))::double > 0
        AND (n * syy - sy * sy)::double > 0
       THEN floor((n * sxy - sx * sy)::double
                  / sqrt((n * sxx - (sx * sx)::decimal(38,12))::double
                         * (n * syy - sy * sy)::double)
                  * 1000000.0)::bigint
  END AS corr_micro
FROM s
"""


def q_stream_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming stateless quality annotation (streaming.stream_quality_
    flags) drained availableNow; oracle = identical batch SQL."""
    from ..streaming.pipeline import run_stream_to_table, stream_quality_flags

    name = "stream_quality_result"
    sdf = stream_quality_flags(spark, f"{sf_dir}/documents.parquet")
    run_stream_to_table(spark, sdf, name, output_mode="append")
    return spark.table(name)


_SQL_STREAM_QUALITY = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
m AS (
  SELECT doc_id, len(toks)::bigint AS n_tokens,
    CASE WHEN len(toks) > 0 THEN
      floor(list_reduce(list_transform(toks, x -> length(x)::bigint),
                        (a, b) -> a + b) * 1000000 / len(toks))::bigint
    ELSE 0 END AS mean_tok_len_micro
  FROM t
)
SELECT doc_id, n_tokens, mean_tok_len_micro,
  (n_tokens >= 5 AND mean_tok_len_micro >= 2000000
   AND mean_tok_len_micro <= 12000000)::int AS keep
FROM m
"""


def q_ivf_inertia(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF clustering-quality gauge (similarity.ivf_inertia): per-cell
    population + decimal-summed inertia."""
    return _as_long(
        similarity.ivf_inertia(_tbl(spark, sf_dir, "embeddings"), 8), "cell"
    )


_SQL_IVF_INERTIA = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::double) AS v FROM embeddings
),
c0 AS (SELECT vec_id AS cell_id, v AS cv FROM e WHERE vec_id < 8),
d0 AS (
  SELECT e.vec_id, c.cell_id,
    list_reduce(list_transform(generate_series(1, len(e.v)),
      i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i])), (x, y) -> x + y) AS dist
  FROM e, c0 c
),
m0 AS (SELECT vec_id, min(dist) AS md FROM d0 GROUP BY vec_id),
a0 AS (
  SELECT d.vec_id, min(d.cell_id) AS cell, min(m0.md) AS md
  FROM d0 d JOIN m0 ON d.vec_id = m0.vec_id AND d.dist = m0.md
  GROUP BY d.vec_id
)
SELECT cell::bigint AS cell, count(*)::bigint AS n_vecs,
  floor(sum(round(md, 12)::decimal(28,12))::double * 1000000.0)::bigint
    AS inertia_micro
FROM a0 GROUP BY cell
"""


def q_tfidf_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine join (textops.tfidf_cosine_pairs) over a
    paired corpus: docs 2k/2k+1 share one text, groups of 4 share one
    planted rare term — each even/odd pair must score near 1.0."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    base = d.select(F.col("doc_id").alias("bid"), F.col("text").alias("btext"))
    paired = (
        d.select("doc_id", (F.floor(F.col("doc_id") / 2) * 2).alias("bid"))
        .join(base.hint("shuffle_hash"), "bid")
        .select(
            "doc_id",
            F.concat(
                F.col("btext"),
                F.lit(" uq"),
                F.floor(F.col("doc_id") / 4).cast("string"),
            ).alias("text"),
        )
    )
    return textops.tfidf_cosine_pairs(paired)


_SQL_TFIDF_PAIRS = f"""
WITH src AS (
  SELECT d.doc_id, b.text || ' uq' || (d.doc_id // 4) AS text
  FROM documents d JOIN documents b ON b.doc_id = (d.doc_id // 2) * 2
),
tf AS (
  SELECT doc_id, term, count(*)::decimal(10,0) AS tf
  FROM (SELECT doc_id, unnest({_TOKS}) AS term FROM src) GROUP BY 1, 2
),
nn AS (SELECT count(*) AS n FROM src),
dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
w AS (
  SELECT tf.doc_id, tf.term, dft.df,
    (tf.tf * round(ln(nn.n::double / dft.df::double), 6)::decimal(12,6)
    )::decimal(15,6) AS w
  FROM tf JOIN dft USING (term) CROSS JOIN nn
),
norms AS (SELECT doc_id, sum(w * w) AS nrm FROM w GROUP BY 1),
rare AS (SELECT doc_id, term FROM w WHERE df <= 16),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM rare a JOIN rare b ON a.term = b.term AND a.doc_id < b.doc_id
),
dots AS (
  SELECT c.id_a, c.id_b, sum(wa.w * wb.w) AS dot
  FROM cand c
  JOIN w wa ON wa.doc_id = c.id_a
  JOIN w wb ON wb.doc_id = c.id_b AND wb.term = wa.term
  GROUP BY 1, 2
)
SELECT d.id_a, d.id_b,
  floor(d.dot::double / sqrt(na.nrm::double * nb.nrm::double)
        * 1000000.0)::bigint AS cosine_micro
FROM dots d
JOIN norms na ON na.doc_id = d.id_a
JOIN norms nb ON nb.doc_id = d.id_b
WHERE floor(d.dot::double / sqrt(na.nrm::double * nb.nrm::double)
            * 1000000.0) >= 300000
"""


def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of event values per event_type (bin = floor
    of value/10, decimal-exact binning so boundary values cannot straddle
    engines) — the profiling pass before choosing filter thresholds."""
    ev = _tbl(spark, sf_dir, "events")
    bin_ = F.floor(
        F.col("value").cast("decimal(18,6)") / F.lit(10).cast("decimal(4,0)")
    ).cast("long")
    return (
        ev.select("event_type", bin_.alias("bin"))
        .groupBy("event_type", "bin")
        .agg(F.count("*").alias("n"))
    )


_SQL_VALUE_HISTOGRAM = """
SELECT event_type, floor(value::decimal(18,6) / 10)::bigint AS bin,
  count(*)::bigint AS n
FROM events GROUP BY 1, 2
"""


def q_order_date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-filled daily order counts (date-spine pattern): a generated
    day dimension LEFT-joined to the fact aggregate so empty days emit 0
    instead of vanishing — the dashboard-correctness idiom. The spine is
    sequence(min, max) exploded from ONE aggregate row; bounded by the
    date range, not the fact size. Weekly grain keeps the oracle small:
    days collapsed to epoch-week buckets."""
    o = _tbl(_utc(spark), sf_dir, "orders")
    wk = F.floor(
        F.col("o_orderdate").cast("timestamp").cast("long") / 604800
    ).alias("week")
    per_week = o.select(wk).groupBy("week").agg(F.count("*").alias("n_orders"))
    bounds = o.agg(
        F.min(F.col("o_orderdate").cast("timestamp").cast("long")).alias("lo"),
        F.max(F.col("o_orderdate").cast("timestamp").cast("long")).alias("hi"),
    ).select(
        F.floor(F.col("lo") / 604800).cast("long").alias("wlo"),
        F.floor(F.col("hi") / 604800).cast("long").alias("whi"),
    )
    spine = bounds.select(
        F.explode(F.sequence(F.col("wlo"), F.col("whi"))).alias("week")
    )
    return spine.join(per_week, "week", "left").select(
        "week",
        F.coalesce("n_orders", F.lit(0)).cast("long").alias("n_orders"),
    )


_SQL_ORDER_DATE_SPINE = """
WITH w AS (
  SELECT floor(epoch(o_orderdate))::bigint // 604800 AS week FROM orders
),
pw AS (SELECT week, count(*) AS n_orders FROM w GROUP BY 1),
b AS (SELECT min(week) AS wlo, max(week) AS whi FROM w),
spine AS (SELECT unnest(generate_series(wlo, whi)) AS week FROM b)
SELECT spine.week, coalesce(pw.n_orders, 0)::bigint AS n_orders
FROM spine LEFT JOIN pw USING (week)
"""


def q_snapshot_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operation surface: INTERSECT / EXCEPT between two synthesized
    snapshot url sets (snapshot B drops every 5th doc and adds shifted
    ids) — the membership audit behind crawl_diff, as set ops."""
    d = _docs(spark, sf_dir).select("doc_id")
    a = d.select(F.concat(F.lit("u"), F.col("doc_id").cast("string")).alias("u"))
    b = d.where(F.col("doc_id") % 5 != 0).select(
        F.concat(F.lit("u"), F.col("doc_id").cast("string")).alias("u")
    ).unionByName(
        d.select(
            F.concat(F.lit("u"), (F.col("doc_id") + 500000).cast("string")).alias("u")
        )
    )
    stable = a.intersect(b).agg(F.count("*").alias("n")).select(
        F.lit("stable").alias("kind"), F.col("n").cast("long").alias("n")
    )
    removed = a.exceptAll(b).agg(F.count("*").alias("n")).select(
        F.lit("removed").alias("kind"), F.col("n").cast("long").alias("n")
    )
    added = b.exceptAll(a).agg(F.count("*").alias("n")).select(
        F.lit("added").alias("kind"), F.col("n").cast("long").alias("n")
    )
    return stable.unionByName(removed).unionByName(added)


_SQL_SNAPSHOT_MEMBERSHIP = """
WITH a AS (SELECT 'u' || doc_id AS u FROM documents),
b AS (
  SELECT 'u' || doc_id AS u FROM documents WHERE doc_id % 5 != 0
  UNION ALL SELECT 'u' || (doc_id + 500000) FROM documents
)
SELECT 'stable' AS kind,
  (SELECT count(*) FROM (SELECT u FROM a INTERSECT SELECT u FROM b))::bigint AS n
UNION ALL
SELECT 'removed',
  (SELECT count(*) FROM (SELECT u FROM a EXCEPT ALL SELECT u FROM b))::bigint
UNION ALL
SELECT 'added',
  (SELECT count(*) FROM (SELECT u FROM b EXCEPT ALL SELECT u FROM a))::bigint
"""


def q_json_key_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured key census: top-level JSON key counts + null-value
    counts over a decorated props column (every 3rd event gains an extra
    key, every 7th a null) — the schema-discovery pass over a raw JSON
    ingest column. json_object_keys + posexplode, one bounded groupBy."""
    ev = _tbl(spark, sf_dir, "events").select("event_id", "props")
    decorated = F.concat(
        F.expr("rtrim('}', props)"),
        F.when(
            F.col("event_id") % 3 == 0, F.lit(', "extra": true')
        ).otherwise(F.lit("")),
        F.when(
            F.col("event_id") % 7 == 0, F.lit(', "note": null')
        ).otherwise(F.lit("")),
        F.lit("}"),
    )
    # from_json to a map preserves JSON nulls as NULL values and keeps the
    # key list; get_json_object would need a foldable path per key
    kv = F.explode(F.from_json(decorated, "map<string,string>"))
    ex = ev.select(kv.alias("key", "val"))
    return ex.groupBy("key").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("val").isNull().cast("int")).cast("long").alias("n_null"),
    )


_SQL_JSON_KEY_CENSUS = """
WITH d AS (
  SELECT rtrim(props, '}')
    || (CASE WHEN event_id % 3 = 0 THEN ', "extra": true' ELSE '' END)
    || (CASE WHEN event_id % 7 = 0 THEN ', "note": null' ELSE '' END)
    || '}' AS j
  FROM events
),
ex AS (SELECT j, unnest(json_keys(j)) AS key FROM d)
SELECT key, count(*)::bigint AS n_events,
  sum((json_extract_string(j, '$.' || key) IS NULL)::int)::bigint AS n_null
FROM ex GROUP BY 1
"""


def q_lang_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crosstab pivot (relational.lang_source_pivot) with a pinned value
    list — no distinct-collect pre-pass."""
    return relational.lang_source_pivot(_docs(spark, sf_dir), _PIVOT_LANGS)


def _sql_lang_pivot() -> str:
    cols = ",\n  ".join(
        f"sum(CASE WHEN lang = '{lg}' THEN 1 ELSE 0 END)::bigint AS n_{lg}"
        for lg in _PIVOT_LANGS
    )
    return f"""
SELECT source,
  {cols}
FROM documents GROUP BY source
"""


def q_rollup_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP census (relational.corpus_rollup_census): cells, per-source
    subtotals and grand total in one expand+aggregate pass."""
    return relational.corpus_rollup_census(_docs(spark, sf_dir))


_SQL_ROLLUP_CENSUS = """
SELECT coalesce(source, 'ALL') AS source, coalesce(lang, 'ALL') AS lang,
  grouping(source, lang)::int AS grouping_level,
  count(*)::bigint AS n_docs,
  sum(n_chars::decimal(18,0))::bigint AS sum_chars
FROM documents GROUP BY ROLLUP (source, lang)
"""


def q_rolling_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-frame rolling mean (relational.rolling_value_stats)."""
    return relational.rolling_value_stats(_tbl(spark, sf_dir, "events"))


_SQL_ROLLING_VALUES = """
SELECT user_id, event_id,
  count(*) OVER w::bigint AS n_in_frame,
  floor(sum(value::decimal(18,6)) OVER w::double
        / count(*) OVER w * 1000000.0)::bigint AS mean_value_micro
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
"""


def q_length_ntiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile(4) length quartiles per source (relational.length_quartiles)."""
    return relational.length_quartiles(_docs(spark, sf_dir))


_SQL_LENGTH_NTILES = """
SELECT doc_id, source, n_chars,
  ntile(4) OVER (PARTITION BY source ORDER BY n_chars, doc_id)::int
    AS quartile
FROM documents
"""




def q_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked record linkage (dedup.record_linkage) between customer and
    a deterministically perturbed copy of itself: names are distinctive
    md5-prefixed strings (so in-block decoy pairs score LOW), the copy
    perturbs each name by custkey%4 (identical / ' JR' suffix / C->K
    typo / trailing '.') and renumbers 2/3 of the phones. Blocking is
    nation x custkey%50 (~1 record per block per side at sf0.01, never
    all-pairs); exact-attribute agreements are nation (always, in-block)
    and phone (custkey%3==0 only). The oracle restates the same blocked
    join and integer scoring."""
    from ..operators.dedup import record_linkage

    c = _tbl(spark, sf_dir, "customer")
    key = F.col("c_custkey").cast("long")
    name = F.concat(
        F.lit("C-"),
        F.substring(F.md5(key.cast("string")), 1, 8),
        F.lit("-"),
        key.cast("string"),
    )
    block = F.concat(
        F.col("c_nationkey").cast("string"),
        F.lit(":"),
        F.pmod(key, 50).cast("string"),
    )
    nb = c.withColumn("name_base", name)
    base = nb.select(
        key.alias("rec_id"),
        F.col("name_base").alias("name"),
        block.alias("block_key"),
        F.col("c_nationkey").cast("long").alias("nation"),
        F.concat(F.lit("P-"), F.pmod(key * 7, 10000).cast("string"))
        .alias("phone"),
    )
    name_base = F.col("name_base")
    pert_name = (
        F.when(F.pmod(key, 4) == 0, name_base)
        .when(F.pmod(key, 4) == 1, F.concat(name_base, F.lit(" JR")))
        .when(
            F.pmod(key, 4) == 2,
            F.concat(F.lit("K"), F.substring(name_base, 2, 1 << 20)),
        )
        .otherwise(F.concat(name_base, F.lit(".")))
    )
    dirty = nb.select(
        (key + 1000000).alias("rec_id"),
        pert_name.alias("name"),
        block.alias("block_key"),
        F.col("c_nationkey").cast("long").alias("nation"),
        F.when(
            F.pmod(key, 3) == 0,
            F.concat(F.lit("P-"), F.pmod(key * 7, 10000).cast("string")),
        )
        .otherwise(
            F.concat(F.lit("P-9"), F.pmod(key * 7, 10000).cast("string"))
        )
        .alias("phone"),
    )
    out = record_linkage(
        base, dirty, exact_cols=("nation", "phone"), threshold=1300
    )
    return out.withColumn("matched", F.col("matched").cast("int"))


_SQL_RECORD_LINKAGE = """
WITH base AS (
  SELECT c_custkey::bigint AS rec_id,
    'C-' || substr(md5(c_custkey::bigint::varchar), 1, 8) || '-' || c_custkey::bigint
      AS name,
    c_nationkey::varchar || ':' || (c_custkey::bigint % 50) AS block_key,
    c_nationkey::bigint AS nation,
    'P-' || (c_custkey::bigint * 7 % 10000) AS phone
  FROM customer
), dirty AS (
  SELECT c_custkey::bigint + 1000000 AS rec_id,
    CASE c_custkey::bigint % 4
      WHEN 0 THEN name_base
      WHEN 1 THEN name_base || ' JR'
      WHEN 2 THEN 'K' || substr(name_base, 2)
      ELSE name_base || '.'
    END AS name,
    c_nationkey::varchar || ':' || (c_custkey::bigint % 50) AS block_key,
    c_nationkey::bigint AS nation,
    CASE WHEN c_custkey::bigint % 3 = 0
         THEN 'P-' || (c_custkey::bigint * 7 % 10000)
         ELSE 'P-9' || (c_custkey::bigint * 7 % 10000) END AS phone
  FROM (
    SELECT *,
      'C-' || substr(md5(c_custkey::bigint::varchar), 1, 8) || '-'
        || c_custkey::bigint AS name_base
    FROM customer
  )
), pairs AS (
  SELECT a.rec_id AS id_a, b.rec_id AS id_b,
    levenshtein(a.name, b.name)::bigint AS name_lev,
    (1000 * (greatest(length(a.name), length(b.name))
             - levenshtein(a.name, b.name)))
      // greatest(length(a.name), length(b.name)) AS name_sim_milli,
    (a.nation = b.nation)::bigint + (a.phone = b.phone)::bigint AS n_exact
  FROM base a JOIN dirty b USING (block_key)
)
SELECT id_a, id_b, name_lev, name_sim_milli::bigint AS name_sim_milli,
  n_exact,
  (name_sim_milli + 500 * n_exact)::bigint AS score_pts,
  (name_sim_milli + 500 * n_exact >= 1300)::int AS matched
FROM pairs
"""


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed shingle containment (dedup.containment_pairs) over
    documents ∪ planted excerpts: every fifth doc contributes a 12-token
    prefix quote under doc_id+400000 — high containment from the
    excerpt's side, low Jaccard (the case the symmetric score misses).
    The oracle restates the df-capped shingle join and the integer
    micro-score in both directions."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    toks = textops.ws_tokens(F.lower(F.col("text")))
    quotes = d.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 400000).alias("doc_id"),
        F.array_join(F.slice(toks, 1, 12), " ").alias("text"),
    )
    return dedup.containment_pairs(
        d.unionByName(quotes), threshold_micro=600_000
    )


_SQL_CONTAINMENT_PAIRS = f"""
WITH src AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 400000, array_to_string(({_TOKS})[1:12], ' ')
  FROM documents WHERE doc_id % 5 = 0
),
t AS (SELECT doc_id, {_TOKS} AS toks FROM src),
sh AS (SELECT doc_id, list_transform({_SHINGLES_SQL}, s -> md5(s)) AS shingles
       FROM t),
e0 AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
dfreq AS (SELECT shingle, count(*) AS c FROM e0 GROUP BY shingle),
e AS (SELECT e0.doc_id, e0.shingle FROM e0 JOIN dfreq USING (shingle)
      WHERE c <= 64),
sizes AS (SELECT doc_id, count(*) AS n FROM e GROUP BY doc_id),
common AS (
  SELECT l.doc_id AS id_a, r.doc_id AS id_b, count(*) AS common
  FROM e l JOIN e r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
  GROUP BY l.doc_id, r.doc_id
),
pairs2 AS (
  SELECT id_a, id_b, common, sa.n AS na, sb.n AS nb
  FROM common
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
),
dirs AS (
  SELECT id_a AS id_src, id_b AS id_dst,
    (common * 1000000) // na AS containment_micro FROM pairs2
  UNION ALL
  SELECT id_b, id_a, (common * 1000000) // nb FROM pairs2
)
SELECT id_src, id_dst, containment_micro FROM dirs
WHERE containment_micro >= 600000
"""


def q_cube_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE census (relational.corpus_cube_census): the full grouping-
    sets lattice — cells, both marginals, grand total — in one
    expand+aggregate pass (rollup_census emits only the source-led
    hierarchy)."""
    return relational.corpus_cube_census(_docs(spark, sf_dir))


_SQL_CUBE_CENSUS = """
SELECT coalesce(source, 'ALL') AS source, coalesce(lang, 'ALL') AS lang,
  grouping(source, lang)::int AS grouping_level,
  count(*)::bigint AS n_docs,
  sum(n_chars::decimal(18,0))::bigint AS sum_chars
FROM documents GROUP BY CUBE (source, lang)
"""


def q_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass all-columns data profile (relational.profile_columns)
    of lineitem: nulls, exact NDV, type-encoded min/max (ints/epochs as
    bigint, doubles as floor-micro, strings raw). The oracle restates
    the per-column stats as a UNION ALL battery over the same
    encodings."""
    return relational.profile_columns(_tbl(_utc(spark), sf_dir, "lineitem"))


_PROFILE_COLS: list[tuple[str, str]] = [
    ("l_orderkey", "int"), ("l_partkey", "int"), ("l_suppkey", "int"),
    ("l_linenumber", "int"), ("l_quantity", "dbl"),
    ("l_extendedprice", "dbl"), ("l_discount", "dbl"), ("l_tax", "dbl"),
    ("l_returnflag", "str"), ("l_linestatus", "str"), ("l_shipdate", "ts"),
]


def _sql_column_profile() -> str:
    blocks = []
    for name, kind in _PROFILE_COLS:
        if kind == "dbl":
            enc = f"floor({name} * 1000000.0::double)::bigint"
        elif kind == "ts":
            enc = f"floor(epoch({name}))::bigint"
        else:
            enc = name
        blocks.append(
            f"SELECT '{name}' AS col_name, count(*)::bigint AS n_rows,\n"
            f"  (count(*) - count({name}))::bigint AS n_nulls,\n"
            f"  count(DISTINCT {name})::bigint AS n_distinct,\n"
            f"  min({enc})::varchar AS min_repr,\n"
            f"  max({enc})::varchar AS max_repr\nFROM lineitem"
        )
    return "\nUNION ALL\n".join(blocks)


def q_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact prefix-filtered Jaccard join (dedup.prefix_jaccard_join,
    PPJoin family) at 0.99 over the near-dup corpus: provably complete
    candidates from the rarest-token prefix equi-join, exact integer
    verify — no df-cap approximation, no LSH false negatives. The
    oracle restates the same global rarity order, prefix cut, and
    verify."""
    return dedup.prefix_jaccard_join(
        _neardup_docs(spark, sf_dir), threshold_micro=990_000
    )


_SQL_PREFIX_JACCARD = f"""
WITH src AS ({_NEARDUP_SQL}),
toks AS (
  SELECT doc_id, unnest(list_distinct({_TOKS})) AS token FROM src
),
dftab AS (SELECT token, count(*) AS df FROM toks GROUP BY token),
keyed AS (
  SELECT doc_id, lpad(df::varchar, 10, '0') || token AS k
  FROM toks JOIN dftab USING (token)
),
arrs AS (
  SELECT doc_id, list_transform(list_sort(list(k)), s -> substr(s, 11)) AS tk,
    len(list(k))::bigint AS n
  FROM keyed GROUP BY doc_id
),
pref AS (
  SELECT doc_id,
    unnest(list_slice(tk, 1,
      (n - ((990000 * n + 999999) // 1000000) + 1)::int)) AS token
  FROM arrs
),
cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM pref l JOIN pref r ON l.token = r.token AND l.doc_id < r.doc_id
),
v AS (
  SELECT id_a, id_b,
    len(list_intersect(a.tk, b.tk))::bigint AS common, a.n AS na, b.n AS nb
  FROM cand JOIN arrs a ON a.doc_id = id_a JOIN arrs b ON b.doc_id = id_b
)
SELECT id_a, id_b,
  (common * 1000000) // (na + nb - common) AS jaccard_micro
FROM v WHERE (common * 1000000) // (na + nb - common) >= 990000
"""


def q_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join (streaming.stream_enrich): events
    stream labeled with the customer dimension's market segment per
    micro-batch, drained availableNow; oracle = the batch left join."""
    from ..streaming.pipeline import run_stream_to_table, stream_enrich

    name = "stream_enrich_result"
    dim = spark.read.parquet(f"{sf_dir}/customer.parquet")
    sdf = stream_enrich(spark, f"{sf_dir}/events.parquet", dim)
    run_stream_to_table(spark, sdf, name, output_mode="append")
    return spark.table(name)


_SQL_STREAM_ENRICH = """
SELECT event_id::bigint AS event_id, user_id::bigint AS user_id,
  event_type, coalesce(c_mktsegment, 'unknown') AS segment
FROM events LEFT JOIN customer ON user_id = c_custkey
"""


def q_contrastive_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive triplet mining (dedup.contrastive_triplets):
    positives from the MinHash candidate pairs over the planted-neardup
    corpus (anchor mapped to its base id — the planted ids are sparse),
    negatives by deterministic half-rotation over the dense documents
    universe, screened against the candidate set."""
    d = _docs(spark, sf_dir).select("doc_id")
    pairs = dedup.minhash_candidate_pairs(_neardup_docs(spark, sf_dir))
    base_pairs = pairs.select(
        (F.col("id_a") % 100000).alias("id_a"), F.col("id_b")
    )
    return dedup.contrastive_triplets(d, base_pairs)


_SQL_CONTRASTIVE_TRIPLETS = (
    _sql_minhash_bands(_NEARDUP_SQL)
    + """,
ct_raw AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM bands l JOIN bands r
    ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
),
ct_bp AS (SELECT id_a % 100000 AS id_a, id_b FROM ct_raw),
ct_mm AS (
  SELECT max(doc_id) + 1 AS m, (max(doc_id) + 1) // 2 AS half
  FROM documents
),
ct_t AS (
  SELECT ct_bp.id_a AS anchor, ct_bp.id_b AS positive,
    (ct_bp.id_a + ct_mm.half) % ct_mm.m AS negative
  FROM ct_bp, ct_mm
),
ct_t2 AS (
  SELECT * FROM ct_t
  WHERE negative <> anchor AND negative <> positive
    AND negative IN (SELECT doc_id FROM documents)
),
ct_canon AS (
  SELECT least(id_a, id_b) AS a, greatest(id_a, id_b) AS b FROM ct_bp
)
SELECT anchor::bigint AS anchor, positive::bigint AS positive,
  negative::bigint AS negative
FROM ct_t2
WHERE NOT EXISTS (
  SELECT 1 FROM ct_canon c
  WHERE c.a = least(ct_t2.anchor, ct_t2.negative)
    AND c.b = greatest(ct_t2.anchor, ct_t2.negative)
)
"""
)


def q_dedup_bcubed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-cubed evaluation (dedup.bcubed_eval) of the end-to-end
    dedup_clusters output against the planted families (base doc and
    its +100000 perturbed twin share family doc_id % 100000) — the
    extrinsic quality number for the whole LSH->verify->CC pipeline."""
    assign = dedup.dedup_clusters(_neardup_docs(spark, sf_dir)).select(
        "doc_id", "cluster_id"
    )
    truth = _neardup_docs(spark, sf_dir).select(
        "doc_id", (F.col("doc_id") % 100000).alias("family_id")
    )
    return dedup.bcubed_eval(assign, truth)


_SQL_DEDUP_BCUBED = f"""
WITH asg AS (
  SELECT doc_id, cluster_id FROM ({_SQL_DEDUP_CLUSTERS})
),
tr AS (
  SELECT doc_id, doc_id % 100000 AS family_id
  FROM ({_NEARDUP_SQL})
),
cf AS (
  SELECT a.cluster_id AS c, t.family_id AS f, count(*)::bigint AS n_cf
  FROM asg a JOIN tr t ON a.doc_id = t.doc_id
  GROUP BY 1, 2
),
nc AS (SELECT c, sum(n_cf)::bigint AS n_c FROM cf GROUP BY c),
nf AS (SELECT f, sum(n_cf)::bigint AS n_f FROM cf GROUP BY f),
terms AS (
  SELECT cf.n_cf,
    round((cf.n_cf * cf.n_cf)::double / nc.n_c::double, 12)
      ::decimal(28,12) AS pt,
    round((cf.n_cf * cf.n_cf)::double / nf.n_f::double, 12)
      ::decimal(28,12) AS rt
  FROM cf JOIN nc ON cf.c = nc.c JOIN nf ON cf.f = nf.f
),
agg AS (
  SELECT sum(n_cf)::bigint AS n_docs, sum(pt) AS sp, sum(rt) AS sr
  FROM terms
)
SELECT n_docs,
  floor(sp::double / n_docs::double * 1000000)::bigint AS precision_micro,
  floor(sr::double / n_docs::double * 1000000)::bigint AS recall_micro,
  floor(2.0::double * (sp::double / n_docs::double)
        * (sr::double / n_docs::double)
        / (sp::double / n_docs::double + sr::double / n_docs::double)
        * 1000000)::bigint AS f1_micro
FROM agg
"""


def q_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-aware loss weights (dedup.soft_dedup_weights) over a
    corpus with planted group sizes 2 and 3: every text appears twice
    (the +100000 mirror) and every third also a +200000 time, so
    weight_micro lands on 500000/333333 exactly."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    tripled = d.unionByName(
        d.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    ).unionByName(
        d.where(F.col("doc_id") % 3 == 0).select(
            (F.col("doc_id") + 200000).alias("doc_id"), "text"
        )
    )
    return dedup.soft_dedup_weights(tripled)


_SQL_SOFT_DEDUP_WEIGHTS = """
WITH u AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 100000, text FROM documents
  UNION ALL SELECT doc_id + 200000, text FROM documents WHERE doc_id % 3 = 0
),
sz AS (
  SELECT sha256(text) AS content_hash, count(*)::bigint AS n_copies
  FROM u GROUP BY 1
)
SELECT u.doc_id::bigint AS doc_id, sz.n_copies,
  (1000000 // sz.n_copies)::bigint AS weight_micro
FROM u JOIN sz ON sha256(u.text) = sz.content_hash
"""


def q_dedup_ari(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjusted Rand Index (dedup.ari_eval) of the end-to-end
    dedup_clusters output against the planted families — the
    chance-corrected companion to dedup_bcubed off the same contingency
    table; pair sums are exact bigints, only the final ratio divides as
    a pinned double."""
    assign = dedup.dedup_clusters(_neardup_docs(spark, sf_dir)).select(
        "doc_id", "cluster_id"
    )
    truth = _neardup_docs(spark, sf_dir).select(
        "doc_id", (F.col("doc_id") % 100000).alias("family_id")
    )
    return dedup.ari_eval(assign, truth)


_SQL_DEDUP_ARI = f"""
WITH asg AS (
  SELECT doc_id, cluster_id FROM ({_SQL_DEDUP_CLUSTERS})
),
tr AS (
  SELECT doc_id, doc_id % 100000 AS family_id
  FROM ({_NEARDUP_SQL})
),
cf AS (
  SELECT a.cluster_id AS c, t.family_id AS f, count(*)::bigint AS n_cf
  FROM asg a JOIN tr t ON a.doc_id = t.doc_id
  GROUP BY 1, 2
),
base AS (
  SELECT sum(n_cf)::bigint AS n_docs,
    sum(n_cf * (n_cf - 1) // 2)::bigint AS s_joint
  FROM cf
),
sc AS (
  SELECT sum(n_c * (n_c - 1) // 2)::bigint AS s_cluster
  FROM (SELECT sum(n_cf)::bigint AS n_c FROM cf GROUP BY c)
),
sf AS (
  SELECT sum(n_f * (n_f - 1) // 2)::bigint AS s_family
  FROM (SELECT sum(n_cf)::bigint AS n_f FROM cf GROUP BY f)
)
SELECT n_docs, s_joint, s_cluster, s_family,
  floor(
    (s_joint::double
       - s_cluster::double * s_family::double
         / (n_docs * (n_docs - 1) // 2)::double)
    / ((s_cluster::double + s_family::double) / 2.0::double
       - s_cluster::double * s_family::double
         / (n_docs * (n_docs - 1) // 2)::double)
    * 1000000)::bigint AS ari_micro
FROM base, sc, sf
"""


def q_stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream attribution join (streaming.stream_stream_
    attribution): purchases attributed to same-user views within 30
    minutes, drained availableNow; oracle = the batch time-range join."""
    from ..streaming.pipeline import (
        run_stream_to_table,
        stream_stream_attribution,
    )

    name = "stream_attr_result"
    sdf = stream_stream_attribution(spark, f"{sf_dir}/events.parquet")
    run_stream_to_table(spark, sdf, name, output_mode="append")
    return spark.table(name)


_SQL_STREAM_ATTRIBUTION = """
SELECT i.user_id::bigint AS user_id, i.event_id::bigint AS imp_id,
  c.event_id::bigint AS conv_id,
  (epoch_us(c.ts) // 1000000 - epoch_us(i.ts) // 1000000)::bigint
    AS lag_sec
FROM events i JOIN events c
  ON i.user_id = c.user_id
  AND i.event_type = 'view' AND c.event_type = 'purchase'
  AND c.ts > i.ts AND c.ts <= i.ts + INTERVAL 30 MINUTE
"""


# ---------------------------------------------------------------------------
# minhash_merge
# ---------------------------------------------------------------------------


def q_minhash_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental sketch maintenance (dedup.merge_minhash_states): state
    = docs with doc_id%3 != 0, batch = the rest; the merged per-source
    MinHash signatures must equal the full-corpus signatures — exactly
    what the oracle states, so parity PROVES min-merge is exact."""
    from ..operators.dedup import grouped_minhash_state, merge_minhash_states

    d = _docs(spark, sf_dir)
    state = grouped_minhash_state(d.where(F.col("doc_id") % 3 != 0))
    batch = grouped_minhash_state(d.where(F.col("doc_id") % 3 == 0))
    return merge_minhash_states(state, batch)


def _sql_minhash_merge(num_hashes: int = 8) -> str:
    p = dedup.MINHASH_P
    mins = ",\n  ".join(
        f"min(({a}::bigint * h + {b}::bigint) % {p}::bigint)::bigint AS mh_{i}"
        for i, (a, b) in enumerate(dedup.MINHASH_COEFFS[:num_hashes])
    )
    return f"""
SELECT source, count(*)::bigint AS n_rows,
  {mins}
FROM (
  SELECT source, ('0x' || substr(md5(text), 1, 7))::bigint AS h
  FROM documents
)
GROUP BY source
"""


# ---------------------------------------------------------------------------
# stream_minhash
# ---------------------------------------------------------------------------


def q_stream_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sketch maintenance (streaming.stream_minhash_state):
    per-source MinHash signatures as a streaming min/count aggregate,
    drained availableNow in complete mode; oracle = the batch grouped
    sketch (min is batching-independent, so equality is exact)."""
    from ..streaming.pipeline import run_stream_to_table, stream_minhash_state

    name = "stream_minhash_result"
    sdf = stream_minhash_state(spark, f"{sf_dir}/documents.parquet")
    run_stream_to_table(spark, sdf, name, output_mode="complete")
    return spark.table(name)


_sql_stream_minhash = _sql_minhash_merge


# ---------------------------------------------------------------------------
# dedup_purity (round-4 session-15)
# ---------------------------------------------------------------------------


def q_dedup_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purity / inverse-purity / harmonic F (dedup.purity_eval) of the
    end-to-end dedup_clusters output against the planted families —
    the fully-RATIONAL cluster-quality gauge (no logs, no libm risk),
    bounding quality from the merge side and the split side."""
    assign = dedup.dedup_clusters(_neardup_docs(spark, sf_dir)).select(
        "doc_id", "cluster_id"
    )
    truth = _neardup_docs(spark, sf_dir).select(
        "doc_id", (F.col("doc_id") % 100000).alias("family_id")
    )
    return dedup.purity_eval(assign, truth)


_SQL_DEDUP_PURITY = f"""
WITH asg AS (
  SELECT doc_id, cluster_id FROM ({_SQL_DEDUP_CLUSTERS})
),
tr AS (
  SELECT doc_id, doc_id % 100000 AS family_id
  FROM ({_NEARDUP_SQL})
),
cf AS (
  SELECT a.cluster_id AS c, t.family_id AS f, count(*)::bigint AS n_cf
  FROM asg a JOIN tr t ON a.doc_id = t.doc_id
  GROUP BY 1, 2
),
nn AS (SELECT sum(n_cf)::bigint AS n_docs FROM cf),
sp AS (
  SELECT sum(m)::bigint AS s_purity
  FROM (SELECT max(n_cf) AS m FROM cf GROUP BY c)
),
si AS (
  SELECT sum(m)::bigint AS s_inverse
  FROM (SELECT max(n_cf) AS m FROM cf GROUP BY f)
)
SELECT n_docs, s_purity, s_inverse,
  floor(s_purity::double / n_docs::double * 1000000)::bigint
    AS purity_micro,
  floor(s_inverse::double / n_docs::double * 1000000)::bigint
    AS inverse_micro,
  floor((2.0 * s_purity::double * s_inverse::double)
        / (n_docs::double * (s_purity::double + s_inverse::double))
        * 1000000)::bigint AS f_micro
FROM nn, sp, si
"""


# ---------------------------------------------------------------------------
# theil_index (round-4 session-15)
# ---------------------------------------------------------------------------


def q_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality of documents across sources
    (relational.theil_index) — host_gini's decomposable companion; all
    ln() terms on the bounded distinct-count distribution table."""
    from ..operators.relational import theil_index

    return theil_index(_docs(spark, sf_dir), "source")


_SQL_THEIL_INDEX = """
WITH c AS (
  SELECT source, count(*)::bigint AS x FROM documents GROUP BY source
),
d AS (SELECT x, count(*)::bigint AS m FROM c GROUP BY x),
t AS (SELECT sum(m)::bigint AS h, sum(m * x)::bigint AS tt FROM d),
s AS (
  SELECT max(h) AS h, max(tt) AS tt,
    sum((m * x)::decimal(18,0)
        * round(ln(x::double * h::double / tt::double), 6)::decimal(18,6))
      AS s
  FROM d, t
)
SELECT h::bigint AS n_groups, tt::bigint AS n_docs,
  floor(s::double / tt::double * 1000000)::bigint AS theil_micro
FROM s
"""


# ---------------------------------------------------------------------------
# pair_threshold_curve (round-4 session-15)
# ---------------------------------------------------------------------------


def q_pair_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard-threshold sweep over ONE LSH-candidate + exact-verify
    pass (dedup.pair_threshold_curve) — pair counts at 0.5..0.9, the
    curve read before picking the dedup cutoff."""
    return dedup.pair_threshold_curve(_neardup_docs(spark, sf_dir))


_SQL_PAIR_THRESHOLD_CURVE = (
    _sql_minhash_bands(_NEARDUP_SQL)
    + f""",
cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM bands l JOIN bands r
    ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
),
shd AS (
  SELECT doc_id, {_SHINGLES_SQL} AS sh
  FROM (SELECT doc_id, {_TOKS} AS toks FROM src) tt
),
jm AS (
  SELECT round(round(len(list_intersect(a.sh, b.sh))
        / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))::double,
        6) * 1000000)::bigint AS jm
  FROM cand JOIN shd a ON a.doc_id = id_a JOIN shd b ON b.doc_id = id_b
),
lv AS (
  SELECT unnest([500000, 600000, 700000, 800000, 900000])
    AS threshold_micro
)
SELECT threshold_micro::bigint AS threshold_micro,
  (SELECT coalesce(sum(CASE WHEN jm >= threshold_micro THEN 1 ELSE 0 END),
          0) FROM jm)::bigint AS n_pairs
FROM lv ORDER BY threshold_micro
"""
)


# ---------------------------------------------------------------------------
# prefix_filter_pairs (round-4 session-15)
# ---------------------------------------------------------------------------


def q_prefix_filter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact prefix-filtered set-similarity join
    (dedup.prefix_filter_pairs, AllPairs/PPJoin family) at Jaccard
    >= 1/2 — the oracle is the EXACT all-pairs join, so any missing
    candidate is a hard failure, not a recall statistic."""
    return dedup.prefix_filter_pairs(_neardup_docs(spark, sf_dir))


_SQL_PREFIX_FILTER_PAIRS = f"""
WITH src AS ({_NEARDUP_SQL}),
t AS (SELECT doc_id, {_TOKS} AS toks FROM src),
e AS (
  SELECT doc_id, unnest(list_distinct({_SHINGLES_SQL})) AS s FROM t
),
sizes AS (SELECT doc_id, count(*) AS n FROM e GROUP BY doc_id),
common AS (
  SELECT l.doc_id AS id_a, r.doc_id AS id_b, count(*) AS common
  FROM e l JOIN e r ON l.s = r.s AND l.doc_id < r.doc_id
  GROUP BY l.doc_id, r.doc_id
)
SELECT id_a, id_b,
  round(common / (sa.n + sb.n - common)::double, 6) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE round(common / (sa.n + sb.n - common)::double, 6) >= 0.5::double
ORDER BY id_a, id_b
"""


# ---------------------------------------------------------------------------
# dedup_key_agreement (round-4 session-15)
# ---------------------------------------------------------------------------


def q_dedup_key_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rand-index agreement matrix (dedup.partition_agreement) between
    three dedup key functions — exact content hash, 16-bit SimHash
    bucket, and a (source, length-band) blocking key — the audit run
    before swapping keys in the dedup stage."""
    d = _docs(spark, sf_dir)
    sim = dedup.simhash(d.select("doc_id", "text")).select(
        "doc_id", F.expr("simhash div 256").alias("k_sim")
    )
    keyed = d.join(sim.hint("shuffle_hash"), "doc_id").select(
        F.md5("text").alias("k_exact"),
        "k_sim",
        F.concat(
            F.col("source"),
            F.lit("|"),
            F.expr("n_chars div 100").cast("string"),
        ).alias("k_block"),
    )
    return dedup.partition_agreement(keyed, ["k_exact", "k_block", "k_sim"])


def _sql_dedup_key_agreement() -> str:
    head = (
        _sql_simhash("SELECT doc_id, text FROM documents")
        + """,
keys AS (
  SELECT d.doc_id, md5(d.text) AS k_exact, s.simhash // 256 AS k_sim,
    d.source || '|' || (d.n_chars // 100)::varchar AS k_block
  FROM documents d JOIN s ON d.doc_id = s.doc_id
)"""
    )
    parts = []
    for ka, kb in (
        ("k_exact", "k_block"),
        ("k_exact", "k_sim"),
        ("k_block", "k_sim"),
    ):
        parts.append(f"""
SELECT '{ka}' AS key_a, '{kb}' AS key_b, n_docs,
  floor((t - s_a - s_b + 2.0::double * joint) / t * 1000000)::bigint
    AS rand_micro
FROM (
  SELECT
    (SELECT sum(n)::bigint FROM c_{ka}_{kb}) AS n_docs,
    (SELECT sum((n * (n - 1) // 2)::hugeint)::double FROM c_{ka}_{kb})
      AS joint,
    (SELECT sum((sn * (sn - 1) // 2)::hugeint)::double
     FROM (SELECT sum(n) AS sn FROM c_{ka}_{kb} GROUP BY ka)) AS s_a,
    (SELECT sum((sn * (sn - 1) // 2)::hugeint)::double
     FROM (SELECT sum(n) AS sn FROM c_{ka}_{kb} GROUP BY kb)) AS s_b,
    (SELECT (sum(n) * (sum(n) - 1) // 2)::double FROM c_{ka}_{kb}) AS t
)""")
        head += f""",
c_{ka}_{kb} AS (
  SELECT {ka} AS ka, {kb} AS kb, count(*)::bigint AS n
  FROM keys GROUP BY 1, 2
)"""
    return (
        head
        + "\n"
        + "\nUNION ALL".join(parts)
        + "\nORDER BY key_a, key_b\n"
    )


# ---------------------------------------------------------------------------
# source_similarity
# ---------------------------------------------------------------------------


def q_source_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source Jaccard over 3-gram shingle sets
    (dedup.source_similarity): bounded group lists pair in-row; the
    oracle states the naive shingle self-join."""
    return dedup.source_similarity(_docs(spark, sf_dir))


_SQL_SOURCE_SIMILARITY = f"""
WITH t AS (
  SELECT source, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
  FROM documents
),
sh0 AS (SELECT source, unnest({_SHINGLES_SQL}) AS s FROM t),
sh AS (SELECT DISTINCT source, s FROM sh0),
sz AS (SELECT source, count(*) AS n FROM sh GROUP BY source),
i AS (
  SELECT a.source AS source_a, b.source AS source_b,
    count(*)::bigint AS inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
  GROUP BY 1, 2
)
SELECT source_a, source_b, inter,
  floor(inter * 1000000 / (za.n + zb.n - inter))::bigint AS jaccard_ppm
FROM i
JOIN sz za ON za.source = i.source_a
JOIN sz zb ON zb.source = i.source_b
"""
