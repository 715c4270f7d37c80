"""Registry segment: TPC-H shapes, HTML extraction, packing, media decode."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup, multimodal, relational, textops

from ..scale.salt import ensure_parallelism as _spread
from .common import (
    _TOKS,
    _docs,
    _neardup_docs,
    _tbl,
)
from .dedup_olap import (
    _SQL_DEDUP_CLUSTERS,
)

def q_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (relational.regional_revenue): the full snowflake —
    reads region and supplier, the last two untouched driver tables."""
    return relational.regional_revenue(
        _tbl(spark, sf_dir, "region"),
        _tbl(spark, sf_dir, "nation"),
        _tbl(spark, sf_dir, "customer"),
        _tbl(spark, sf_dir, "orders"),
        _tbl(spark, sf_dir, "supplier"),
    )


_SQL_REGIONAL_REVENUE = """
WITH dim AS (
  SELECT n_nationkey, r_name FROM nation JOIN region ON n_regionkey = r_regionkey
),
rev AS (
  SELECT r_name, sum(o_totalprice::decimal(18,2))::double AS revenue,
    count(*)::bigint AS n_orders
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN dim ON c_nationkey = n_nationkey
  GROUP BY 1
),
supp AS (
  SELECT r_name, count(*)::bigint AS n_suppliers
  FROM supplier JOIN dim ON s_nationkey = n_nationkey GROUP BY 1
)
SELECT rev.r_name, rev.revenue, rev.n_orders,
  coalesce(supp.n_suppliers, 0)::bigint AS n_suppliers
FROM rev LEFT JOIN supp USING (r_name)
"""


def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (relational.top_supplier_revenue): argmax WITH ties
    by exact decimal equality."""
    return relational.top_supplier_revenue(_tbl(spark, sf_dir, "lineitem"))


_SQL_TOP_SUPPLIER = """
WITH ps AS (
  SELECT l_suppkey,
    sum((l_extendedprice::decimal(18,2)
         * (1::decimal(18,2) - l_discount::decimal(18,2)))::decimal(18,4))
      AS r
  FROM lineitem GROUP BY 1
)
SELECT l_suppkey, r::double AS revenue
FROM ps WHERE r = (SELECT max(r) FROM ps)
"""


def q_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (relational.customer_order_distribution)."""
    return relational.customer_order_distribution(
        _tbl(spark, sf_dir, "customer"), _tbl(spark, sf_dir, "orders")
    )


_SQL_ORDER_DISTRIBUTION = """
WITH pc AS (
  SELECT c_custkey, count(o_custkey) AS n_orders
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY 1
)
SELECT n_orders::bigint AS n_orders, count(*)::bigint AS n_customers
FROM pc GROUP BY 1
"""


def q_brand_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (relational.brand_supplier_counts)."""
    return relational.brand_supplier_counts(
        _tbl(spark, sf_dir, "part"), _tbl(spark, sf_dir, "lineitem")
    )


_SQL_BRAND_SUPPLIERS = """
SELECT p_brand, count(DISTINCT l_suppkey)::bigint AS n_suppliers,
  count(*)::bigint AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY 1
"""


def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (relational.small_quantity_revenue): all-decimal
    threshold, no float boundary."""
    return relational.small_quantity_revenue(_tbl(spark, sf_dir, "lineitem"))


_SQL_SMALL_QTY_REVENUE = """
WITH stats AS (
  SELECT l_partkey, sum(l_quantity::decimal(18,2)) AS sum_qty,
    count(*) AS cnt
  FROM lineitem GROUP BY 1
),
below AS (
  SELECT l.l_extendedprice
  FROM lineitem l JOIN stats s USING (l_partkey)
  WHERE l.l_quantity::decimal(18,2) * 5 * s.cnt < s.sum_qty
)
SELECT (sum(l_extendedprice::decimal(18,2))::double / 7.0) AS avg_yearly,
  count(*)::bigint AS n_lines
FROM below
"""


def q_late_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (relational.late_shipment_priority_counts):
    EXISTS -> LEFT SEMI rewrite."""
    return relational.late_shipment_priority_counts(
        _tbl(spark, sf_dir, "orders"), _tbl(spark, sf_dir, "lineitem")
    )


_SQL_LATE_PRIORITY = """
SELECT o_orderpriority, count(*)::bigint AS n_orders
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey
    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
)
GROUP BY 1
"""


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (relational.shipping_priority)."""
    return relational.shipping_priority(
        _tbl(spark, sf_dir, "customer"),
        _tbl(spark, sf_dir, "orders"),
        _tbl(spark, sf_dir, "lineitem"),
    )


_SQL_SHIPPING_PRIORITY = """
SELECT o_orderkey, o_orderdate, o_orderpriority,
  sum((l_extendedprice::decimal(18,2)
       * (1::decimal(18,2) - l_discount::decimal(18,2)))::decimal(18,4)
  )::double AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > TIMESTAMP '1998-01-01'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, o_orderkey LIMIT 10
"""


def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (relational.large_volume_customers)."""
    return relational.large_volume_customers(
        _tbl(spark, sf_dir, "customer"),
        _tbl(spark, sf_dir, "orders"),
        _tbl(spark, sf_dir, "lineitem"),
    )


_SQL_LARGE_ORDERS = """
WITH big AS (
  SELECT l_orderkey, sum(l_quantity::decimal(18,2)) AS total_qty
  FROM lineitem GROUP BY 1
  HAVING sum(l_quantity::decimal(18,2)) > 250
)
SELECT c_name, c_custkey, o_orderkey, o_totalprice,
  total_qty::double AS total_qty
FROM big JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
"""


def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (relational.funnel_counts): signup -> view ->
    purchase, each step strictly after the previous step's first
    qualifying event."""
    return relational.funnel_counts(
        _tbl(spark, sf_dir, "events"), ["signup", "view", "purchase"]
    )


_SQL_EVENT_FUNNEL = """
WITH e AS (
  SELECT user_id AS u, event_type AS t, ts
  FROM events WHERE event_type IN ('signup', 'view', 'purchase')
),
r0 AS (SELECT u, min(ts) AS t0 FROM e WHERE t = 'signup' GROUP BY u),
r1 AS (
  SELECT e.u, min(e.ts) AS t1 FROM e JOIN r0 ON e.u = r0.u
  WHERE e.t = 'view' AND e.ts > r0.t0 GROUP BY e.u
),
r2 AS (
  SELECT e.u, min(e.ts) AS t2 FROM e JOIN r1 ON e.u = r1.u
  WHERE e.t = 'purchase' AND e.ts > r1.t1 GROUP BY e.u
)
SELECT 0 AS step_idx, 'signup' AS step,
  (SELECT count(*) FROM r0)::bigint AS n_users
UNION ALL SELECT 1, 'view', (SELECT count(*) FROM r1)::bigint
UNION ALL SELECT 2, 'purchase', (SELECT count(*) FROM r2)::bigint
"""


def q_link_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """<link rel> discovery (urls.link_relations): every doc declares a
    canonical; every (doc_id div 20) % 2 == 0 doc paginates (next), every
    3rd declares an RSS alternate; a relless <link> must drop."""
    from ..operators import urls as urlops

    d = _docs(spark, sf_dir)
    nxt = F.when(
        F.expr("(doc_id div 20) % 2") == 0,
        F.concat(
            F.lit('<link rel="NEXT" href="/p/'),
            (F.col("doc_id") + 1).cast("string"),
            F.lit('">'),
        ),
    ).otherwise(F.lit(""))
    rss = F.when(
        F.col("doc_id") % 3 == 0,
        F.lit('<link rel="alternate" type="application/rss+xml" href="/feed.xml">'),
    ).otherwise(F.lit(""))
    html = F.encode(
        F.concat(
            F.lit('<html><head><link rel="canonical" href="https://c.org/'),
            F.col("doc_id").cast("string"),
            F.lit('">'),
            nxt,
            rss,
            F.lit('<link charset="x"></head><body>ok</body></html>'),
        ),
        "UTF-8",
    )
    pages = d.select(
        F.concat(F.lit("https://l.example.org/"), F.col("doc_id").cast("string"))
        .alias("url"),
        html.alias("html"),
    )
    return urlops.link_relations(pages)


_SQL_LINK_RELATIONS = """
WITH d AS (
  SELECT doc_id, 'https://l.example.org/' || doc_id AS url,
    (doc_id // 20) % 2 = 0 AS hasnext, doc_id % 3 = 0 AS hasrss
  FROM documents
)
SELECT url, 0::bigint AS pos, 'canonical' AS rel,
  'https://c.org/' || doc_id AS href FROM d
UNION ALL
SELECT url, 1::bigint, 'next', '/p/' || (doc_id + 1) FROM d WHERE hasnext
UNION ALL
SELECT url, (CASE WHEN hasnext THEN 2 ELSE 1 END)::bigint, 'alternate',
  '/feed.xml' FROM d WHERE hasrss
"""


def q_meta_robots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """meta-robots compliance (urls.meta_robots): noindex for every 4th
    row-counter doc, 'none' (both) for every 9th doc, plus a decoy
    'nonoindexing' token that must NOT match."""
    from ..operators import urls as urlops

    d = _docs(spark, sf_dir)
    content = (
        F.when(F.col("doc_id") % 9 == 0, F.lit("none"))
        .when(F.expr("(doc_id div 20) % 4") == 0, F.lit("noindex, follow"))
        .otherwise(F.lit("nonoindexing,index"))
    )
    html = F.encode(
        F.concat(
            F.lit('<html><head><meta name="robots" content="'),
            content,
            F.lit('"></head><body>x</body></html>'),
        ),
        "UTF-8",
    )
    pages = d.select(
        F.concat(F.lit("https://m.example.org/"), F.col("doc_id").cast("string"))
        .alias("url"),
        html.alias("html"),
    )
    return urlops.meta_robots(pages)


_SQL_META_ROBOTS = """
SELECT 'https://m.example.org/' || doc_id AS url,
  (doc_id % 9 = 0 OR (doc_id % 9 != 0 AND (doc_id // 20) % 4 = 0))::int
    AS noindex,
  (doc_id % 9 = 0)::int AS nofollow
FROM documents
"""


def q_html_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML table extraction (urls.extract_html_tables): a header+data
    table on every page, a second single-row table on every 7th doc;
    uppercase TD and inner markup pinned."""
    from ..operators import urls as urlops

    d = _docs(spark, sf_dir)
    t2 = F.when(
        F.col("doc_id") % 7 == 0,
        F.lit("<table><tr><TD>x  1</TD><td><i>y</i></td></tr></table>"),
    ).otherwise(F.lit(""))
    html = F.encode(
        F.concat(
            F.lit("<html><body><table class=\"t\">"),
            F.lit("<tr><th>Name</th><th>Lang</th></tr>"),
            F.lit("<tr><td>doc "),
            F.col("doc_id").cast("string"),
            F.lit("</td><td>"),
            F.col("lang"),
            F.lit("</td></tr></table>"),
            t2,
            F.lit("</body></html>"),
        ),
        "UTF-8",
    )
    pages = d.select(
        F.concat(F.lit("https://t.example.org/"), F.col("doc_id").cast("string"))
        .alias("url"),
        html.alias("html"),
    )
    return urlops.extract_html_tables(pages)


_SQL_HTML_TABLES = """
WITH d AS (
  SELECT doc_id, lang, 'https://t.example.org/' || doc_id AS url,
    doc_id % 7 = 0 AS has2
  FROM documents
)
SELECT url, 0::bigint AS table_idx, 0::bigint AS row_idx, 1 AS is_header,
  2::bigint AS n_cells, 'Name|Lang' AS cells FROM d
UNION ALL
SELECT url, 0::bigint, 1::bigint, 0, 2::bigint, 'doc ' || doc_id || '|' || lang
FROM d
UNION ALL
SELECT url, 1::bigint, 0::bigint, 0, 2::bigint, 'x 1|y' FROM d WHERE has2
"""


def q_extract_headings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heading outline (urls.extract_headings) over heading-decorated
    pages: uppercase tags, inner markup and doubled whitespace all pinned."""
    from ..operators import urls as urlops

    d = _docs(spark, sf_dir)
    h2 = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(
            F.lit('<h2 class="x">Section  '), F.col("lang"), F.lit("</h2><p>tail</p>")
        ),
    ).otherwise(F.lit(""))
    h3 = F.when(
        F.col("doc_id") % 5 == 0, F.lit("<H3><b>Sub</b> part</H3>")
    ).otherwise(F.lit(""))
    html = F.encode(
        F.concat(
            F.lit("<html><body><h1>Doc "),
            F.col("doc_id").cast("string"),
            F.lit("</h1><p>"),
            F.substring("text", 1, 40),
            F.lit("</p>"),
            h2,
            h3,
            F.lit("</body></html>"),
        ),
        "UTF-8",
    )
    pages = d.select(
        F.concat(F.lit("https://h.example.org/"), F.col("doc_id").cast("string"))
        .alias("url"),
        html.alias("html"),
    )
    return urlops.extract_headings(pages)


_SQL_EXTRACT_HEADINGS = """
WITH d AS (
  SELECT doc_id, lang,
    'https://h.example.org/' || doc_id AS url,
    doc_id % 3 = 0 AS has2, doc_id % 5 = 0 AS has3
  FROM documents
)
SELECT url, 0::bigint AS pos, 1 AS level, 'Doc ' || doc_id AS heading FROM d
UNION ALL
SELECT url, 1::bigint, 2, 'Section ' || lang FROM d WHERE has2
UNION ALL
SELECT url, (CASE WHEN has2 THEN 2 ELSE 1 END)::bigint, 3, 'Sub part'
FROM d WHERE has3
"""


def q_url_depths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host path-depth histogram (urls.url_depth_stats) over urls with
    (doc_id div 20)%4-graded nesting (varies within each host)."""
    from ..operators import urls as urlops

    d = _docs(spark, sf_dir)
    # doc_id % 4 is CONSTANT per source (round-robin ids, 20 % 4 == 0);
    # the row counter doc_id // 20 varies within every host
    seg = F.expr("repeat('/sec', cast((doc_id div 20) % 4 as int))")
    urls_df = d.select(
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit(".example.org"),
            seg,
            F.lit("/p"),
            F.col("doc_id").cast("string"),
        ).alias("url")
    )
    return urlops.url_depth_stats(urls_df)


_SQL_URL_DEPTHS = """
WITH u AS (
  SELECT source || '.example.org' AS host,
    ((doc_id // 20) % 4 + 1)::bigint AS depth
  FROM documents
)
SELECT host, depth, count(*)::bigint AS n_pages
FROM u GROUP BY 1, 2
"""


def q_cluster_reps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware representative election (dedup.cluster_reps_by_score):
    same near-dup clusters as dedup_clusters, but the keep-decision goes to
    the LONGEST member (ties -> larger id) instead of the min id — the
    perturbed +100000 copies are longer, so they win their clusters."""
    d = _neardup_docs(spark, sf_dir)
    clusters = dedup.dedup_clusters(d).select("doc_id", "cluster_id")
    scores = d.select(
        "doc_id", F.length("text").cast("long").alias("score")
    )
    return dedup.cluster_reps_by_score(clusters, scores)


# same CC walk as _SQL_DEDUP_CLUSTERS, then best-by-(score, id) election
_SQL_CLUSTER_REPS = _SQL_DEDUP_CLUSTERS.replace(
    """SELECT doc_id, cluster_id,
  count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
  (doc_id = cluster_id)::int AS is_representative
FROM cc""",
    """, sc AS (SELECT doc_id, length(text)::bigint AS score FROM src),
j AS (SELECT cc.doc_id, cc.cluster_id, sc.score FROM cc JOIN sc USING (doc_id)),
best AS (
  SELECT cluster_id, max(struct_pack(s := score, i := doc_id)) AS b
  FROM j GROUP BY 1
)
SELECT j.doc_id, j.cluster_id, j.score,
  (j.doc_id = (best.b).i)::int AS is_representative
FROM j JOIN best USING (cluster_id)""",
)


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate line removal (textops.line_dedup): lines
    repeating across > max_df distinct documents are dropped, text reassembled."""
    return textops.line_dedup(_docs(spark, sf_dir))


_SQL_LINE_DEDUP = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
c AS (
  SELECT doc_id,
    CASE WHEN len(toks) > 0 THEN
      list_transform(generate_series(0, ((len(toks) + 9) // 10) - 1),
        i -> array_to_string(toks[i*10+1 : i*10+10], ' '))
    ELSE []::varchar[] END AS lines
  FROM t
),
b AS (SELECT doc_id, lines, len(lines) AS n_lines FROM c),
l AS (
  SELECT doc_id, unnest(lines) AS line, unnest(range(len(lines))) AS pos
  FROM b
),
dfreq AS (SELECT md5(line) AS h, count(DISTINCT doc_id) AS line_df
          FROM l GROUP BY 1),
kept AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(line, ' ' ORDER BY pos) AS kept_text
  FROM l JOIN dfreq ON md5(l.line) = dfreq.h
  WHERE line_df <= 5
  GROUP BY doc_id
)
SELECT b.doc_id, b.n_lines::bigint AS n_lines,
       coalesce(k.n_kept, 0)::bigint AS n_kept, k.kept_text
FROM b LEFT JOIN kept k USING (doc_id)
"""


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingest exact dedup (dedup.incremental_dedup): an arriving
    batch (tail of the corpus + exact copies of the head) is admitted only
    where its content hash is new; intra-batch dups collapse first."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    corpus = d.where(F.col("doc_id") < 400)
    arriving = d.where(F.col("doc_id") >= 400).unionByName(
        d.where(F.col("doc_id") < 50).withColumn(
            "doc_id", F.col("doc_id") + 200000
        )
    )
    return dedup.incremental_dedup(corpus, arriving)


_SQL_INCREMENTAL_DEDUP = """
WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id < 400),
arriving AS (
  SELECT doc_id, text FROM documents WHERE doc_id >= 400
  UNION ALL
  SELECT doc_id + 200000, text FROM documents WHERE doc_id < 50
),
arr AS (SELECT doc_id, sha256(text) AS content_hash FROM arriving),
reps AS (SELECT min(doc_id) AS doc_id, content_hash FROM arr
         GROUP BY content_hash),
seen AS (SELECT DISTINCT sha256(text) AS content_hash FROM corpus)
SELECT doc_id, content_hash FROM reps r
WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.content_hash = r.content_hash)
"""


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window token chunking (textops.chunk_documents): 50-token
    windows advancing by 40 — shuffle-free posexplode fan-out."""
    return textops.chunk_documents(_docs(spark, sf_dir))


_SQL_CHUNK_DOCUMENTS = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
c AS (
  SELECT doc_id,
    CASE WHEN len(toks) > 0 THEN
      list_transform(
        generate_series(0, ((greatest(len(toks) - 50, 0) + 39) // 40)::int),
        i -> toks[i*40+1 : i*40+50])
    ELSE []::varchar[][] END AS chunks
  FROM t
),
l AS (
  SELECT doc_id, unnest(range(len(chunks))) AS chunk_id, unnest(chunks) AS c
  FROM c
)
SELECT doc_id, chunk_id::bigint AS chunk_id, len(c)::bigint AS n_tokens,
       array_to_string(c, ' ') AS chunk_text
FROM l
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-split sequence packing metadata (textops.pack_sequences):
    global token offsets in doc_id order via bucketed two-phase cumsum; the
    oracle states the plain single-window formulation."""
    return textops.pack_sequences(_docs(spark, sf_dir))


_SQL_PACK_SEQUENCES = f"""
WITH t AS (SELECT doc_id, len({_TOKS}) AS n_tokens FROM documents),
nz AS (SELECT doc_id, n_tokens FROM t WHERE n_tokens > 0),
s AS (
  SELECT doc_id, n_tokens::bigint AS n_tokens,
    coalesce(sum(n_tokens) OVER (ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::bigint
      AS start_offset
  FROM nz
)
SELECT doc_id, n_tokens, start_offset,
  (start_offset // 64)::bigint AS first_seq,
  ((start_offset + n_tokens - 1) // 64)::bigint AS last_seq
FROM s
"""


def q_pack_sequence_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized packed sequences (textops.packed_sequence_rows): the
    loader-ready seq_id -> text rows cut from the concatenated token stream."""
    return textops.packed_sequence_rows(_docs(spark, sf_dir))


_SQL_PACK_SEQUENCE_ROWS = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
nz AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
s AS (
  SELECT doc_id,
    coalesce(sum(n) OVER (ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::bigint
      AS start_offset
  FROM nz
),
tok AS (
  SELECT doc_id, unnest(toks) AS tok, unnest(range(len(toks))) AS pos
  FROM nz
),
j AS (
  SELECT s.start_offset + tok.pos AS gidx, tok.tok
  FROM tok JOIN s USING (doc_id)
)
SELECT (gidx // 64)::bigint AS seq_id, count(*) AS n_tokens,
       string_agg(tok, ' ' ORDER BY gidx) AS seq_text
FROM j GROUP BY 1
"""


def q_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG decode roundtrip: synthesize a gradient grayscale PNG per
    document (pure-stdlib encoder), decode it with the pure-stdlib decoder
    (multimodal.image_decode), and emit recovered dims + pixel sum. The
    oracle computes the same quantities from the synthesis closed form —
    so the decoder must actually recover the encoded pixels to pass."""
    import pandas as _pd

    from ..codecs import encode_png

    def _synth(batches):
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                w = int(doc_id) % 16 + 1
                h = int(doc_id) % 8 + 1
                px = bytes(
                    (int(doc_id) + x + y) % 256 for y in range(h) for x in range(w)
                )
                payloads.append(encode_png(w, h, px, color_type=0))
            yield _pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StructField,
        StructType,
    )

    pages = _spread(_docs(spark, sf_dir).select("doc_id"))
    payloads = pages.mapInPandas(
        _synth,
        StructType(
            [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
        ),
    )
    return multimodal.image_decode(payloads)


_SQL_IMAGE_DECODE = """
SELECT doc_id,
  (doc_id % 16 + 1)::int AS width,
  (doc_id % 8 + 1)::int AS height,
  'L' AS mode,
  list_sum(flatten(list_transform(range((doc_id % 8 + 1)::int), y ->
    list_transform(range((doc_id % 16 + 1)::int), x ->
      (doc_id + x + y) % 256))))::bigint AS px_sum,
  NULL::varchar AS error
FROM documents
"""


def q_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG decode roundtrip (jpeg.py via multimodal.
    image_decode): synthesize a block-constant grayscale JPEG per document
    (quant=1 — constant 8x8 blocks survive the lossy codec EXACTLY, see
    jpeg.py module docstring), decode through the full Huffman+IDCT path,
    emit recovered dims + pixel sum. The oracle states the synthesis
    closed form, so the decoder must actually recover the encoded pixels."""
    import pandas as _pd

    from ..jpeg import encode_jpeg_baseline

    def _synth(batches):
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w = d % 10 + 3
                h = d % 6 + 3
                px = bytes(
                    (d + 37 * (x // 8) + 59 * (y // 8)) % 256
                    for y in range(h)
                    for x in range(w)
                )
                payloads.append(encode_jpeg_baseline(w, h, px))
            yield _pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StructField,
        StructType,
    )

    pages = _spread(_docs(spark, sf_dir).select("doc_id"))
    payloads = pages.mapInPandas(
        _synth,
        StructType(
            [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
        ),
    )
    return multimodal.image_decode(payloads)


_SQL_JPEG_DECODE = """
SELECT doc_id,
  (doc_id % 10 + 3)::int AS width,
  (doc_id % 6 + 3)::int AS height,
  'L' AS mode,
  list_sum(flatten(list_transform(range((doc_id % 6 + 3)::int), y ->
    list_transform(range((doc_id % 10 + 3)::int), x ->
      (doc_id + 37 * (x // 8) + 59 * (y // 8)) % 256))))::bigint AS px_sum,
  NULL::varchar AS error
FROM documents
"""


def q_jpeg_progressive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL progressive-JPEG decode roundtrip (round 4: jpeg.py SOF2 —
    multi-scan coefficient accumulation, spectral selection + successive
    approximation): the same block-constant corpus as jpeg_decode, but
    sized doc-dependently larger so multi-block scans exercise the
    interleaved-DC / per-component-AC scan script, encoded with
    encode_jpeg_progressive. Same closed-form oracle (constant 8x8 blocks
    survive quant=1 exactly — including through the progressive path,
    which accumulates the identical coefficients before one IDCT)."""
    import pandas as _pd

    from ..jpeg import encode_jpeg_progressive

    def _synth(batches):
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w = d % 13 + 4
                h = d % 9 + 4
                px = bytes(
                    (d + 41 * (x // 8) + 67 * (y // 8)) % 256
                    for y in range(h)
                    for x in range(w)
                )
                payloads.append(encode_jpeg_progressive(w, h, px))
            yield _pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StructField,
        StructType,
    )

    pages = _spread(_docs(spark, sf_dir).select("doc_id"))
    payloads = pages.mapInPandas(
        _synth,
        StructType(
            [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
        ),
    )
    return multimodal.image_decode(payloads)


_SQL_JPEG_PROGRESSIVE = """
SELECT doc_id,
  (doc_id % 13 + 4)::int AS width,
  (doc_id % 9 + 4)::int AS height,
  'L' AS mode,
  list_sum(flatten(list_transform(range((doc_id % 9 + 4)::int), y ->
    list_transform(range((doc_id % 13 + 4)::int), x ->
      (doc_id + 41 * (x // 8) + 67 * (y // 8)) % 256))))::bigint AS px_sum,
  NULL::varchar AS error
FROM documents
"""


def q_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode + nearest-neighbor resize to 8x8 (multimodal.image_resize) on
    the same gradient-PNG corpus as image_decode. Oracle: output pixel
    (x,y) samples source (x*w//8, y*h//8) of the closed-form gradient."""
    import pandas as _pd

    from ..codecs import encode_png

    def _synth(batches):
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                w = int(doc_id) % 16 + 1
                h = int(doc_id) % 8 + 1
                px = bytes(
                    (int(doc_id) + x + y) % 256 for y in range(h) for x in range(w)
                )
                payloads.append(encode_png(w, h, px, color_type=0))
            yield _pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StructField,
        StructType,
    )

    pages = _spread(_docs(spark, sf_dir).select("doc_id"))
    payloads = pages.mapInPandas(
        _synth,
        StructType(
            [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
        ),
    )
    return multimodal.image_resize(payloads, 8, 8)


_SQL_IMAGE_RESIZE = """
SELECT doc_id,
  8::int AS width,
  8::int AS height,
  'L' AS mode,
  list_sum(flatten(list_transform(range(8), y ->
    list_transform(range(8), x ->
      (doc_id
       + (x * (doc_id % 16 + 1)) // 8
       + (y * (doc_id % 8 + 1)) // 8) % 256))))::bigint AS px_sum,
  NULL::varchar AS error
FROM documents
"""


def q_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF decode roundtrip (codecs.decode_gif via multimodal.
    image_decode): synthesize one palettized GIF per document (indices and
    palette both closed-form in doc_id), decode through the LZW + palette
    path, emit dims + RGB pixel sum. The oracle restates the synthesis:
    pixel (x,y) has index v=(doc_id+x+3y)%256 and palette color
    (v, (v*3)%256, 255-v)."""
    import pandas as _pd

    from ..codecs import encode_gif

    _PALETTE = bytes(b for i in range(256) for b in (i, (i * 3) % 256, 255 - i))

    def _synth(batches):
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w = d % 7 + 2
                h = d % 5 + 2
                idx = bytes(
                    (d + x + 3 * y) % 256 for y in range(h) for x in range(w)
                )
                payloads.append(encode_gif(w, h, idx, _PALETTE))
            yield _pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StructField,
        StructType,
    )

    pages = _spread(_docs(spark, sf_dir).select("doc_id"))
    payloads = pages.mapInPandas(
        _synth,
        StructType(
            [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
        ),
    )
    return multimodal.image_decode(payloads)


_SQL_GIF_DECODE = """
SELECT doc_id,
  (doc_id % 7 + 2)::int AS width,
  (doc_id % 5 + 2)::int AS height,
  'RGB' AS mode,
  list_sum(flatten(list_transform(range((doc_id % 5 + 2)::int), y ->
    list_transform(range((doc_id % 7 + 2)::int), x ->
      ((doc_id + x + 3*y) % 256)
      + (((doc_id + x + 3*y) % 256) * 3) % 256
      + 255 - ((doc_id + x + 3*y) % 256)))))::bigint AS px_sum,
  NULL::varchar AS error
FROM documents
"""


def q_tiff_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL TIFF decode roundtrip (codecs.decode_tiff via multimodal.
    image_decode — round 4, the reference whitelist's last image format:
    /root/reference/app/utils/validation.py:10): synthesize one baseline
    TIFF per document with mode (gray/RGB), compression (none/PackBits),
    byte order (II/MM) and strip layout all varying by doc_id so every
    decoder path is exercised across the corpus, decode, emit dims +
    pixel sum. The oracle restates the synthesis closed form: pixel
    (x,y,c) = (doc_id + 13x + 29y + 7c) % 256."""
    import pandas as _pd

    from ..codecs import encode_tiff

    def _synth(batches):
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w = d % 12 + 2
                h = d % 5 + 2
                ch = 3 if d % 2 == 1 else 1
                px = bytes(
                    (d + 13 * x + 29 * y + 7 * c) % 256
                    for y in range(h)
                    for x in range(w)
                    for c in range(ch)
                )
                payloads.append(
                    encode_tiff(
                        w,
                        h,
                        px,
                        "RGB" if ch == 3 else "L",
                        packbits=d % 3 == 0,
                        big_endian=d % 5 == 0,
                        rows_per_strip=2 if d % 7 == 0 else None,
                    )
                )
            yield _pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StructField,
        StructType,
    )

    pages = _spread(_docs(spark, sf_dir).select("doc_id"))
    payloads = pages.mapInPandas(
        _synth,
        StructType(
            [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
        ),
    )
    return multimodal.image_decode(payloads)


_SQL_TIFF_DECODE = """
SELECT doc_id,
  (doc_id % 12 + 2)::int AS width,
  (doc_id % 5 + 2)::int AS height,
  CASE WHEN doc_id % 2 = 1 THEN 'RGB' ELSE 'L' END AS mode,
  list_sum(flatten(list_transform(range((doc_id % 5 + 2)::int), y ->
    flatten(list_transform(range((doc_id % 12 + 2)::int), x ->
      list_transform(range(CASE WHEN doc_id % 2 = 1 THEN 3 ELSE 1 END), c ->
        (doc_id + 13*x + 29*y + 7*c) % 256))))))::bigint AS px_sum,
  NULL::varchar AS error
FROM documents
"""


def q_tiff_lzw_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIFF-LZW + predictor decode roundtrip (codecs._tiff_lzw_decode via
    decode_tiff/image_decode — round 4 session 18, retiring the LZW half
    of the TIFF scope note): synthesize one LZW-compressed TIFF per
    document with predictor (none/horizontal-differencing), byte order
    and strip layout varying by doc_id — every 11th doc swaps LZW for
    deflate-in-TIFF (compression 8, stdlib zlib) — so the MSB-first
    early-change code path, the zlib strip path, the predictor undo and
    multi-strip reassembly are all exercised across the corpus; the
    oracle is compression-blind by construction (same pixels either
    way). The LZW bit-level semantics are pinned
    separately against the TIFF6 §13 worked example
    (tests/test_codecs.py). Oracle restates the synthesis closed form:
    pixel (x,y,c) = (3*doc_id + 5x + 17y + 11c) % 256."""
    import pandas as _pd

    from ..codecs import encode_tiff

    def _synth(batches):
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w = d % 10 + 2
                h = d % 6 + 2
                ch = 3 if d % 2 == 1 else 1
                px = bytes(
                    (3 * d + 5 * x + 17 * y + 11 * c) % 256
                    for y in range(h)
                    for x in range(w)
                    for c in range(ch)
                )
                deflate = d % 11 == 0
                payloads.append(
                    encode_tiff(
                        w,
                        h,
                        px,
                        "RGB" if ch == 3 else "L",
                        lzw=not deflate,
                        deflate=deflate,
                        predictor=2 if d % 3 == 0 else 1,
                        big_endian=d % 5 == 0,
                        rows_per_strip=2 if d % 7 == 0 else None,
                    )
                )
            yield _pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StructField,
        StructType,
    )

    pages = _spread(_docs(spark, sf_dir).select("doc_id"))
    payloads = pages.mapInPandas(
        _synth,
        StructType(
            [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
        ),
    )
    return multimodal.image_decode(payloads)


_SQL_TIFF_LZW_DECODE = """
SELECT doc_id,
  (doc_id % 10 + 2)::int AS width,
  (doc_id % 6 + 2)::int AS height,
  CASE WHEN doc_id % 2 = 1 THEN 'RGB' ELSE 'L' END AS mode,
  list_sum(flatten(list_transform(range((doc_id % 6 + 2)::int), y ->
    flatten(list_transform(range((doc_id % 10 + 2)::int), x ->
      list_transform(range(CASE WHEN doc_id % 2 = 1 THEN 3 ELSE 1 END), c ->
        (3*doc_id + 5*x + 17*y + 11*c) % 256))))))::bigint AS px_sum,
  NULL::varchar AS error
FROM documents
"""


def q_webp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL lossless-WebP (VP8L) decode roundtrip (vp8l.py via
    multimodal.image_decode — round 4, retiring the WebP half of the last
    codec stub): synthesize one RGBA VP8L file per document with the
    pure-stdlib encoder, varying SUBTRACT_GREEN, color-cache and LZ77 use
    by doc_id so the Huffman/copy/cache decode paths are all exercised
    across the corpus; decode through the full canonical-prefix-code
    path; emit dims + RGBA pixel sum. The oracle restates the synthesis
    closed form — pixel (x,y) = (r,g,b,a) = ((d+11x+23y)%256,
    (3d+7x+5y)%256, (7d+2x+13y)%256, (200+d+x+y)%256)."""
    import pandas as _pd

    from ..vp8l import encode_webp_lossless

    def _synth(batches):
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w = d % 9 + 2
                h = d % 5 + 2
                px = bytes(
                    v
                    for y in range(h)
                    for x in range(w)
                    for v in (
                        (d + 11 * x + 23 * y) % 256,
                        (3 * d + 7 * x + 5 * y) % 256,
                        (7 * d + 2 * x + 13 * y) % 256,
                        (200 + d + x + y) % 256,
                    )
                )
                payloads.append(
                    encode_webp_lossless(
                        w,
                        h,
                        px,
                        "RGBA",
                        subtract_green=d % 2 == 0,
                        cache_bits=4 if d % 3 == 0 else 0,
                        use_lz77=d % 5 == 0,
                    )
                )
            yield _pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StructField,
        StructType,
    )

    pages = _spread(_docs(spark, sf_dir).select("doc_id"))
    payloads = pages.mapInPandas(
        _synth,
        StructType(
            [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
        ),
    )
    return multimodal.image_decode(payloads)


_SQL_WEBP_DECODE = """
SELECT doc_id,
  (doc_id % 9 + 2)::int AS width,
  (doc_id % 5 + 2)::int AS height,
  'RGBA' AS mode,
  list_sum(flatten(list_transform(range((doc_id % 5 + 2)::int), y ->
    list_transform(range((doc_id % 9 + 2)::int), x ->
      (doc_id + 11*x + 23*y) % 256
      + (3*doc_id + 7*x + 5*y) % 256
      + (7*doc_id + 2*x + 13*y) % 256
      + (200 + doc_id + x + y) % 256))))::bigint AS px_sum,
  NULL::varchar AS error
FROM documents
"""


def q_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PCM WAV decode roundtrip (multimodal.audio_decode): synthesize a
    deterministic mono 16-bit clip per document with the stdlib writer,
    decode it, emit header fields + the exact sample sum; the oracle states
    the synthesis closed form."""
    import io as _io
    import struct as _struct
    import wave as _wave

    import pandas as _pd

    def _synth(batches):
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                n = d % 32 + 4
                samples = [((d * 31 + i * 17) % 65536) - 32768 for i in range(n)]
                buf = _io.BytesIO()
                with _wave.open(buf, "wb") as w:
                    w.setnchannels(1)
                    w.setsampwidth(2)
                    w.setframerate(8000)
                    w.writeframes(_struct.pack(f"<{n}h", *samples))
                payloads.append(buf.getvalue())
            yield _pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StructField,
        StructType,
    )

    base = _spread(_docs(spark, sf_dir).select("doc_id"))
    payloads = base.mapInPandas(
        _synth,
        StructType(
            [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
        ),
    )
    return multimodal.audio_decode(payloads)


_SQL_AUDIO_DECODE = """
SELECT doc_id,
  1::int AS channels,
  8000::int AS sample_rate,
  (doc_id % 32 + 4)::bigint AS n_frames,
  list_sum(list_transform(range((doc_id % 32 + 4)::int),
    i -> (doc_id * 31 + i * 17) % 65536 - 32768))::bigint AS sample_sum,
  NULL::varchar AS error
FROM documents
"""


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact audio quality gauges (multimodal.audio_features —
    round 4): RMS energy (sum of squares), peak amplitude and
    zero-crossing count over the same closed-form synthesized PCM clips
    as audio_decode — the cheap speech-activity/clipping screens an
    audio-corpus curation pass runs before any model scoring. All
    integer, so the oracle restates the synthesis exactly."""
    import io as _io
    import struct as _struct
    import wave as _wave

    import pandas as _pd

    def _synth(batches):
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                n = d % 32 + 4
                samples = [((d * 31 + i * 17) % 65536) - 32768 for i in range(n)]
                buf = _io.BytesIO()
                with _wave.open(buf, "wb") as w:
                    w.setnchannels(1)
                    w.setsampwidth(2)
                    w.setframerate(8000)
                    w.writeframes(_struct.pack(f"<{n}h", *samples))
                payloads.append(buf.getvalue())
            yield _pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StructField,
        StructType,
    )

    base = _spread(_docs(spark, sf_dir).select("doc_id"))
    payloads = base.mapInPandas(
        _synth,
        StructType(
            [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
        ),
    )
    return multimodal.audio_features(payloads)


_SQL_AUDIO_FEATURES = """
WITH s AS (
  SELECT doc_id, (doc_id % 32 + 4)::int AS n,
    list_transform(range((doc_id % 32 + 4)::int),
      i -> (doc_id * 31 + i * 17) % 65536 - 32768) AS samples
  FROM documents
)
SELECT doc_id,
  n::bigint AS n_samples,
  list_sum(list_transform(samples, x -> x * x))::bigint AS energy,
  list_max(list_transform(samples, x -> abs(x)))::int AS peak,
  coalesce(list_sum(list_transform(range(n - 1),
    i -> CASE WHEN (samples[i + 2] < 0) <> (samples[i + 1] < 0)
         THEN 1 ELSE 0 END)), 0)::bigint AS zero_crossings,
  NULL::varchar AS error
FROM s
"""




def q_audio_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy-threshold VAD segmentation (multimodal.audio_segments —
    round 4): synthesized clips alternate loud pseudo-random sections
    with quiet (amplitude <=128) every-3rd frames, so consecutive-loud
    islands form real segments. All-integer; the oracle restates the
    synthesis, frame fold and gaps-and-islands arithmetic exactly."""
    import io as _io
    import struct as _struct
    import wave as _wave

    import pandas as _pd

    def _synth(batches):
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                n = d % 200 + 130
                samples = [
                    ((d * 31 + i * 17) % 65536 - 32768)
                    if ((i // 64) + d) % 3 != 0
                    else ((d * 31 + i * 17) % 256 - 128)
                    for i in range(n)
                ]
                buf = _io.BytesIO()
                with _wave.open(buf, "wb") as w:
                    w.setnchannels(1)
                    w.setsampwidth(2)
                    w.setframerate(8000)
                    w.writeframes(_struct.pack(f"<{n}h", *samples))
                payloads.append(buf.getvalue())
            yield _pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StructField,
        StructType,
    )

    base = _spread(_docs(spark, sf_dir).select("doc_id"))
    payloads = base.mapInPandas(
        _synth,
        StructType(
            [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
        ),
    )
    return multimodal.audio_segments(payloads, frame_len=64, threshold=1 << 22)


_SQL_AUDIO_SEGMENTS = """
WITH s AS (
  SELECT doc_id, (doc_id % 200 + 130)::int AS n FROM documents
),
f AS (
  SELECT doc_id, n, unnest(range(((n + 63) // 64)::int))::bigint AS frame_id
  FROM s
),
e AS (
  SELECT doc_id, frame_id,
    list_sum(list_transform(
      range((frame_id * 64)::int, least(n::bigint, (frame_id + 1) * 64)::int),
      i -> CASE WHEN ((i // 64) + doc_id) % 3 <> 0
        THEN ((doc_id * 31 + i * 17) % 65536 - 32768)
           * ((doc_id * 31 + i * 17) % 65536 - 32768)
        ELSE ((doc_id * 31 + i * 17) % 256 - 128)
           * ((doc_id * 31 + i * 17) % 256 - 128) END
    ))::bigint AS energy
  FROM f
),
a AS (SELECT * FROM e WHERE energy >= 4194304),
i AS (
  SELECT doc_id, frame_id, energy,
    frame_id - row_number() OVER (PARTITION BY doc_id ORDER BY frame_id)
      AS island
  FROM a
),
g AS (
  SELECT doc_id, island, min(frame_id)::bigint AS start_frame,
    count(*)::bigint AS n_frames, sum(energy)::bigint AS energy_sum
  FROM i GROUP BY 1, 2
)
SELECT doc_id,
  (row_number() OVER (PARTITION BY doc_id ORDER BY start_frame) - 1)::bigint
    AS seg_id,
  start_frame, n_frames, energy_sum
FROM g
"""


def q_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame extraction roundtrip (codecs.decode_avi via
    multimodal.video_frames — round 4, retiring the video half of the
    declared codec stub for uncompressed essence): synthesize one
    raw-DIB AVI per document (dims and frame count vary by doc_id; frame
    f's decoded top-down RGB byte j = ((7*doc_id + 13*f) % 256 + j) %
    256 — the encoder lays down the bottom-up padded BGR DIB that decodes
    to exactly that), sample every 2nd frame, emit dims + pixel sum. The
    oracle restates the per-frame closed form."""
    import pandas as _pd

    from ..codecs import encode_avi_raw

    def _synth(batches):
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w = d % 8 + 2
                h = d % 4 + 2
                nf = d % 5 + 2
                frames = [
                    bytes(((7 * d + 13 * f) % 256 + j) % 256 for j in range(3 * w * h))
                    for f in range(nf)
                ]
                payloads.append(encode_avi_raw(w, h, frames, fps=d % 24 + 1))
            yield _pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StructField,
        StructType,
    )

    pages = _spread(_docs(spark, sf_dir).select("doc_id"))
    payloads = pages.mapInPandas(
        _synth,
        StructType(
            [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
        ),
    )
    return multimodal.video_frames(payloads, frame_step=2)


_SQL_VIDEO_FRAMES = """
WITH s AS (
  SELECT doc_id, (doc_id % 8 + 2)::int AS w, (doc_id % 4 + 2)::int AS h,
         (doc_id % 5 + 2)::int AS nf
  FROM documents
),
f AS (
  SELECT doc_id, w, h, unnest(range(0, nf, 2))::int AS frame_idx FROM s
)
SELECT doc_id, frame_idx, w AS width, h AS height,
  list_sum(list_transform(range(3*w*h),
    j -> ((doc_id*7 + frame_idx*13) % 256 + j) % 256))::bigint AS px_sum,
  NULL::varchar AS error
FROM f
"""


def q_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape (relational.revenue_forecast — round 4): pure
    scan-side filter battery + one decimal sum, zero joins."""
    return relational.revenue_forecast(_tbl(spark, sf_dir, "lineitem"))


_SQL_REVENUE_FORECAST = """
SELECT
  sum((l_extendedprice::decimal(18,2) * l_discount::decimal(18,2)
      )::decimal(18,4))::double AS revenue,
  count(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount::decimal(18,2) >= 0.02::decimal(18,2)
  AND l_discount::decimal(18,2) <= 0.06::decimal(18,2)
  AND l_quantity < 24
"""


def q_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (relational.volume_shipping — round 4): bilateral
    nation-pair trade volume by ship year."""
    return relational.volume_shipping(
        _tbl(spark, sf_dir, "supplier"),
        _tbl(spark, sf_dir, "lineitem"),
        _tbl(spark, sf_dir, "orders"),
        _tbl(spark, sf_dir, "customer"),
        _tbl(spark, sf_dir, "nation"),
    )


_SQL_VOLUME_SHIPPING = """
WITH nat AS (
  SELECT n_nationkey, n_name FROM nation
  WHERE n_name IN ('NATION_11', 'NATION_12')
),
s AS (
  SELECT s_suppkey, n_name AS supp_nation
  FROM supplier JOIN nat ON s_nationkey = n_nationkey
),
c AS (
  SELECT c_custkey, n_name AS cust_nation
  FROM customer JOIN nat ON c_nationkey = n_nationkey
),
o AS (
  SELECT o_orderkey, cust_nation FROM orders JOIN c ON o_custkey = c_custkey
),
l AS (
  SELECT l_orderkey, supp_nation, year(l_shipdate)::int AS l_year,
    (l_extendedprice::decimal(18,2)
     * (1::decimal(18,2) - l_discount::decimal(18,2)))::decimal(18,4)
      AS volume
  FROM lineitem JOIN s ON l_suppkey = s_suppkey
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1998-01-01'
)
SELECT supp_nation, cust_nation, l_year, sum(volume)::double AS revenue
FROM l JOIN o ON l.l_orderkey = o.o_orderkey
WHERE supp_nation <> cust_nation
GROUP BY 1, 2, 3
"""


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (relational.market_share — round 4): one nation's
    share of a region's PROMO-part market by order year; share emitted as
    floor(num*1e6/den) over doubles."""
    return relational.market_share(
        _tbl(spark, sf_dir, "part"),
        _tbl(spark, sf_dir, "supplier"),
        _tbl(spark, sf_dir, "lineitem"),
        _tbl(spark, sf_dir, "orders"),
        _tbl(spark, sf_dir, "customer"),
        _tbl(spark, sf_dir, "nation"),
        _tbl(spark, sf_dir, "region"),
    )


_SQL_MARKET_SHARE = """
WITH dim AS (
  SELECT n_nationkey FROM nation
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'ASIA'
),
c AS (
  SELECT c_custkey FROM customer JOIN dim ON c_nationkey = n_nationkey
),
o AS (
  SELECT o_orderkey, year(o_orderdate)::int AS o_year
  FROM orders JOIN c ON o_custkey = c_custkey
),
sn AS (
  SELECT s_suppkey, n_name AS supp_nation
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
),
l AS (
  SELECT l_orderkey, supp_nation,
    (l_extendedprice::decimal(18,2)
     * (1::decimal(18,2) - l_discount::decimal(18,2)))::decimal(18,4)
      AS volume
  FROM lineitem
  JOIN (SELECT p_partkey FROM part WHERE p_type = 'PROMO') p
    ON l_partkey = p_partkey
  JOIN sn ON l_suppkey = s_suppkey
),
g AS (
  SELECT o_year,
    sum(CASE WHEN supp_nation = 'NATION_1' THEN volume
             ELSE 0::decimal(18,4) END) AS num,
    sum(volume) AS den
  FROM l JOIN o ON l.l_orderkey = o.o_orderkey
  GROUP BY 1
)
SELECT o_year,
  floor(num::double * 1000000.0 / den::double)::bigint AS share_micro,
  den::double AS volume
FROM g
"""


def q_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (relational.returned_item_revenue — round 4):
    customers who returned the most revenue in 1997Q4, deterministic
    top-20."""
    return relational.returned_item_revenue(
        _tbl(spark, sf_dir, "customer"),
        _tbl(spark, sf_dir, "orders"),
        _tbl(spark, sf_dir, "lineitem"),
        _tbl(spark, sf_dir, "nation"),
    )


_SQL_RETURNED_ITEMS = """
WITH o AS (
  SELECT o_orderkey, o_custkey FROM orders
  WHERE o_orderdate >= TIMESTAMP '1997-10-01'
    AND o_orderdate < TIMESTAMP '1998-01-01'
),
l AS (
  SELECT l_orderkey,
    (l_extendedprice::decimal(18,2)
     * (1::decimal(18,2) - l_discount::decimal(18,2)))::decimal(18,4)
      AS rev
  FROM lineitem WHERE l_returnflag = 'R'
),
pc AS (
  SELECT o_custkey, sum(rev) AS revenue
  FROM o JOIN l ON o.o_orderkey = l.l_orderkey
  GROUP BY 1
)
SELECT c_custkey, c_name, n_name, c_acctbal, revenue::double AS revenue
FROM pc
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
ORDER BY revenue::double DESC, c_custkey LIMIT 20
"""


def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (relational.promo_revenue_share — round 4):
    promotional parts' share of one month's revenue; share emitted as
    floor(num*1e6/den) over doubles."""
    return relational.promo_revenue_share(
        _tbl(spark, sf_dir, "lineitem"), _tbl(spark, sf_dir, "part")
    )


_SQL_PROMO_REVENUE = """
WITH l AS (
  SELECT l_partkey,
    (l_extendedprice::decimal(18,2)
     * (1::decimal(18,2) - l_discount::decimal(18,2)))::decimal(18,4)
      AS rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-09-01'
    AND l_shipdate < TIMESTAMP '1997-10-01'
),
a AS (
  SELECT
    sum(CASE WHEN p_type = 'PROMO' THEN rev ELSE 0::decimal(18,4) END)
      AS num,
    sum(rev) AS den,
    count(*) AS n_lines
  FROM l JOIN part ON l_partkey = p_partkey
)
SELECT floor(num::double * 1000000.0 / den::double)::bigint
    AS promo_share_micro,
  den::double AS revenue, n_lines
FROM a
"""


def q_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (relational.waiting_suppliers — round 4): sole
    returner on finished multi-supplier orders — the EXISTS/NOT-EXISTS
    double-correlation as ONE per-order aggregate."""
    return relational.waiting_suppliers(
        _tbl(spark, sf_dir, "supplier"),
        _tbl(spark, sf_dir, "lineitem"),
        _tbl(spark, sf_dir, "orders"),
    )


_SQL_WAITING_SUPPLIERS = """
WITH fin AS (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F'),
po AS (
  SELECT l_orderkey,
    count(DISTINCT l_suppkey) AS n_supp,
    count(DISTINCT CASE WHEN l_returnflag = 'R' THEN l_suppkey END)
      AS n_ret,
    max(CASE WHEN l_returnflag = 'R' THEN l_suppkey END) AS sole_ret
  FROM lineitem JOIN fin ON l_orderkey = o_orderkey
  GROUP BY 1
  HAVING count(DISTINCT l_suppkey) >= 2
     AND count(DISTINCT CASE WHEN l_returnflag = 'R' THEN l_suppkey END) = 1
)
SELECT s_name, count(*) AS numwait
FROM po JOIN supplier ON sole_ret = s_suppkey
GROUP BY 1
"""


def q_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (relational.product_profit — round 4): profit by
    supplier nation and order year, supply cost from the deterministic
    partsupp surrogate cost(p,s) = ((p*31+s*17)%1000)/100 + 1."""
    return relational.product_profit(
        _tbl(spark, sf_dir, "lineitem"),
        _tbl(spark, sf_dir, "supplier"),
        _tbl(spark, sf_dir, "nation"),
        _tbl(spark, sf_dir, "orders"),
    )


_SQL_PRODUCT_PROFIT = """
WITH sn AS (
  SELECT s_suppkey, n_name
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
),
l AS (
  SELECT l_orderkey, n_name,
    ((l_extendedprice::decimal(18,2)
      * (1::decimal(18,2) - l_discount::decimal(18,2)))::decimal(18,4)
     -
     ((((l_partkey * 31 + l_suppkey * 17) % 1000) / 100.0 + 1
      )::decimal(18,2)
      * l_quantity::decimal(18,2))::decimal(18,4)) AS amount
  FROM lineitem JOIN sn ON l_suppkey = s_suppkey
)
SELECT n_name, year(o_orderdate)::int AS o_year,
  sum(amount)::double AS profit
FROM l JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1, 2
"""


def q_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (relational.important_stock — round 4): parts
    whose stock value at NATION_3's suppliers exceeds 0.1% of that
    nation's total; value = cost(p,s) * availqty(p,s) over the distinct
    (partkey, suppkey) relation."""
    return relational.important_stock(
        _tbl(spark, sf_dir, "lineitem"),
        _tbl(spark, sf_dir, "supplier"),
        _tbl(spark, sf_dir, "nation"),
    )


_SQL_IMPORTANT_STOCK = """
WITH sn AS (
  SELECT s_suppkey FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_3'
),
ps AS (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
),
v AS (
  SELECT l_partkey,
    ((((l_partkey * 31 + l_suppkey * 17) % 1000) / 100.0 + 1
     )::decimal(18,2)
     * ((l_partkey * 13 + l_suppkey * 7) % 500))::decimal(18,2) AS value
  FROM ps JOIN sn ON l_suppkey = s_suppkey
),
nv AS (
  SELECT l_partkey, sum(value) AS stock_value FROM v GROUP BY 1
),
t AS (SELECT sum(stock_value) AS grand FROM nv)
SELECT l_partkey AS p_partkey, stock_value::double AS stock_value
FROM nv, t
WHERE stock_value > grand * 0.001::decimal(8,4)
"""


def q_promotion_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (relational.promotion_suppliers — round 4):
    suppliers holding excess PROMO-part stock vs 1997 shipments
    (2*availqty > shipped, all-decimal)."""
    return relational.promotion_suppliers(
        _tbl(spark, sf_dir, "lineitem"),
        _tbl(spark, sf_dir, "supplier"),
        _tbl(spark, sf_dir, "part"),
    )


_SQL_PROMOTION_SUPPLIERS = """
WITH promo AS (SELECT p_partkey FROM part WHERE p_type = 'PROMO'),
sh AS (
  SELECT l_partkey, l_suppkey,
    sum(l_quantity::decimal(18,2)) AS shipped
  FROM lineitem JOIN promo ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate < TIMESTAMP '1998-01-01'
  GROUP BY 1, 2
),
q AS (
  SELECT l_suppkey, count(*) AS n_parts FROM sh
  WHERE 2 * ((l_partkey * 13 + l_suppkey * 7) % 500) > shipped
  GROUP BY 1
)
SELECT s_suppkey, s_name, n_parts
FROM q JOIN supplier ON l_suppkey = s_suppkey
"""


def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (relational.min_cost_supplier — round 4): per-part
    minimum-cost EUROPE supplier with ties kept; the correlated MIN
    decorrelated into a grouped argmin + join-back over the implicit
    (partkey, suppkey) relation with the deterministic cost surrogate."""
    return relational.min_cost_supplier(
        _tbl(spark, sf_dir, "part"),
        _tbl(spark, sf_dir, "supplier"),
        _tbl(spark, sf_dir, "nation"),
        _tbl(spark, sf_dir, "region"),
        _tbl(spark, sf_dir, "lineitem"),
    )


_SQL_MIN_COST_SUPPLIER = """
WITH rs AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
),
pp AS (
  SELECT p_partkey, p_name FROM part
  WHERE p_size <= 15 AND p_type = 'STANDARD'
),
ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
c AS (
  SELECT s_acctbal, s_name, n_name, p_partkey, p_name, l_partkey,
    ((((l_partkey * 31 + l_suppkey * 17) % 1000) / 100.0 + 1
     ))::decimal(18,2) AS supplycost
  FROM ps
  JOIN pp ON l_partkey = p_partkey
  JOIN rs ON l_suppkey = s_suppkey
),
m AS (SELECT l_partkey AS mk, min(supplycost) AS mc FROM c GROUP BY 1)
SELECT s_acctbal, s_name, n_name, p_partkey::bigint AS p_partkey, p_name,
  supplycost::double AS supplycost
FROM c JOIN m ON l_partkey = mk AND supplycost = mc
"""


def q_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (relational.shipmode_priority — round 4):
    urgent/high vs other order counts by the deterministic shipmode
    surrogate; fact-fact orderkey join pinned shuffle_hash."""
    return relational.shipmode_priority(
        _tbl(spark, sf_dir, "lineitem"),
        _tbl(spark, sf_dir, "orders"),
    )


_SQL_SHIPMODE_PRIORITY = """
WITH li AS (
  SELECT l_orderkey,
    list_extract(['MAIL','SHIP','AIR','TRUCK','RAIL','FOB','REG AIR'],
      ((l_orderkey * 7 + l_linenumber) % 7 + 1)::int) AS shipmode
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate < TIMESTAMP '1998-01-01'
)
SELECT shipmode,
  sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
      THEN 1 ELSE 0 END)::bigint AS high_line_count,
  sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
      THEN 0 ELSE 1 END)::bigint AS low_line_count
FROM li JOIN orders ON l_orderkey = o_orderkey
WHERE shipmode IN ('MAIL', 'SHIP')
GROUP BY 1
"""


def q_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (relational.bracket_revenue — round 4): revenue
    over an OR of three (brand, size, quantity) conjunctions; part side
    pre-filtered to the brand/size envelope before the broadcast."""
    return relational.bracket_revenue(
        _tbl(spark, sf_dir, "lineitem"),
        _tbl(spark, sf_dir, "part"),
    )


_SQL_BRACKET_REVENUE = """
WITH p AS (
  SELECT p_partkey, p_brand, p_size FROM part
  WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5)
     OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10)
     OR (p_brand = 'Brand#4'  AND p_size BETWEEN 1 AND 15)
)
SELECT
  sum((l_extendedprice::decimal(18,2)
       * (1::decimal(18,2) - l_discount::decimal(18,2))
      )::decimal(18,4))::double AS revenue,
  count(*) AS n_lines
FROM lineitem JOIN p ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#4'  AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)
"""


def q_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (relational.idle_customers — round 4): customers
    above the positive-balance average with no orders since 2000-01-01,
    by nation; scalar subquery as 1-row crossJoin, NOT EXISTS as
    shuffle_hash anti join over the date-pruned orders scan. Completes
    the earlier `idle_rich_customers` whole-corpus gauge (which pins the
    degenerate no-order-less-customers edge) with Q22's actual grouped
    output and the positive-balance-only average."""
    return relational.idle_customers(
        _tbl(spark, sf_dir, "customer"),
        _tbl(spark, sf_dir, "orders"),
    )


_SQL_IDLE_CUSTOMERS = """
WITH t AS (
  SELECT sum(c_acctbal::decimal(18,2))::double / count(*) AS avg_bal
  FROM customer WHERE c_acctbal > 0
),
rich AS (
  SELECT c_custkey, c_nationkey, c_acctbal FROM customer, t
  WHERE c_acctbal > avg_bal
),
never AS (
  SELECT * FROM rich
  WHERE NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey
      AND o_orderdate >= TIMESTAMP '2000-01-01')
)
SELECT c_nationkey::int AS cntrycode, count(*) AS numcust,
  sum(c_acctbal::decimal(18,2))::double AS totacctbal
FROM never GROUP BY 1
"""


# ---------------------------------------------------------------------------
# copurchase_pairs
# ---------------------------------------------------------------------------


def q_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket 2-itemsets (relational.copurchase_pairs): pairs of
    parts co-ordered in >= 2 orders — support counting via ONE basket-keyed
    shuffle and an in-row pair fan-out (baskets are <= 7 items), never a
    corpus x corpus self-join."""
    from ..operators.relational import copurchase_pairs

    return copurchase_pairs(_tbl(spark, sf_dir, "lineitem"), min_support=2)


_SQL_COPURCHASE_PAIRS = """
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
  count(*)::bigint AS n_orders
FROM op a JOIN op b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY 1, 2 HAVING count(*) >= 2
"""


def q_phash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DCT perceptual hash format-invariance (multimodal.image_phash):
    docs share one of 37 content groups (distinct gradient frequencies —
    verified pairwise-distinct pHashes) but each doc encodes its group's
    pixels in a rotating container (PNG / TIFF-LZW /
    TIFF-PackBits+predictor), so the decoded pixels are identical
    within a group and the 63-bit DCT hash must collide EXACTLY across
    formats. Output is (doc_id, n_same_phash) — the size of the doc's
    phash-equality class; the oracle states the group size in closed
    form. The hash itself never appears in the contract (floating-point
    DCT values are engine-internal; only the exact-collision property is
    the spec)."""
    import pandas as _pd

    from ..codecs import encode_png, encode_tiff
    from ..operators.multimodal import image_phash

    def _synth(batches):
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                g = d % 37
                w, h = 12 + g % 9, 10 + g % 5
                px = bytes(
                    (g * 13 + (3 + g % 7) * x + (5 + g % 11) * y) % 256
                    for y in range(h)
                    for x in range(w)
                )
                fmt = d % 3
                if fmt == 0:
                    payloads.append(encode_png(w, h, px, 0))
                elif fmt == 1:
                    payloads.append(encode_tiff(w, h, px, "L", lzw=True))
                else:
                    payloads.append(
                        encode_tiff(w, h, px, "L", packbits=True, predictor=2)
                    )
            yield _pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StructField,
        StructType,
    )

    pages = _spread(_docs(spark, sf_dir).select("doc_id"))
    payloads = pages.mapInPandas(
        _synth,
        StructType(
            [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
        ),
    )
    sigs = image_phash(payloads)
    counts = sigs.groupBy("phash_hex").agg(F.count("*").alias("n_same_phash"))
    return (
        sigs.join(counts.hint("shuffle_hash"), "phash_hex")
        .select("doc_id", "n_same_phash")
    )


_SQL_PHASH_GROUPS = """
SELECT doc_id,
  count(*) OVER (PARTITION BY doc_id % 37)::bigint AS n_same_phash
FROM documents
"""


def q_png_variants_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PNG indexed-color + Adam7 decode roundtrip (codecs.decode_png via
    image_decode — round 4 session 18, retiring the non-interlaced /
    truecolor-only scope notes): doc_id%4 rotates plain gray, Adam7
    gray, indexed->RGB, and Adam7 indexed+tRNS->RGBA; palette entry e is
    (7e, 11e, 13e) % 256 and index(x,y) = (d + x + 2y) % 16, so the
    oracle restates the palette expansion in closed form."""
    import pandas as _pd

    from ..codecs import encode_png

    def _synth(batches):
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w, h = d % 8 + 2, d % 4 + 2
                v = d % 4
                if v < 2:
                    px = bytes(
                        (d + 13 * x + 29 * y) % 256
                        for y in range(h)
                        for x in range(w)
                    )
                    payloads.append(encode_png(w, h, px, 0, interlace=v == 1))
                    continue
                pal = bytes(
                    c for e in range(16)
                    for c in ((7 * e) % 256, (11 * e) % 256, (13 * e) % 256)
                )
                idx = bytes(
                    (d + x + 2 * y) % 16 for y in range(h) for x in range(w)
                )
                trns = (
                    bytes((16 * e) % 256 for e in range(8)) if v == 3 else None
                )
                payloads.append(
                    encode_png(
                        w, h, idx, 3,
                        palette=pal, trns=trns, interlace=v == 3,
                    )
                )
            yield _pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StructField,
        StructType,
    )

    pages = _spread(_docs(spark, sf_dir).select("doc_id"))
    payloads = pages.mapInPandas(
        _synth,
        StructType(
            [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
        ),
    )
    return multimodal.image_decode(payloads)


_SQL_PNG_VARIANTS_DECODE = """
WITH px AS (
  SELECT doc_id, (doc_id % 8 + 2)::int AS w, (doc_id % 4 + 2)::int AS h,
    doc_id % 4 AS v
  FROM documents
)
SELECT doc_id, w AS width, h AS height,
  CASE v WHEN 0 THEN 'L' WHEN 1 THEN 'L' WHEN 2 THEN 'RGB'
         ELSE 'RGBA' END AS mode,
  CASE WHEN v < 2 THEN
    list_sum(flatten(list_transform(range(h), y ->
      list_transform(range(w), x -> (doc_id + 13*x + 29*y) % 256))))
  WHEN v = 2 THEN
    list_sum(flatten(list_transform(range(h), y ->
      list_transform(range(w), x ->
        (7*((doc_id + x + 2*y) % 16)) % 256
        + (11*((doc_id + x + 2*y) % 16)) % 256
        + (13*((doc_id + x + 2*y) % 16)) % 256))))
  ELSE
    list_sum(flatten(list_transform(range(h), y ->
      list_transform(range(w), x ->
        (7*((doc_id + x + 2*y) % 16)) % 256
        + (11*((doc_id + x + 2*y) % 16)) % 256
        + (13*((doc_id + x + 2*y) % 16)) % 256
        + CASE WHEN (doc_id + x + 2*y) % 16 < 8
               THEN (16*((doc_id + x + 2*y) % 16)) % 256
               ELSE 255 END))))
  END::bigint AS px_sum,
  NULL::varchar AS error
FROM px
"""


def q_ico_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ICO favicon decode (codecs.decode_ico via image_decode): each doc
    gets a two-member favicon — a small 32-bit BGRA DIB and a larger
    PNG whose dims/pixels vary by doc_id — and the decoder must elect
    the LARGEST member (the PNG) every time; every 3rd doc flips the
    order so election can't be positional. Oracle restates the PNG
    member's closed form: pixel (x,y) = (2*doc_id + 9x + 17y) % 256.
    image_decode's schema drops n_members (shared across formats)."""
    import pandas as _pd

    from ..codecs import encode_ico, encode_png

    def _synth(batches):
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w, h = d % 9 + 3, d % 6 + 3
                px = bytes(
                    (2 * d + 9 * x + 17 * y) % 256
                    for y in range(h)
                    for x in range(w)
                )
                big = encode_png(w, h, px, 0)
                small = bytes((d + i) % 256 for i in range(2 * 2 * 4))
                members = [(2, 2, small), (w, h, big)]
                if d % 3 == 0:
                    members.reverse()
                payloads.append(encode_ico(members))
            yield _pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StructField,
        StructType,
    )

    pages = _spread(_docs(spark, sf_dir).select("doc_id"))
    payloads = pages.mapInPandas(
        _synth,
        StructType(
            [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
        ),
    )
    return multimodal.image_decode(payloads)


_SQL_ICO_DECODE = """
SELECT doc_id,
  (doc_id % 9 + 3)::int AS width,
  (doc_id % 6 + 3)::int AS height,
  'L' AS mode,
  list_sum(flatten(list_transform(range((doc_id % 6 + 3)::int), y ->
    list_transform(range((doc_id % 9 + 3)::int), x ->
      (2*doc_id + 9*x + 17*y) % 256))))::bigint AS px_sum,
  NULL::varchar AS error
FROM documents
"""


def q_image_colors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Color profile (multimodal.image_colors) over per-doc RGB PNGs with
    pixel (x,y) = (r,g,b) = ((d+8x)%256, (2d+16y)%256, (3d)%256) — blue
    is constant per image so the dominant 9-bit bucket sweep has real
    collisions; the oracle restates means (floored) and the bucket
    argmax (smallest on ties) in closed form."""
    import pandas as _pd

    from ..codecs import encode_png

    def _synth(batches):
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w, h = d % 6 + 2, d % 4 + 2
                px = bytearray()
                for y in range(h):
                    for x in range(w):
                        px += bytes((
                            (d + 8 * x) % 256,
                            (2 * d + 16 * y) % 256,
                            (3 * d) % 256,
                        ))
                payloads.append(encode_png(w, h, bytes(px), 2))
            yield _pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StructField,
        StructType,
    )

    pages = _spread(_docs(spark, sf_dir).select("doc_id"))
    payloads = pages.mapInPandas(
        _synth,
        StructType(
            [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
        ),
    )
    return multimodal.image_colors(payloads)


_SQL_IMAGE_COLORS = """
WITH px AS (
  SELECT doc_id, (doc_id % 6 + 2)::int AS w, (doc_id % 4 + 2)::int AS h
  FROM documents
), flat AS (
  SELECT doc_id, w, h,
    unnest(flatten(list_transform(range(h), y ->
      list_transform(range(w), x ->
        {r: (doc_id + 8*x) % 256,
         g: (2*doc_id + 16*y) % 256,
         b: (3*doc_id) % 256})))) AS p
  FROM px
), agg AS (
  SELECT doc_id, w, h,
    sum(p.r) // count(*) AS mean_r,
    sum(p.g) // count(*) AS mean_g,
    sum(p.b) // count(*) AS mean_b,
    count(*) AS n_px
  FROM flat GROUP BY doc_id, w, h
), bk AS (
  SELECT doc_id,
    ((p.r // 32) * 64 + (p.g // 32) * 8 + (p.b // 32)) AS bucket,
    count(*) AS c
  FROM flat GROUP BY doc_id, bucket
), dom AS (
  SELECT doc_id, bucket AS dominant_bucket
  FROM (
    SELECT doc_id, bucket,
      row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, bucket) AS rn
    FROM bk
  ) WHERE rn = 1
)
SELECT a.doc_id, a.mean_r::bigint AS mean_r, a.mean_g::bigint AS mean_g,
  a.mean_b::bigint AS mean_b, d.dominant_bucket::bigint AS dominant_bucket,
  a.n_px::bigint AS n_px, NULL::varchar AS error
FROM agg a JOIN dom d USING (doc_id)
"""


def q_g711_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G.711 telephony WAV decode (codecs.decode_wav format tags 6/7 via
    audio_decode): companded byte i = (7*doc_id + 13*i) % 256, docs
    alternating u-law/A-law; the oracle restates the ITU-T expansion in
    closed-form integer arithmetic (the 512-entry tables are pinned
    against CPython's audioop in the unit suite)."""
    import pandas as _pd

    from ..codecs import encode_wav_g711

    def _synth(batches):
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                raw = bytes((7 * d + 13 * i) % 256 for i in range(d % 24 + 4))
                payloads.append(encode_wav_g711(raw, alaw=d % 2 == 1))
            yield _pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StructField,
        StructType,
    )

    pages = _spread(_docs(spark, sf_dir).select("doc_id"))
    payloads = pages.mapInPandas(
        _synth,
        StructType(
            [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
        ),
    )
    return multimodal.audio_decode(payloads)


_SQL_G711_DECODE = """
WITH s AS (
  SELECT doc_id, i, (7*doc_id + 13*i) % 256 AS b
  FROM documents, unnest(range((doc_id % 24 + 4)::int)) AS t(i)
), ex AS (
  SELECT doc_id,
    CASE WHEN doc_id % 2 = 0 THEN
      -- u-law: complement, biased mantissa, sign = bit 7 of complement
      CASE WHEN (255 - b) >= 128 THEN -1 ELSE 1 END
        * ((((255 - b) % 16) * 8 + 132) * (1 << (((255 - b) // 16) % 8)) - 132)
    ELSE
      -- A-law: xor 0x55, bit 7 SET means positive
      CASE WHEN b >= 128 THEN 1 ELSE -1 END
        * CASE WHEN ((xor(b::bigint, 85) // 16) % 8) > 0
               THEN ((xor(b::bigint, 85) % 16) * 16 + 264)
                    * (1 << (((xor(b::bigint, 85) // 16) % 8) - 1))
               ELSE (xor(b::bigint, 85) % 16) * 16 + 8 END
    END AS sample
  FROM s
)
SELECT d.doc_id, 1::int AS channels, 8000::int AS sample_rate,
  (d.doc_id % 24 + 4)::bigint AS n_frames,
  sum(e.sample)::bigint AS sample_sum,
  NULL::varchar AS error
FROM documents d JOIN ex e ON d.doc_id = e.doc_id
GROUP BY d.doc_id
"""


def q_media_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media curation capstone (multimodal.media_profile — the FUSED
    decode+pHash+color stage, payload touched ONCE): docs share one of
    29 content groups served in rotating containers (PNG / TIFF-LZW /
    ICO-wrapped-PNG — identical decoded pixels), every 13th doc's
    payload is corrupted (error row, dropped), solid placeholder groups
    (g%7==0) are filtered BEFORE dedup (a constant image's DCT hash is
    float-noise-driven, so blanks must not reach the hash grouping —
    that ordering is the point of the funnel), survivors group by exact
    pHash (24 groups, pairwise-distinct hashes verified) and elect the
    min-doc_id representative. Output: (doc_id, ok, solid, group_size,
    keep). Scale shape: one Arrow stage + one short-key groupBy + one
    hinted ShuffledHashJoin back; payloads never pass the profile."""
    import pandas as _pd

    from ..codecs import encode_ico, encode_png, encode_tiff
    from ..operators.multimodal import media_profile

    def _synth(batches):
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                g = d % 29
                w, h = g % 7 + 3, g % 5 + 3
                if g % 7 == 0:
                    px = bytes([(g * 11) % 256] * (w * h))
                else:
                    px = bytes(
                        (g * 13 + 5 * x + 9 * y) % 256
                        for y in range(h)
                        for x in range(w)
                    )
                fmt = d % 3
                if fmt == 0:
                    p = encode_png(w, h, px, 0)
                elif fmt == 1:
                    p = encode_tiff(w, h, px, "L", lzw=True)
                else:
                    p = encode_ico([(w, h, encode_png(w, h, px, 0))])
                if d % 13 == 0:
                    p = b"corrupt" + p[:10]
                payloads.append(p)
            yield _pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StructField,
        StructType,
    )

    pages = _spread(_docs(spark, sf_dir).select("doc_id"))
    payloads = pages.mapInPandas(
        _synth,
        StructType(
            [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
        ),
    )
    prof = media_profile(payloads).select(
        "doc_id",
        F.col("error").isNull().cast("int").alias("ok"),
        "solid",
        "phash_hex",
    )
    survivors = prof.where((F.col("ok") == 1) & (F.col("solid") == 0))
    groups = survivors.groupBy("phash_hex").agg(
        F.count("*").alias("group_size"),
        F.min("doc_id").alias("rep"),
    )
    joined = survivors.join(groups.hint("shuffle_hash"), "phash_hex").select(
        "doc_id",
        F.lit(1).alias("ok"),
        F.lit(0).alias("solid"),
        F.col("group_size").cast("long").alias("group_size"),
        (F.col("doc_id") == F.col("rep")).cast("int").alias("keep"),
    )
    rest = prof.where((F.col("ok") == 0) | (F.col("solid") != 0)).select(
        "doc_id",
        "ok",
        F.coalesce("solid", F.lit(0)).alias("solid"),
        F.lit(None).cast("long").alias("group_size"),
        F.lit(0).alias("keep"),
    )
    return joined.unionByName(rest)


_SQL_MEDIA_PIPELINE = """
WITH base AS (
  SELECT doc_id, doc_id % 29 AS g,
    (doc_id % 13 <> 0)::int AS ok,
    (doc_id % 29 % 7 = 0)::int AS solid
  FROM documents
), surv AS (
  SELECT doc_id, g FROM base WHERE ok = 1 AND solid = 0
), grp AS (
  SELECT g, count(*) AS group_size, min(doc_id) AS rep FROM surv GROUP BY g
)
SELECT b.doc_id,
  CASE WHEN b.ok = 1 AND b.solid = 0 THEN 1 ELSE b.ok END AS ok,
  CASE WHEN b.ok = 0 THEN 0 ELSE b.solid END AS solid,
  CASE WHEN b.ok = 1 AND b.solid = 0 THEN gr.group_size END::bigint
    AS group_size,
  (b.ok = 1 AND b.solid = 0 AND b.doc_id = gr.rep)::int AS keep
FROM base b LEFT JOIN grp gr ON b.g = gr.g
"""


# ---------------------------------------------------------------------------
# image_histogram (round-4 session-20)
# ---------------------------------------------------------------------------


def q_image_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luminance histogram (multimodal.image_histogram) over the same
    per-doc RGB PNG synthesis as image_colors — integer BT.601-ish
    lum = (2r+5g+b)//8 binned 16-way; the oracle restates the histogram
    in closed form over the pixel lattice."""
    import pandas as _pd

    from ..codecs import encode_png

    def _synth(batches):
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w, h = d % 6 + 2, d % 4 + 2
                px = bytearray()
                for y in range(h):
                    for x in range(w):
                        px += bytes((
                            (d + 8 * x) % 256,
                            (2 * d + 16 * y) % 256,
                            (3 * d) % 256,
                        ))
                payloads.append(encode_png(w, h, bytes(px), 2))
            yield _pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StructField,
        StructType,
    )

    pages = _spread(_docs(spark, sf_dir).select("doc_id"))
    payloads = pages.mapInPandas(
        _synth,
        StructType(
            [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
        ),
    )
    return multimodal.image_histogram(payloads)


_SQL_IMAGE_HISTOGRAM = """
WITH px AS (
  SELECT doc_id, (doc_id % 6 + 2)::int AS w, (doc_id % 4 + 2)::int AS h
  FROM documents
), flat AS (
  SELECT doc_id,
    unnest(flatten(list_transform(range(h), y ->
      list_transform(range(w), x ->
        (2 * ((doc_id + 8*x) % 256)
         + 5 * ((2*doc_id + 16*y) % 256)
         + (3*doc_id) % 256) // 8)))) AS lum
  FROM px
)
SELECT doc_id, (lum * 16 // 256)::bigint AS bin,
  count(*)::bigint AS n_px_bin, NULL::varchar AS error
FROM flat GROUP BY doc_id, bin
"""
