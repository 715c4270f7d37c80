"""Registry segment: graph mining, sequence mining, sketch overlap,
skyline, and cross-snapshot novelty (round-4 session-10 additions).

Each entry pairs the Spark operator with a DuckDB oracle that restates the
same deterministic computation (integer/micro arithmetic, md5 hashing,
fixed tuple orderings — the portability contract in queries.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .common import (
    _DOUBLED_SQL as _DOUBLED_SQL_REF,
    _docs,
    _doubled_docs,
    _neardup_docs,
    _tbl,
    _utc,
    _NEARDUP_SQL,
)
from .relational_web import _host_graph_edges

# the deterministic demo host graph (shared verbatim with the pagerank /
# communities / k_core oracles so they can never desynchronize)
_DEMO_EDGES_SQL = """
hosts AS (SELECT DISTINCT source FROM documents),
e AS (
  SELECT source AS src,
    'src' || ((regexp_replace(source, '^src', '')::int
               * regexp_replace(source, '^src', '')::int + 1) % 20) AS dst
  FROM hosts
  UNION
  SELECT source,
    'src' || ((regexp_replace(source, '^src', '')::int * 3 + 1) % 20)
  FROM hosts
)"""


# ---------------------------------------------------------------------------
# triangle_count
# ---------------------------------------------------------------------------


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangles + local clustering coefficient
    (graph.triangle_count: degree-ordered wedge join, shuffle_hash
    throughout) over the deterministic demo host graph. The oracle
    restates the same orientation and wedge-close join."""
    from ..operators.graph import triangle_count

    return triangle_count(_host_graph_edges(spark, sf_dir))


_SQL_TRIANGLE_COUNT = f"""
WITH {_DEMO_EDGES_SQL},
canon AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM e WHERE src <> dst
),
deg AS (
  SELECT node, count(*) AS degree FROM (
    SELECT a AS node FROM canon UNION ALL SELECT b FROM canon
  ) GROUP BY node
),
o AS (
  SELECT
    CASE WHEN (da.degree, canon.a) < (db.degree, canon.b)
         THEN canon.a ELSE canon.b END AS u,
    CASE WHEN (da.degree, canon.a) < (db.degree, canon.b)
         THEN canon.b ELSE canon.a END AS v,
    CASE WHEN (da.degree, canon.a) < (db.degree, canon.b)
         THEN db.degree ELSE da.degree END AS degv
  FROM canon
  JOIN deg da ON canon.a = da.node
  JOIN deg db ON canon.b = db.node
),
w AS (
  SELECT e1.u, e1.v AS x, e2.v AS y
  FROM o e1 JOIN o e2
    ON e1.u = e2.u AND (e1.degv, e1.v) < (e2.degv, e2.v)
),
tri AS (
  SELECT w.u, w.x, w.y FROM w
  WHERE EXISTS (SELECT 1 FROM o WHERE o.u = w.x AND o.v = w.y)
),
corners AS (
  SELECT u AS node FROM tri
  UNION ALL SELECT x FROM tri
  UNION ALL SELECT y FROM tri
),
tc AS (SELECT node, count(*) AS t FROM corners GROUP BY node)
SELECT deg.node, deg.degree::bigint AS degree,
  coalesce(tc.t, 0)::bigint AS triangles,
  CASE WHEN deg.degree >= 2
       THEN floor(coalesce(tc.t, 0) * 2000000
                  / (deg.degree * (deg.degree - 1)))::bigint
       ELSE 0 END AS clustering_micro
FROM deg LEFT JOIN tc USING (node)
"""


# ---------------------------------------------------------------------------
# cocitation_pairs
# ---------------------------------------------------------------------------


def q_cocitation_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-citation similarity (graph.cocitation_pairs: hub-capped
    dst self-join, shuffle_hash, double-IEEE cosine floored to micro)
    over the demo host graph."""
    from ..operators.graph import cocitation_pairs

    return cocitation_pairs(_host_graph_edges(spark, sf_dir))


_SQL_COCITATION_PAIRS = f"""
WITH {_DEMO_EDGES_SQL},
de AS (SELECT DISTINCT src, dst FROM e WHERE src <> dst),
indeg AS (SELECT dst, count(*) AS in_deg FROM de GROUP BY dst),
capped AS (
  SELECT de.src, de.dst FROM de
  JOIN indeg ON de.dst = indeg.dst AND indeg.in_deg <= 1000
),
pairs AS (
  SELECT l.src AS host_a, r.src AS host_b, count(*) AS common
  FROM capped l JOIN capped r ON l.dst = r.dst AND l.src < r.src
  GROUP BY l.src, r.src
),
outdeg AS (SELECT src, count(*) AS n_out FROM de GROUP BY src)
SELECT host_a, host_b, common::bigint AS common,
  floor(common::double * 1000000.0
        / sqrt(oa.n_out::double * ob.n_out))::bigint AS cosine_micro
FROM pairs
JOIN outdeg oa ON pairs.host_a = oa.src
JOIN outdeg ob ON pairs.host_b = ob.src
"""


# ---------------------------------------------------------------------------
# pareto_frontier
# ---------------------------------------------------------------------------


def q_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline over (distinct-token count, n_chars), maximize both
    (relational.pareto_frontier: one short-key shuffle + a window over
    the bounded q-domain maxima table)."""
    from ..operators.relational import pareto_frontier

    scored = _docs(spark, sf_dir).select(
        "doc_id",
        F.size(
            F.array_distinct(F.split(F.trim(F.lower("text")), r"\s+"))
        ).alias("n_types"),
        "n_chars",
    )
    return pareto_frontier(scored, "doc_id", "n_types", "n_chars")


_SQL_PARETO_FRONTIER = """
WITH base AS (
  SELECT doc_id,
    len(list_distinct(
      regexp_split_to_array(trim(lower(text)), '\\s+')))::bigint AS n_types,
    n_chars::bigint AS n_chars
  FROM documents
),
qm AS (SELECT n_types, max(n_chars) AS lmax FROM base GROUP BY n_types),
lv AS (
  SELECT n_types, lmax,
    max(lmax) OVER (ORDER BY n_types DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hi
  FROM qm
),
fr AS (SELECT n_types, lmax FROM lv WHERE hi IS NULL OR lmax > hi)
SELECT b.doc_id, b.n_types, b.n_chars
FROM base b JOIN fr ON b.n_types = fr.n_types AND b.n_chars = fr.lmax
"""


# ---------------------------------------------------------------------------
# kmv_overlap
# ---------------------------------------------------------------------------


def q_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-vocabulary Jaccard via per-source KMV sketches
    (dedup.kmv_source_overlap: WindowGroupLimit k-smallest per source,
    then sketch-sized all-pairs). Each source is salted with a
    source-indexed family of extra tokens so overlap varies by pair —
    the demo corpus otherwise shares one vocabulary."""
    from ..operators.dedup import kmv_source_overlap

    idx = F.regexp_replace("source", "^src", "").cast("int")
    docs = _docs(spark, sf_dir).select(
        "source",
        F.concat(
            F.lower(F.trim("text")),
            F.lit(" xm"),
            F.col("source"),
            F.lit("_"),
            (F.col("doc_id") % ((idx % 6) + 1)).cast("string"),
        ).alias("text"),
    )
    return kmv_source_overlap(docs)


_SQL_KMV_OVERLAP = """
WITH docs2 AS (
  SELECT source,
    lower(trim(text)) || ' xm' || source || '_' ||
      (doc_id % ((regexp_replace(source, '^src', '')::int % 6) + 1)) AS text
  FROM documents
),
tok AS (
  SELECT DISTINCT source,
    unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
  FROM docs2
),
hh AS (
  SELECT DISTINCT source, ('0x' || substr(md5(t), 1, 15))::bigint AS h
  FROM tok
),
rk AS (
  SELECT source, h,
    row_number() OVER (PARTITION BY source ORDER BY h) AS rn
  FROM hh
),
sk AS (
  SELECT source, list(h ORDER BY h) AS mins
  FROM rk WHERE rn <= 64 GROUP BY source
),
p AS (
  SELECT a.source AS src_a, b.source AS src_b,
    a.mins AS ma, b.mins AS mb
  FROM sk a JOIN sk b ON a.source < b.source
),
c AS (
  SELECT src_a, src_b, ma, mb,
    list_sort(list_distinct(list_concat(ma, mb))) AS u
  FROM p
),
d AS (
  SELECT src_a, src_b, ma, mb, least(64, len(u)) AS kk,
    list_slice(u, 1, least(64, len(u))) AS t
  FROM c
),
f AS (
  SELECT src_a, src_b, kk,
    len(list_filter(t,
        x -> list_contains(ma, x) AND list_contains(mb, x))) AS common
  FROM d
)
SELECT src_a, src_b, kk::bigint AS k_used, common::bigint AS n_common,
  floor(common * 1000000 / kk)::bigint AS jaccard_micro
FROM f
"""


# ---------------------------------------------------------------------------
# event_transitions / session_paths / event_bursts
# ---------------------------------------------------------------------------


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transitions between consecutive per-user events
    (sequences.event_transitions: bounded per-user lag window +
    short-key counts)."""
    from ..operators.sequences import event_transitions

    return event_transitions(_tbl(_utc(spark), sf_dir, "events"))


_SQL_EVENT_TRANSITIONS = """
WITH r AS (
  SELECT event_type AS next_type,
    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      AS prev_type
  FROM events
),
p AS (
  SELECT prev_type, next_type, count(*) AS n
  FROM r WHERE prev_type IS NOT NULL GROUP BY prev_type, next_type
),
t AS (SELECT prev_type, sum(n) AS row_total FROM p GROUP BY prev_type)
SELECT p.prev_type, p.next_type, n::bigint AS n,
  floor(n * 1000000 / row_total)::bigint AS prob_micro
FROM p JOIN t USING (prev_type)
"""


def q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top entry paths: first-5 event types per user joined with '>'
    (sequences.session_paths: WindowGroupLimit keeps 5 rows per user
    pre-exchange)."""
    from ..operators.sequences import session_paths

    return session_paths(_tbl(_utc(spark), sf_dir, "events"))


_SQL_SESSION_PATHS = """
WITH r AS (
  SELECT user_id, event_type,
    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
p AS (
  SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path,
    count(*) AS n_steps
  FROM r WHERE rn <= 5 GROUP BY user_id
)
SELECT path, count(*)::bigint AS n_users, n_steps::bigint AS n_steps
FROM p GROUP BY path, n_steps
"""


def q_event_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type daily burst ratios against the trailing-3-observed-day
    baseline (sequences.event_bursts: corpus touched once, windows over
    the bounded type x day counts table)."""
    from ..operators.sequences import event_bursts

    return event_bursts(_tbl(_utc(spark), sf_dir, "events"))


_SQL_EVENT_BURSTS = """
WITH d AS (
  SELECT event_type, ts::date AS day, count(*) AS n
  FROM events GROUP BY event_type, ts::date
),
w AS (
  SELECT event_type, day, n,
    sum(n) OVER (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS baseline_sum,
    row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
  FROM d
)
SELECT event_type, day, n::bigint AS n, baseline_sum::bigint AS baseline_sum,
  floor(n * 3 * 1000000 / baseline_sum)::bigint AS burst_micro
FROM w WHERE rn > 3
"""


# ---------------------------------------------------------------------------
# ngram_novelty
# ---------------------------------------------------------------------------


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot 3-gram novelty (dedup.ngram_novelty: B's per-doc
    grams LEFT ANTI the corpus-sized A gram set, pinned shuffle_hash —
    never broadcast) over the shared neardup corpus: originals are
    snapshot A, the suffix-perturbed copies are snapshot B."""
    from ..operators.dedup import ngram_novelty

    nd = _neardup_docs(spark, sf_dir)
    return ngram_novelty(
        nd.where(F.col("doc_id") < 100000),
        nd.where(F.col("doc_id") >= 100000),
    )


_SQL_NGRAM_NOVELTY = f"""
WITH nd AS ({_NEARDUP_SQL}),
toks AS (
  SELECT doc_id,
    regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
  FROM nd
),
sh AS (
  SELECT doc_id,
    list_distinct(list_transform(
      generate_series(1, greatest(len(toks) - 2, 0)),
      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS grams
  FROM toks
),
bg AS (SELECT doc_id, unnest(grams) AS gram FROM sh WHERE doc_id >= 100000),
ag AS (SELECT DISTINCT unnest(grams) AS gram FROM sh WHERE doc_id < 100000),
tot AS (SELECT doc_id, count(*) AS n_grams FROM bg GROUP BY doc_id),
nov AS (
  SELECT doc_id, count(*) AS n_novel FROM bg
  WHERE NOT EXISTS (SELECT 1 FROM ag WHERE ag.gram = bg.gram)
  GROUP BY doc_id
)
SELECT b.doc_id,
  coalesce(tot.n_grams, 0)::bigint AS n_grams,
  coalesce(nov.n_novel, 0)::bigint AS n_novel,
  CASE WHEN coalesce(tot.n_grams, 0) > 0
       THEN floor(coalesce(nov.n_novel, 0) * 1000000
                  / tot.n_grams)::bigint
       ELSE 0 END AS novelty_micro
FROM (SELECT doc_id FROM nd WHERE doc_id >= 100000) b
LEFT JOIN tot USING (doc_id)
LEFT JOIN nov USING (doc_id)
"""


# ---------------------------------------------------------------------------
# exif_extract
# ---------------------------------------------------------------------------


def q_exif_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL EXIF parse roundtrip (codecs.parse_exif via
    multimodal.exif_extract): synthesize one JPEG-with-APP1 per document
    with make/model/orientation/timestamp/rationals and byte order all
    varying by doc_id, parse the TIFF-structured IFD0 + Exif sub-IFD,
    emit typed metadata. The oracle restates the synthesis closed form
    (construction-based, like tiff_decode)."""
    import pandas as _pd
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StructField,
        StructType,
    )

    from ..codecs import encode_jpeg_exif
    from ..operators.multimodal import exif_extract
    from ..scale.salt import ensure_parallelism

    def _synth(batches):
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                payloads.append(
                    encode_jpeg_exif(
                        {
                            "make": f"Make{d % 5}",
                            "model": f"M-{d % 7}",
                            "orientation": d % 8 + 1,
                            "datetime": f"2024:01:{d % 28 + 1:02d} 12:00:00",
                            "x_resolution": (72 + d % 4, 1),
                            "exposure": (1, d % 200 + 50),
                        },
                        big_endian=d % 2 == 1,
                    )
                )
            yield _pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    pages = ensure_parallelism(_docs(spark, sf_dir).select("doc_id"))
    payloads = pages.mapInPandas(
        _synth,
        StructType(
            [
                StructField("doc_id", LongType()),
                StructField("payload", BinaryType()),
            ]
        ),
    )
    return exif_extract(payloads)


_SQL_EXIF_EXTRACT = """
SELECT doc_id,
  'Make' || (doc_id % 5) AS make,
  'M-' || (doc_id % 7) AS model,
  (doc_id % 8 + 1)::int AS orientation,
  '2024:01:' || lpad((doc_id % 28 + 1)::varchar, 2, '0')
    || ' 12:00:00' AS taken_at,
  ((72 + doc_id % 4) * 1000000)::bigint AS x_resolution_micro,
  (1000000 // (doc_id % 200 + 50))::bigint AS exposure_micro,
  NULL::varchar AS error
FROM documents
"""


# ---------------------------------------------------------------------------
# source_dup_matrix
# ---------------------------------------------------------------------------


def q_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source exact-duplication matrix (dedup.source_dup_matrix:
    hash-keyed self-join of per-family-per-source counts, family_cap
    bounds the quadratic fan-out, shuffle_hash pinned) over documents
    plus one cross-source copy of each (source shifted +1 mod 20), so
    every adjacent source pair shares a known dup family population."""
    from ..operators.dedup import source_dup_matrix

    d = _docs(spark, sf_dir).select("doc_id", "text", "source")
    idx = F.regexp_replace("source", "^src", "").cast("int")
    copies = d.select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        "text",
        F.concat(F.lit("src"), ((idx + 1) % 20).cast("string")).alias(
            "source"
        ),
    )
    return source_dup_matrix(d.unionByName(copies))


_SQL_SOURCE_DUP_MATRIX = """
WITH corpus AS (
  SELECT doc_id, text, source FROM documents
  UNION ALL
  SELECT doc_id + 200000, text,
    'src' || ((regexp_replace(source, '^src', '')::int + 1) % 20)
  FROM documents
),
fam AS (
  SELECT sha256(text) AS h, source, count(*) AS n
  FROM corpus GROUP BY sha256(text), source
),
tot AS (SELECT h, sum(n) AS copies FROM fam GROUP BY h),
capped AS (
  SELECT fam.* FROM fam
  JOIN tot ON fam.h = tot.h AND tot.copies > 1 AND tot.copies <= 64
),
joined AS (
  SELECT a.source AS source_a, b.source AS source_b,
    CASE WHEN a.source = b.source THEN a.n * (a.n - 1) // 2
         ELSE a.n * b.n END AS pairs
  FROM capped a JOIN capped b
    ON a.h = b.h AND a.source <= b.source
)
SELECT source_a, source_b,
  sum(pairs)::bigint AS n_dup_pairs,
  count(*)::bigint AS n_families
FROM joined WHERE pairs > 0
GROUP BY source_a, source_b
"""


# ---------------------------------------------------------------------------
# score_calibration
# ---------------------------------------------------------------------------


def q_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-source percentile calibration of n_chars
    (relational.score_calibration: bounded distribution sketch + one
    shuffle_hash join back — never a cume_dist window over raw rows)."""
    from ..operators.relational import score_calibration

    d = _docs(spark, sf_dir).select("doc_id", "source", "n_chars")
    return score_calibration(d, "source", "n_chars")


_SQL_SCORE_CALIBRATION = """
WITH dist AS (
  SELECT source, n_chars AS v, count(*) AS c
  FROM documents GROUP BY source, n_chars
),
cum AS (
  SELECT source, v,
    floor(sum(c) OVER (PARTITION BY source ORDER BY v) * 1000000
          / sum(c) OVER (PARTITION BY source))::bigint AS pct_micro
  FROM dist
)
SELECT d.doc_id, d.source, d.n_chars, cum.pct_micro
FROM documents d JOIN cum ON d.source = cum.source AND d.n_chars = cum.v
"""


# ---------------------------------------------------------------------------
# compression_ratio — genuinely non-SQL (no DEFLATE in DuckDB): rows-only
# driver check; exactness pinned by the pytest zlib oracle instead.
# ---------------------------------------------------------------------------


def q_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEFLATE compressibility quality gauge (textops.compression_ratio:
    one Arrow-batched mapInPandas stage; text never travels past it)."""
    from ..operators.textops import compression_ratio

    return compression_ratio(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# microdata_extract
# ---------------------------------------------------------------------------


def q_microdata_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """schema.org microdata items (urls.extract_microdata, flat-scope
    lite parse) over a synthesized corpus: every page carries an Article
    item with 1 + doc_id%3 props; even pages add a Product item."""
    from ..operators import urls

    doc_id = F.col("doc_id")
    did = doc_id.cast("string")
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/"),
        F.col("lang"), F.lit("/"), did,
    )
    article = F.concat(
        F.lit('<div itemscope itemtype="https://schema.org/Article">'
              '<span itemprop="name">Doc '),
        did,
        F.lit("</span>"),
        F.repeat(
            F.lit('<span itemprop="p">v</span>'), (doc_id % 3).cast("int")
        ),
        F.lit("</div>"),
    )
    product = F.when(
        doc_id % 2 == 0,
        F.lit('<div itemscope itemtype="https://schema.org/Product">'
              '<span itemprop="sku">S</span></div>'),
    ).otherwise(F.lit(""))
    html = F.encode(
        F.concat(F.lit("<html><body>"), article, product,
                 F.lit("</body></html>")),
        "UTF-8",
    )
    pages = _docs(spark, sf_dir).select(url.alias("url"), html.alias("html"))
    return urls.extract_microdata(pages)


_SQL_MICRODATA_EXTRACT = """
WITH u AS (
  SELECT doc_id,
    'https://' || source || '.example.com/' || lang || '/' || doc_id AS url
  FROM documents
)
SELECT url, 0 AS item_idx,
  'https://schema.org/Article' AS itemtype,
  (1 + doc_id % 3)::int AS n_props
FROM u
UNION ALL
SELECT url, 1 AS item_idx, 'https://schema.org/Product', 1
FROM u WHERE doc_id % 2 = 0
"""


# ---------------------------------------------------------------------------
# wat_records
# ---------------------------------------------------------------------------


def q_wat_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAT metadata records (sources.warc.wat_records) over the template
    pages corpus plus doc_id%4 extra anchors, so the link census varies.
    The oracle restates the record byte-for-byte from the synthesis
    closed form (same contract as wet_records)."""
    from ..sources.pages import synthesize_pages_df
    from ..sources.warc import wat_records

    pages = synthesize_pages_df(_utc(spark), sf_dir)
    doc_id = F.regexp_extract("url", r"/(\d+)$", 1).cast("long")
    html2 = F.encode(
        F.concat(
            F.decode("html", "UTF-8"),
            F.repeat(F.lit('<a href="/x">x</a>'), (doc_id % 4).cast("int")),
        ),
        "UTF-8",
    )
    return wat_records(
        pages.select("url", "warc_ts", html2.alias("html"))
    )


def _sql_wat_records() -> str:
    from ..sources.pages import _TEMPLATE_HEAD, _TEMPLATE_TAIL

    crlf = "chr(13) || chr(10)"
    return f"""
WITH x AS (
  SELECT
    'https://' || source || '.example.com/' || lang || '/' || doc_id AS url,
    make_timestamp((1704067200 + doc_id) * 1000000) AS ts,
    '{_TEMPLATE_HEAD}' || text || '{_TEMPLATE_TAIL}'
      || repeat('<a href="/x">x</a>', (doc_id % 4)::int) AS html,
    (6 + doc_id % 4)::int AS n_links
  FROM documents
),
p AS (
  SELECT url, ts,
    '{{"url":"' || url || '","content_length":'
      || octet_length(encode(html))
      || ',"title":"Synthetic page","n_links":' || n_links || '}}'
      AS payload
  FROM x
)
SELECT url,
  'WARC/1.0' || {crlf}
  || 'WARC-Type: metadata' || {crlf}
  || 'WARC-Target-URI: ' || url || {crlf}
  || 'WARC-Date: ' || strftime(ts, '%Y-%m-%dT%H:%M:%SZ') || {crlf}
  || 'Content-Type: application/json' || {crlf}
  || 'Content-Length: ' || octet_length(encode(payload))
  || {crlf} || {crlf} || payload AS record
FROM p
"""


# ---------------------------------------------------------------------------
# source/sink format matrix: ORC / JSON-lines / CSV (+ malformed isolation)
# ---------------------------------------------------------------------------


def q_orc_sink_readback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + partition-pruned, predicate-pushed read-back (S7's
    contract on the second columnar format): documents written
    partitionBy(lang) as ORC, the lang='en' slice read back with an
    n_chars pushdown filter — pruning + pushdown are plan-asserted in
    tests (same properties as the parquet path; ORC carries its schema
    and min/max strides)."""
    import tempfile

    from ..sources.sink import read_table, write_table

    d = _docs(spark, sf_dir).select("doc_id", "source", "n_chars", "lang")
    path = tempfile.mkdtemp(prefix="ldos-orc-")
    write_table(d, path, "orc", partition_cols=("lang",))
    return (
        read_table(spark, path, "orc")
        .where((F.col("lang") == "en") & (F.col("n_chars") > 100))
        .select("doc_id", "source", "n_chars", "lang")
    )


_SQL_ORC_SINK_READBACK = """
SELECT doc_id, source, n_chars, lang FROM documents
WHERE lang = 'en' AND n_chars > 100
"""


def q_jsonl_sink_readback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink + schema-pinned read-back (the interchange format
    non-Spark consumers ingest): explicit schema on the read — inference
    is a second full pass at 100 TB — then a per-lang aggregate proving
    values survived the round trip."""
    import tempfile

    from ..sources.sink import read_table, write_table

    d = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
    path = tempfile.mkdtemp(prefix="ldos-jsonl-")
    write_table(d, path, "json")
    back = read_table(
        spark, path, "json", schema="doc_id long, lang string, n_chars long"
    )
    return back.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.min("doc_id").cast("long").alias("min_doc"),
    )


_SQL_JSONL_SINK_READBACK = """
SELECT lang, count(*)::bigint AS n_docs, sum(n_chars)::bigint AS sum_chars,
  min(doc_id)::bigint AS min_doc
FROM documents GROUP BY lang
"""


def q_csv_sink_readback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink + schema-pinned read-back with RFC-4180 quoting (quote
    doubling, quoteAll) so embedded commas/quotes can never shear a row;
    header on, schema explicit on the read. Returns the row-level
    round trip (doc_id, lang, text length recomputed from the read-back
    text) — a shifted length would expose any quoting corruption."""
    import tempfile

    from ..sources.sink import read_table, write_table

    d = _docs(spark, sf_dir).select("doc_id", "text", "lang")
    path = tempfile.mkdtemp(prefix="ldos-csv-")
    write_table(
        d, path, "csv",
        options={"header": "true", "quoteAll": "true", "escape": '"'},
    )
    back = read_table(
        spark, path, "csv",
        schema="doc_id long, text string, lang string",
        options={"header": "true", "escape": '"'},
    )
    return back.select(
        "doc_id", "lang", F.length("text").cast("long").alias("rt_chars")
    )


_SQL_CSV_SINK_READBACK = """
SELECT doc_id, lang, length(text)::bigint AS rt_chars FROM documents
"""


def q_csv_parse_isolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_csv over raw CSV-line strings with PERMISSIVE malformed-row
    isolation: every doc_id%13==0 line drops its trailing columns (wrong
    arity), which must surface as NULL fields on that row — not a task
    failure (the CSV analogue of the codec error-column discipline).
    All JVM-side: one from_csv projection, no UDF."""
    d = _docs(spark, sf_dir)
    line = F.when(
        F.col("doc_id") % 13 == 0, F.col("doc_id").cast("string")
    ).otherwise(
        F.concat(
            F.col("doc_id").cast("string"), F.lit(","),
            F.col("lang"), F.lit(","),
            F.col("n_chars").cast("string"),
        )
    )
    parsed = F.from_csv(line, "id LONG, lang STRING, n_chars LONG")
    return d.select(
        "doc_id", parsed.alias("p")
    ).select(
        "doc_id",
        F.col("p.id").alias("id"),
        F.col("p.lang").alias("lang"),
        F.col("p.n_chars").alias("n_chars"),
        F.col("p.lang").isNotNull().cast("int").alias("parse_ok"),
    )


_SQL_CSV_PARSE_ISOLATION = """
SELECT doc_id,
  doc_id AS id,
  CASE WHEN doc_id % 13 = 0 THEN NULL ELSE lang END AS lang,
  CASE WHEN doc_id % 13 = 0 THEN NULL ELSE n_chars END AS n_chars,
  (doc_id % 13 <> 0)::int AS parse_ok
FROM documents
"""


# ---------------------------------------------------------------------------
# neardup_eval — LSH tuning harness
# ---------------------------------------------------------------------------


def q_neardup_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate quality against exact ground truth: recall/precision
    of the banded-MinHash candidate pairs vs the df-capped exact shingle
    Jaccard at threshold 0.5 — the measurement that TUNES (bands, rows)
    before committing a 100 TB dedup run (extraction_eval's pattern
    applied to the dedup family; at scale the truth side runs on a
    sampled slice, the candidate side is the production config). One
    summary row; all three counts are scalar aggregates crossJoin-
    broadcast together."""
    from ..operators import dedup

    corpus = _neardup_docs(spark, sf_dir)
    cand = dedup.minhash_candidate_pairs(corpus)
    truth = dedup.ngram_jaccard_pairs(corpus).select("id_a", "id_b")
    hit = truth.join(cand.hint("shuffle_hash"), ["id_a", "id_b"], "left_semi")
    nc = cand.agg(F.count("*").alias("n_candidates"))
    nt = truth.agg(F.count("*").alias("n_true"))
    nh = hit.agg(F.count("*").alias("n_hit"))
    return (
        nc.crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nh))
        .select(
            F.col("n_candidates").cast("long").alias("n_candidates"),
            F.col("n_true").cast("long").alias("n_true"),
            F.col("n_hit").cast("long").alias("n_hit"),
            F.floor(F.col("n_hit") * 1000000 / F.col("n_true"))
            .cast("long")
            .alias("recall_micro"),
            F.floor(F.col("n_hit") * 1000000 / F.col("n_candidates"))
            .cast("long")
            .alias("precision_micro"),
        )
    )


def _sql_neardup_eval() -> str:
    from .dedup_olap import _sql_minhash_bands

    # extends the shared minhash CTE chain (src/t/sh already defined by it)
    return (
        _sql_minhash_bands(_NEARDUP_SQL)
        + """,
cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM bands l JOIN bands r
    ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
),
e0 AS (
  SELECT doc_id, unnest(list_transform(shingles, s -> md5(s))) AS shingle
  FROM sh
),
dfreq AS (SELECT shingle, count(*) AS c FROM e0 GROUP BY shingle),
e AS (SELECT e0.doc_id, e0.shingle FROM e0 JOIN dfreq USING (shingle)
      WHERE c <= 64),
sizes AS (SELECT doc_id, count(*) AS n FROM e GROUP BY doc_id),
common AS (
  SELECT l.doc_id AS id_a, r.doc_id AS id_b, count(*) AS common
  FROM e l JOIN e r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
  GROUP BY l.doc_id, r.doc_id
),
truth AS (
  SELECT id_a, id_b FROM common
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE round(common / (sa.n + sb.n - common)::double, 6) >= 0.5::double
),
hit AS (SELECT truth.id_a, truth.id_b FROM truth JOIN cand USING (id_a, id_b)),
agg AS (
  SELECT (SELECT count(*) FROM cand) AS n_candidates,
         (SELECT count(*) FROM truth) AS n_true,
         (SELECT count(*) FROM hit) AS n_hit
)
SELECT n_candidates::bigint AS n_candidates, n_true::bigint AS n_true,
  n_hit::bigint AS n_hit,
  floor(n_hit * 1000000 / n_true)::bigint AS recall_micro,
  floor(n_hit * 1000000 / n_candidates)::bigint AS precision_micro
FROM agg
"""
    )


# ---------------------------------------------------------------------------
# shard_manifest — per-shard data cards
# ---------------------------------------------------------------------------


def q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard manifest (data card) over shard_assign's token-balanced
    layout: doc/token counts, language breadth, and an order-independent
    membership digest (decimal sum of per-doc hashes — any dropped or
    duplicated member changes it) — what a training run records per
    output file for audit/resume. The doc_id join-back is shuffle_hash
    (both sides corpus-sized); the manifest itself is shard-count-sized."""
    from ..operators import textops

    shards = textops.shard_assign(_docs(spark, sf_dir))
    langs = _docs(spark, sf_dir).select("doc_id", "lang")
    digest = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
    ).cast("decimal(20,0)")
    return (
        shards.join(langs.hint("shuffle_hash"), "doc_id")
        .groupBy("shard")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("sum_tokens"),
            F.count_distinct("lang").cast("long").alias("n_langs"),
            F.sum(digest).cast("decimal(38,0)").cast("string").alias(
                "member_digest"
            ),
        )
    )


def _sql_shard_manifest() -> str:
    from .filters_sketches import _SQL_SHARD_ASSIGN

    return f"""
SELECT shard, count(*)::bigint AS n_docs,
  sum(sa.n_tokens)::bigint AS sum_tokens,
  count(DISTINCT d.lang)::bigint AS n_langs,
  sum(('0x' || substr(md5(sa.doc_id::varchar), 1, 15))::bigint)::varchar
    AS member_digest
FROM ({_SQL_SHARD_ASSIGN}) sa JOIN documents d ON sa.doc_id = d.doc_id
GROUP BY shard
"""


# ---------------------------------------------------------------------------
# seed_reachability
# ---------------------------------------------------------------------------


def q_seed_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop distance from trusted seeds (graph.seed_reachability, 3 BFS
    rounds, LEFT ANTI first-touch semantics) over the demo host graph;
    seeds are every 7th host. The oracle unrolls the same rounds."""
    from ..operators.graph import seed_reachability

    hosts = _docs(spark, sf_dir).select("source").distinct()
    idx = F.regexp_replace("source", "^src", "").cast("int")
    seeds = hosts.where(idx % 7 == 0).select(F.col("source").alias("node"))
    return seed_reachability(_host_graph_edges(spark, sf_dir), seeds)


def _sql_seed_reachability(max_hops: int = 3) -> str:
    parts = [
        f"""WITH {_DEMO_EDGES_SQL},
de AS (SELECT DISTINCT src, dst FROM e),
l0 AS (
  SELECT DISTINCT source AS node, 0 AS hop FROM documents
  WHERE regexp_replace(source, '^src', '')::int % 7 = 0
)"""
    ]
    for h in range(1, max_hops + 1):
        parts.append(
            f""",
f{h} AS (
  SELECT DISTINCT de.dst AS node, {h} AS hop
  FROM de JOIN l{h-1} l ON de.src = l.node AND l.hop = {h-1}
  WHERE NOT EXISTS (SELECT 1 FROM l{h-1} x WHERE x.node = de.dst)
),
l{h} AS (SELECT * FROM l{h-1} UNION ALL SELECT * FROM f{h})"""
        )
    return "".join(parts) + f"\nSELECT node, hop::int AS hop FROM l{max_hops}"


# ---------------------------------------------------------------------------
# dup_family_histogram / quantile_drift — curation censuses
# ---------------------------------------------------------------------------


def q_dup_family_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication-depth census over the doubled corpus: how many
    content families exist at each copy count, and how many rows the
    dedup pass will delete from each stratum — the number that prices a
    dedup run before it launches (a corpus that is 40% 2-copy families
    dedups very differently from one with a 1e6-copy template). Two
    map-side-combined groupBys on short keys; nothing else."""
    from ..operators.dedup import exact_dups

    fams = exact_dups(_doubled_docs(spark, sf_dir))
    return (
        fams.groupBy(F.col("copies").cast("long").alias("copies"))
        .agg(F.count("*").alias("n_families"))
        .select(
            "copies",
            F.col("n_families").cast("long").alias("n_families"),
            ((F.col("copies") - 1) * F.col("n_families"))
            .cast("long")
            .alias("rows_removed"),
        )
    )


_SQL_DUP_FAMILY_HISTOGRAM = f"""
WITH corpus AS ({{doubled}}),
fams AS (SELECT sha256(text) AS h, count(*) AS copies FROM corpus GROUP BY 1)
SELECT copies::bigint AS copies, count(*)::bigint AS n_families,
  ((copies - 1) * count(*))::bigint AS rows_removed
FROM fams GROUP BY copies
""".replace("{doubled}", _DOUBLED_SQL_REF)


def q_quantile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source length-distribution drift between two snapshots
    (grouped_quantiles on each side + one join): snapshot B is the
    corpus with every doc suffixed — so every quantile shifts by a
    known amount — and the drift gauge is the per-quantile delta. The
    schema-stable way to answer "did this source's page-length profile
    move since the last crawl" without comparing raw rows. Everything
    runs on the bounded distribution sketches."""
    from ..operators.relational import grouped_quantiles

    a = _docs(spark, sf_dir).select("source", "n_chars")
    b = _docs(spark, sf_dir).select(
        "source", (F.col("n_chars") + 18).alias("n_chars")
    )
    qa = grouped_quantiles(a, "source", "n_chars").select(
        "source",
        F.col("q_500000").alias("p50_a"),
        F.col("q_990000").alias("p99_a"),
    )
    qb = grouped_quantiles(b, "source", "n_chars").select(
        "source",
        F.col("q_500000").alias("p50_b"),
        F.col("q_990000").alias("p99_b"),
    )
    return qa.join(qb.hint("shuffle_hash"), "source").select(
        "source", "p50_a", "p50_b", "p99_a", "p99_b",
        (F.col("p50_b") - F.col("p50_a")).cast("long").alias("p50_drift"),
        (F.col("p99_b") - F.col("p99_a")).cast("long").alias("p99_drift"),
    )


def _sql_quantile_drift() -> str:
    def side(expr: str, suffix: str) -> str:
        return f"""
dist_{suffix} AS (
  SELECT source, {expr} AS v, count(*) AS c
  FROM documents GROUP BY source, {expr}
),
cum_{suffix} AS (
  SELECT source, v,
    sum(c) OVER (PARTITION BY source ORDER BY v) AS cum,
    sum(c) OVER (PARTITION BY source) AS n
  FROM dist_{suffix}
),
q_{suffix} AS (
  SELECT source,
    min(CASE WHEN cum >= (500000 * n + 999999) // 1000000 THEN v END)
      AS p50_{suffix},
    min(CASE WHEN cum >= (990000 * n + 999999) // 1000000 THEN v END)
      AS p99_{suffix}
  FROM cum_{suffix} GROUP BY source
)"""

    return (
        "WITH " + side("n_chars", "a").lstrip()[0:]
        + "," + side("n_chars + 18", "b")
        + """
SELECT q_a.source,
  p50_a::bigint AS p50_a, p50_b::bigint AS p50_b,
  p99_a::bigint AS p99_a, p99_b::bigint AS p99_b,
  (p50_b - p50_a)::bigint AS p50_drift,
  (p99_b - p99_a)::bigint AS p99_drift
FROM q_a JOIN q_b ON q_a.source = q_b.source
"""
    )


# ---------------------------------------------------------------------------
# hyperball
# ---------------------------------------------------------------------------


def q_hyperball(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperBall ball-size estimation (graph.hyperball, p=6, radius 2)
    over the deterministic demo host graph — per-host approximate
    |B(v,1)| and |B(v,2)| via iterated HLL register merges; the oracle
    unrolls the same two rounds on identical registers."""
    from ..operators.graph import hyperball

    return hyperball(_host_graph_edges(spark, sf_dir))


def _sql_hyperball() -> str:
    def merge(prev: str, cur: str) -> str:
        return f"""{cur} AS (
  SELECT node, reg, max(mx) AS mx FROM (
    SELECT e.src AS node, b.reg, b.mx FROM e JOIN {prev} b ON e.dst = b.node
    UNION ALL SELECT node, reg, mx FROM {prev}
  ) GROUP BY 1, 2
)"""

    def est(ball: str, t: int) -> str:
        return f"""s{t} AS (
  SELECT node, count(*)::bigint AS np,
    sum((1::bigint << (55 - mx)))::bigint AS sp
  FROM {ball} GROUP BY node
),
e{t} AS (
  SELECT node, np, (64 - np)::bigint AS zeros,
    (sp + (64 - np) * (1::bigint << 55))::double
      / 36028797018963968.0::double AS z
  FROM s{t}
),
f{t} AS (
  SELECT node, np, zeros,
    (0.7213::double / (1.0::double + 1.079::double / 64.0::double)
     * 64.0::double * 64.0::double) / z AS e_raw
  FROM e{t}
),
est{t} AS (
  SELECT node, np AS ball{t}_regs,
    floor(CASE WHEN e_raw <= 160.0::double AND zeros > 0
               THEN 64.0::double * ln(64.0::double / zeros::double)
               ELSE e_raw END)::bigint AS ball{t}_est
  FROM f{t}
)"""

    return f"""
WITH {_DEMO_EDGES_SQL},
nodes AS (SELECT src AS node FROM e UNION SELECT dst AS node FROM e),
b0 AS (
  SELECT node, h % 64 AS reg,
    CASE WHEN h // 64 > 0 THEN 55 - length(bin(h // 64)) ELSE 55 END AS mx
  FROM (
    SELECT node, ('0x' || substr(md5(node), 1, 15))::bigint AS h FROM nodes
  )
),
{merge("b0", "b1")},
{merge("b1", "b2")},
{est("b1", 1)},
{est("b2", 2)}
SELECT est1.node, ball1_regs, ball1_est, ball2_regs, ball2_est
FROM est1 JOIN est2 ON est1.node = est2.node
"""


# ---------------------------------------------------------------------------
# bloom_dedup
# ---------------------------------------------------------------------------


def q_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter batch membership (dedup.bloom_membership, m=2^14,
    k=3): the batch is 30% of the corpus with odd doc_ids perturbed, so
    evens are true duplicates, odds measure the false-positive rate the
    filter sizing bought."""
    from ..operators.dedup import bloom_membership

    docs = _docs(spark, sf_dir)
    batch = docs.where(F.col("doc_id") % 10 < 3).select(
        "source",
        F.when(
            F.col("doc_id") % 2 == 1, F.concat(F.col("text"), F.lit(" NEW"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return bloom_membership(docs, batch, m_bits=1 << 14, k=3)


def _sql_bloom_dedup() -> str:
    pos = "(('0x' || substr(md5('{i}|' || text), 1, 15))::bigint % 16384)"
    union = "\n    UNION ALL ".join(
        f"SELECT {pos.format(i=i)} AS pos FROM documents" for i in range(3)
    )
    probes = ",\n    ".join(
        f"{pos.format(i=i)} AS p{i}" for i in range(3)
    )
    return f"""
WITH batch AS (
  SELECT source,
    CASE WHEN doc_id % 2 = 1 THEN text || ' NEW' ELSE text END AS text
  FROM documents WHERE doc_id % 10 < 3
),
filt AS (
  SELECT DISTINCT pos FROM (
    {union}
  )
),
probe AS (
  SELECT source, sha256(text) AS h,
    {probes}
  FROM batch
),
j AS (
  SELECT p.source, p.h,
    CASE WHEN f0.pos IS NOT NULL AND f1.pos IS NOT NULL
          AND f2.pos IS NOT NULL THEN 1 ELSE 0 END AS bloom
  FROM probe p
  LEFT JOIN filt f0 ON p.p0 = f0.pos
  LEFT JOIN filt f1 ON p.p1 = f1.pos
  LEFT JOIN filt f2 ON p.p2 = f2.pos
),
ex AS (SELECT DISTINCT sha256(text) AS h FROM documents)
SELECT j.source, count(*)::bigint AS batch_n,
  sum(j.bloom)::bigint AS bloom_dups,
  sum(CASE WHEN ex.h IS NOT NULL THEN 1 ELSE 0 END)::bigint AS exact_dups,
  sum(CASE WHEN j.bloom = 1 AND ex.h IS NULL THEN 1 ELSE 0 END)::bigint
    AS false_positives
FROM j LEFT JOIN ex ON j.h = ex.h
GROUP BY j.source
"""


# ---------------------------------------------------------------------------
# warc_segments
# ---------------------------------------------------------------------------


def q_warc_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC continuation-record reassembly (warc.reassemble_segments):
    each document ships as 3 segments (thirds of the text, total length
    declared on the last); docs with doc_id % 13 == 0 LOSE segment 2,
    so their reassembly must flag complete=0. The digest ride-along
    proves byte-exact reassembly against the original text."""
    from ..sources.warc import reassemble_segments

    d = _docs(spark, sf_dir).select("doc_id", "text")
    d = d.withColumn("L", F.length("text").cast("long")).withColumn(
        "c1", F.expr("length(text) div 3").cast("long")
    )
    origin = F.concat(F.lit("rec-"), F.col("doc_id").cast("string"))
    s1 = d.select(
        origin.alias("origin_id"),
        F.lit(1).alias("segment_number"),
        F.expr("substring(text, 1, c1)").alias("payload"),
        F.lit(None).cast("long").alias("segment_total_length"),
    )
    s2 = d.where(F.col("doc_id") % 13 != 0).select(
        origin.alias("origin_id"),
        F.lit(2).alias("segment_number"),
        F.expr("substring(text, c1 + 1, c1)").alias("payload"),
        F.lit(None).cast("long").alias("segment_total_length"),
    )
    s3 = d.select(
        origin.alias("origin_id"),
        F.lit(3).alias("segment_number"),
        F.expr("substring(text, 2 * c1 + 1)").alias("payload"),
        F.col("L").alias("segment_total_length"),
    )
    out = reassemble_segments(s1.unionByName(s2).unionByName(s3))
    orig = d.select(
        origin.alias("origin_id"),
        F.sha2(F.col("text"), 256).alias("orig_digest"),
    )
    return (
        out.join(orig.hint("shuffle_hash"), "origin_id")
        .select(
            "origin_id",
            "n_segments",
            "declared_total",
            "complete",
            F.sha2(F.col("assembled"), 256).alias("digest"),
            (F.sha2(F.col("assembled"), 256) == F.col("orig_digest"))
            .cast("int")
            .cast("long")
            .alias("matches"),
        )
    )


_SQL_WARC_SEGMENTS = """
WITH d AS (
  SELECT doc_id, text, length(text)::bigint AS L,
    (length(text) // 3)::bigint AS c1
  FROM documents
),
segs AS (
  SELECT 'rec-' || doc_id AS origin_id, 1::bigint AS seg,
    substr(text, 1, c1) AS p, NULL::bigint AS tot FROM d
  UNION ALL
  SELECT 'rec-' || doc_id, 2::bigint, substr(text, (c1 + 1)::int, c1::int),
    NULL::bigint FROM d WHERE doc_id % 13 <> 0
  UNION ALL
  SELECT 'rec-' || doc_id, 3::bigint, substr(text, (2 * c1 + 1)::int), L
  FROM d
),
g AS (
  SELECT origin_id, count(*)::bigint AS n_segments,
    string_agg(p, '' ORDER BY seg) AS assembled,
    max(tot)::bigint AS declared_total,
    list_sort(list(seg)) AS seglist
  FROM segs GROUP BY origin_id
),
chk AS (
  SELECT origin_id, n_segments,
    coalesce(declared_total, -1)::bigint AS declared_total, assembled,
    CASE WHEN seglist = generate_series(1::bigint, n_segments)
          AND length(assembled)::bigint = declared_total
         THEN 1 ELSE 0 END::bigint AS complete
  FROM g
)
SELECT c.origin_id, c.n_segments, c.declared_total, c.complete,
  sha256(c.assembled) AS digest,
  (sha256(c.assembled) = sha256(d.text))::int::bigint AS matches
FROM chk c JOIN (SELECT 'rec-' || doc_id AS origin_id, text FROM d) d
  ON c.origin_id = d.origin_id
"""


# ---------------------------------------------------------------------------
# schema_evolution
# ---------------------------------------------------------------------------


def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read-back: an early shard written WITHOUT the
    ``lang`` column and a later shard WITH it, read together under
    parquet ``mergeSchema`` — the corpus-lifecycle reality (schemas
    grow; a 100 TB archive is never rewritten to backfill a column).
    Old rows surface lang=NULL and are counted per source; the oracle
    states the same union semantics. Read-time schema merge is a
    FOOTER-only pass — no data is touched until the scan."""
    import tempfile

    from ..sources.sink import read_table, write_table

    d = _docs(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="ldos-evo-")
    write_table(
        d.where(F.col("doc_id") % 2 == 0).select("doc_id", "source", "n_chars"),
        f"{path}/batch=0",
        mode="overwrite",
    )
    write_table(
        d.where(F.col("doc_id") % 2 == 1).select(
            "doc_id", "source", "n_chars", "lang"
        ),
        f"{path}/batch=1",
        mode="overwrite",
    )
    merged = read_table(
        spark, path, options={"mergeSchema": "true", "recursiveFileLookup": "true"}
    )
    return merged.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.col("lang").isNull().cast("int")).cast("long").alias(
            "legacy_rows"
        ),
        F.sum(F.col("lang").isNotNull().cast("int")).cast("long").alias(
            "evolved_rows"
        ),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


_SQL_SCHEMA_EVOLUTION = """
WITH u AS (
  SELECT doc_id, source, n_chars, NULL AS lang FROM documents
  WHERE doc_id % 2 = 0
  UNION ALL
  SELECT doc_id, source, n_chars, lang FROM documents WHERE doc_id % 2 = 1
)
SELECT source, count(*)::bigint AS n_docs,
  sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END)::bigint AS legacy_rows,
  sum(CASE WHEN lang IS NOT NULL THEN 1 ELSE 0 END)::bigint AS evolved_rows,
  sum(n_chars)::bigint AS sum_chars
FROM u GROUP BY source
"""


# ---------------------------------------------------------------------------
# neighborhood_function
# ---------------------------------------------------------------------------


def q_neighborhood_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HyperANF deliverable proper: the global neighborhood function
    N(t) = sum over nodes of |B(v,t)| and the pairs-reachable-within-t
    fraction — the gauge behind 'four degrees of separation' analyses
    and effective-diameter estimates. One short aggregate over the
    per-node hyperball estimates (the corpus-scale work happened in the
    register rounds); all-integer output."""
    from ..operators.graph import hyperball

    hb = hyperball(_host_graph_edges(spark, sf_dir))
    return hb.agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.sum("ball1_est").cast("long").alias("n1_total"),
        F.sum("ball2_est").cast("long").alias("n2_total"),
        F.expr(
            "(sum(ball2_est) * 1000000L) div (count(*) * count(*))"
        )
        .cast("long")
        .alias("reach2_ppm"),
    )


def _sql_neighborhood_function() -> str:
    return f"""
WITH hb AS ({_sql_hyperball()})
SELECT count(*)::bigint AS n_nodes,
  sum(ball1_est)::bigint AS n1_total,
  sum(ball2_est)::bigint AS n2_total,
  ((sum(ball2_est) * 1000000) // (count(*) * count(*)))::bigint
    AS reach2_ppm
FROM hb
"""


# ---------------------------------------------------------------------------
# bucketed_join_readback
# ---------------------------------------------------------------------------


def q_bucketed_join_readback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join (sources.sink.write_bucketed): both sides
    written bucketBy(8, doc_id) + sortBy, read back through the catalog,
    sort-merge-joined with ZERO exchange (plan-asserted in tests) — the
    write-once / join-many layout that kills the dominant repeated
    shuffle at 100 TB."""
    import tempfile

    from ..sources.sink import write_bucketed

    d = _docs(spark, sf_dir)
    base = tempfile.mkdtemp(prefix="ldos-bkt-")
    write_bucketed(
        d.select("doc_id", "source", "n_chars"),
        "ldos_bkt_left",
        base + "/left",
    )
    write_bucketed(
        d.where(F.col("doc_id") % 2 == 0).select("doc_id", "lang"),
        "ldos_bkt_right",
        base + "/right",
    )
    lt = spark.table("ldos_bkt_left")
    rt = spark.table("ldos_bkt_right")
    return lt.join(rt.hint("merge"), "doc_id").select(
        "doc_id", "source", "n_chars", "lang"
    )


_SQL_BUCKETED_JOIN_READBACK = """
SELECT doc_id, source, n_chars, lang FROM documents WHERE doc_id % 2 = 0
"""


def q_event_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-count autocorrelation at lags 1..7 (sequences.event_acf) —
    per-lag equi-joins of the bounded day table, exact bigint moments,
    pinned Pearson expression; UTC-pinned epoch-day buckets."""
    from ..operators.sequences import event_acf

    return event_acf(_tbl(_utc(spark), sf_dir, "events"), max_lag=7)


_SQL_EVENT_ACF = """
WITH counts AS (
  SELECT floor(epoch(ts))::bigint // 86400 AS d, count(*)::bigint AS c
  FROM events GROUP BY 1
),
pairs AS (
  SELECT l.lag, a.c AS x, b.c AS y
  FROM (SELECT unnest([1, 2, 3, 4, 5, 6, 7]) AS lag) l
  JOIN counts a ON true
  JOIN counts b ON a.d + l.lag = b.d
),
m AS (
  SELECT lag::bigint AS lag, count(*)::bigint AS n_pairs,
    sum(x)::bigint AS sx, sum(y)::bigint AS sy,
    sum(x::hugeint * x) AS sxx, sum(y::hugeint * y) AS syy,
    sum(x::hugeint * y) AS sxy
  FROM pairs GROUP BY 1
)
SELECT lag, n_pairs,
  CASE WHEN n_pairs > 1
        AND sqrt(n_pairs::double * sxx::double - sx::double * sx::double)
            * sqrt(n_pairs::double * syy::double - sy::double * sy::double)
            > 0
    THEN floor((n_pairs::double * sxy::double - sx::double * sy::double)
         / (sqrt(n_pairs::double * sxx::double - sx::double * sx::double)
            * sqrt(n_pairs::double * syy::double - sy::double * sy::double))
         * 1000000)::bigint
  ELSE 0 END AS r_micro
FROM m ORDER BY lag
"""


# ---------------------------------------------------------------------------
# cusum_changepoint (round-4 session-15)
# ---------------------------------------------------------------------------


def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline CUSUM level-shift scan over daily event counts
    (sequences.cusum_changepoint) — exact bigint |n·S_k − k·T|
    statistic, ranked on the bounded day table only."""
    from ..operators.sequences import cusum_changepoint

    return cusum_changepoint(_tbl(_utc(spark), sf_dir, "events"), top_k=5)


_SQL_CUSUM_CHANGEPOINT = """
WITH c AS (
  SELECT floor(epoch(ts))::bigint // 86400 AS day, count(*)::bigint AS c
  FROM events GROUP BY 1
),
r AS (
  SELECT day, row_number() OVER (ORDER BY day) AS k,
    sum(c) OVER (ORDER BY day
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM c
),
t AS (SELECT count(*)::bigint AS n_days, sum(c)::bigint AS total FROM c)
SELECT day::bigint AS day, k::bigint AS k, cum::bigint AS cum,
  abs(n_days * cum - k * total)::bigint AS stat
FROM r, t WHERE k < n_days
ORDER BY stat DESC, day ASC LIMIT 5
"""



# ---------------------------------------------------------------------------
# markov_stationary (round-4 session-15)
# ---------------------------------------------------------------------------


def q_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Steady-state event-type distribution via 8 power-iteration
    rounds over the per-user transition matrix
    (sequences.markov_stationary) — decimal-summed mass updates on the
    bounded S x S table."""
    from ..operators.sequences import markov_stationary

    return markov_stationary(_tbl(_utc(spark), sf_dir, "events"), iters=8)


def _sql_markov_stationary(iters: int = 8) -> str:
    ctes = ["""pairs AS (
  SELECT i, j, count(*)::bigint AS c FROM (
    SELECT lag(event_type) OVER (
        PARTITION BY user_id ORDER BY ts, event_id) AS i,
      event_type AS j
    FROM events
  ) WHERE i IS NOT NULL GROUP BY i, j
)""", """tot AS (SELECT i, sum(c)::bigint AS r FROM pairs GROUP BY i)""",
    """tr AS (
  SELECT pairs.i, pairs.j, c, r FROM pairs JOIN tot ON pairs.i = tot.i
)""", """st AS (SELECT DISTINCT event_type AS st FROM events)""",
    """nn AS (SELECT count(*)::bigint AS n FROM st)""",
    """x0 AS (SELECT st, (1.0::double / n::double) AS x FROM st, nn)"""]
    for it in range(1, iters + 1):
        ctes.append(f"""x{it} AS (
  SELECT s.st, coalesce(i.xin, 0.0::double)::double AS x
  FROM st s LEFT JOIN (
    SELECT tr.j AS st2,
      sum(round(x.x * tr.c::double / tr.r::double, 12)
          ::decimal(28,12))::double AS xin
    FROM x{it - 1} x JOIN tr ON x.st = tr.i GROUP BY tr.j
  ) i ON s.st = i.st2
)""")
    return (
        "\nWITH " + ",\n".join(ctes)
        + f"""\nSELECT st AS event_type, floor(x * 1000000)::bigint AS p_micro
FROM x{iters} ORDER BY event_type\n"""
    )


_SQL_MARKOV_STATIONARY = _sql_markov_stationary(8)


# ---------------------------------------------------------------------------
# interarrival_stats (round-4 session-15)
# ---------------------------------------------------------------------------


def q_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type inter-arrival profile with exponential MLE rate
    (sequences.interarrival_stats) — per-(user, type) lag gaps,
    all-integer divisions."""
    from ..operators.sequences import interarrival_stats

    return interarrival_stats(_tbl(_utc(spark), sf_dir, "events"))


_SQL_INTERARRIVAL_STATS = """
WITH g AS (
  SELECT event_type,
    epoch_us(ts) // 1000000
      - lag(epoch_us(ts) // 1000000) OVER (
          PARTITION BY user_id, event_type ORDER BY ts, event_id) AS gap
  FROM events
)
SELECT event_type, count(*)::bigint AS n_gaps, sum(gap)::bigint AS sum_gap,
  CASE WHEN count(*) > 0
    THEN (sum(gap) * 1000000) // count(*) ELSE 0 END::bigint
    AS mean_gap_micro,
  CASE WHEN sum(gap) > 0
    THEN (count(*) * 1000000) // sum(gap) ELSE 0 END::bigint
    AS lambda_micro
FROM g WHERE gap IS NOT NULL GROUP BY event_type ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# random_walks
# ---------------------------------------------------------------------------


def q_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-guided 3-step walks (graph.hash_walks) over the
    demo host graph — the reproducible DeepWalk sampling primitive; each
    step is one min_by transition table + one shuffle_hash join."""
    from ..operators.graph import hash_walks

    return hash_walks(_host_graph_edges(spark, sf_dir).distinct(), steps=3)


_SQL_RANDOM_WALKS = f"""
WITH {_DEMO_EDGES_SQL},
s1 AS (
  SELECT src, arg_min(dst, md5(src || '#1#' || dst)) AS nxt
  FROM e GROUP BY src
),
s2 AS (
  SELECT src, arg_min(dst, md5(src || '#2#' || dst)) AS nxt
  FROM e GROUP BY src
),
s3 AS (
  SELECT src, arg_min(dst, md5(src || '#3#' || dst)) AS nxt
  FROM e GROUP BY src
),
w AS (SELECT DISTINCT src AS start FROM e)
SELECT w.start, a.nxt AS h1, b.nxt AS h2, c.nxt AS h3
FROM w
LEFT JOIN s1 a ON a.src = w.start
LEFT JOIN s2 b ON b.src = a.nxt
LEFT JOIN s3 c ON c.src = b.nxt
"""


# ---------------------------------------------------------------------------
# xml_sink_readback / xml_field_extract / variant_shred
# (round-4 session-19: Spark-4-native semi-structured surfaces)
# ---------------------------------------------------------------------------


def q_xml_sink_readback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native XML datasource sink + schema-pinned read-back (Spark 4's
    built-in XML source — the spark-xml lineage): documents metadata
    written as ``<docs><doc>…</doc></docs>`` part files, read back with an
    explicit schema (inference is a second full pass at 100 TB), then a
    per-lang aggregate proving every value survived the markup round trip
    (the writer's entity escaping is on the hot path for real titles)."""
    import tempfile

    d = _docs(spark, sf_dir).select("doc_id", "lang", "source", "n_chars")
    path = tempfile.mkdtemp(prefix="ldos-xml-")
    (
        d.write.format("xml")
        .option("rootTag", "docs")
        .option("rowTag", "doc")
        .mode("overwrite")
        .save(path)
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "doc")
        .schema("doc_id long, lang string, source string, n_chars long")
        .load(path)
    )
    return back.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.min("doc_id").cast("long").alias("min_doc"),
        F.countDistinct("source").cast("long").alias("n_sources"),
    )


_SQL_XML_SINK_READBACK = """
SELECT lang, count(*)::bigint AS n_docs, sum(n_chars)::bigint AS sum_chars,
  min(doc_id)::bigint AS min_doc, count(DISTINCT source)::bigint AS n_sources
FROM documents GROUP BY lang
"""


def q_xml_field_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``from_xml`` + Hive xpath scalar surface over per-row XML records:
    each doc is serialized to ``<doc id=…><lang/><t/><n/></doc>`` with an
    order-correct entity-escape chain (& first, then angle brackets) on a
    48-char text prefix, parsed back JVM-side with an explicit struct
    schema (``ignoreSurroundingSpaces=false`` — 19% of prefixes carry
    boundary whitespace a default parse would eat), plus ``xpath_long``
    on the numeric element. The oracle states the original fields: any
    escaping or whitespace defect breaks equality. All codegen — no UDF,
    no shuffle before the final projection."""
    d = _docs(spark, sf_dir)
    esc = F.substring("text", 1, 48)
    for raw, ent in (("&", "&amp;"), ("<", "&lt;"), (">", "&gt;")):
        esc = F.replace(esc, F.lit(raw), F.lit(ent))
    xml = F.concat(
        F.lit('<doc id="'),
        F.col("doc_id").cast("string"),
        F.lit('"><lang>'),
        F.col("lang"),
        F.lit("</lang><t>"),
        esc,
        F.lit("</t><n>"),
        F.col("n_chars").cast("string"),
        F.lit("</n></doc>"),
    )
    parsed = F.from_xml(
        xml,
        "lang STRING, t STRING, n LONG",
        {"ignoreSurroundingSpaces": "false"},
    )
    return d.select(
        "doc_id",
        parsed.getField("lang").alias("xlang"),
        parsed.getField("t").alias("xtext"),
        F.expr(
            "xpath_long(concat('<doc><n>', cast(n_chars as string), "
            "'</n></doc>'), '/doc/n')"
        ).alias("xn"),
    )


_SQL_XML_FIELD_EXTRACT = """
SELECT doc_id, lang AS xlang, substr(text, 1, 48) AS xtext,
  n_chars::bigint AS xn
FROM documents
"""


def q_variant_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT shredding over the events JSON payload:
    ``parse_json`` to the binary VARIANT encoding once, then typed path
    extraction (``variant_get`` — hard-fails on type mismatch),
    null-safe probing of an absent path (``try_variant_get`` must yield
    NULL on every row, never a task failure), and ``schema_of_variant``
    pinned to the literal shredded schema. VARIANT is the 100 TB answer
    to ragged telemetry: one binary column, typed access at scan speed,
    no per-key string re-parse."""
    ev = _tbl(spark, sf_dir, "events")
    v = F.parse_json("props")
    k = F.expr("variant_get(parse_json(props), '$.k', 'long')")
    miss = F.expr("try_variant_get(parse_json(props), '$.missing', 'long')")
    rows = ev.select(
        "event_type",
        k.alias("k"),
        miss.alias("m"),
        F.schema_of_variant(v).alias("sch"),
    )
    return rows.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("k") > 50, 1).otherwise(0))
        .cast("long")
        .alias("n_hi"),
        F.min("k").cast("long").alias("k_min"),
        F.max("k").cast("long").alias("k_max"),
        F.sum(F.when(F.col("m").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_missing"),
        F.min("sch").alias("sch"),
    )


_SQL_VARIANT_SHRED = """
SELECT event_type, count(*)::bigint AS n,
  sum(CASE WHEN (props->>'k')::bigint > 50 THEN 1 ELSE 0 END)::bigint
    AS n_hi,
  min((props->>'k')::bigint) AS k_min,
  max((props->>'k')::bigint) AS k_max,
  count(*)::bigint AS n_missing,
  'OBJECT<k: BIGINT>' AS sch
FROM events GROUP BY event_type
"""


def q_variant_explode_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``variant_explode`` TVF over per-event JSON tag arrays: the array
    fan-out half of the VARIANT surface (variant_shred covers typed path
    access). One parse per row, LATERAL explode at the JVM, typed
    extraction from each VARIANT element; per-tag census with per-slot
    counts proves positions survive. The 100 TB shape for ragged tag
    arrays: no from_json schema declaration, no string re-parse per
    element."""
    ev = _tbl(spark, sf_dir, "events")
    j = F.format_string(
        '{"tags":[%d,%d,%d]}',
        F.col("event_id") % 7,
        (F.col("event_id") * 3 + 1) % 11,
        (F.col("event_id") * 5 + 2) % 13,
    )
    ev.select(j.alias("j")).createOrReplaceTempView("_ldos_variant_tags")
    exploded = spark.sql(
        """
        SELECT variant_get(t.value, '$', 'long') AS tag, t.pos AS pos
        FROM _ldos_variant_tags,
        LATERAL variant_explode(variant_get(parse_json(j), '$.tags')) AS t
        """
    )
    return exploded.groupBy("tag").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("pos") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_pos0"),
        F.sum(F.when(F.col("pos") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_pos1"),
        F.sum(F.when(F.col("pos") == 2, 1).otherwise(0))
        .cast("long")
        .alias("n_pos2"),
    )


_SQL_VARIANT_EXPLODE_TAGS = """
WITH tags AS (
  SELECT event_id % 7 AS tag, 0 AS pos FROM events
  UNION ALL SELECT (event_id * 3 + 1) % 11, 1 FROM events
  UNION ALL SELECT (event_id * 5 + 2) % 13, 2 FROM events
)
SELECT tag::bigint AS tag, count(*)::bigint AS n,
  sum(CASE WHEN pos = 0 THEN 1 ELSE 0 END)::bigint AS n_pos0,
  sum(CASE WHEN pos = 1 THEN 1 ELSE 0 END)::bigint AS n_pos1,
  sum(CASE WHEN pos = 2 THEN 1 ELSE 0 END)::bigint AS n_pos2
FROM tags GROUP BY tag
"""


def q_session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in ``session_window`` aggregation (the scalable sessionizer:
    a special merging aggregate — one shuffle on user_id, NO
    full-partition sort window, exactly what sessionize_events' lag
    formulation is the oracle shape for). 30-minute gap; sessions merge
    while the next event lands strictly inside the previous window end,
    microsecond-exact. Value sums go through cents-integers (the float
    portability discipline)."""
    _utc(spark)
    ev = _tbl(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("value_cents"),
        )
        .select(
            "user_id",
            F.unix_timestamp(F.col("session_window.start"))
            .cast("long")
            .alias("start_sec"),
            "n_events",
            "value_cents",
        )
    )


_SQL_SESSION_WINDOW_AGG = """
WITH e AS (
  SELECT user_id, event_id, ts, value,
    CASE WHEN lag(ts) OVER w IS NULL
           OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
         THEN 1 ELSE 0 END AS is_break
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts, value,
    sum(is_break) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM e
)
SELECT user_id, floor(epoch(min(ts)))::bigint AS start_sec,
  count(*)::bigint AS n_events,
  sum(round(value * 100)::bigint)::bigint AS value_cents
FROM s GROUP BY user_id, sid
"""


def q_udtf_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (§2.10 — the table-function third of the
    UDF/UDAF/UDTF contract): ``ldos_shingles`` LATERAL-expands each
    DISTINCT host into positional 3-shingles, then a shingle census.
    Scale discipline: the UDTF runs over the bounded distinct-host table
    (20 rows), never the corpus — corpus-scale shingling stays in the
    codegen minhash path."""
    from ..functions.register import register_all

    register_all(spark)
    docs = _docs(spark, sf_dir)
    docs.select("source").distinct().createOrReplaceTempView(
        "_ldos_udtf_hosts"
    )
    return spark.sql(
        """
        SELECT shingle, count(*) AS n, min(source) AS min_source,
               min(pos) AS min_pos
        FROM _ldos_udtf_hosts, LATERAL ldos_shingles(source, 3)
        GROUP BY shingle
        """
    ).select(
        "shingle",
        F.col("n").cast("long").alias("n"),
        "min_source",
        F.col("min_pos").cast("long").alias("min_pos"),
    )


_SQL_UDTF_SHINGLES = """
WITH hosts AS (SELECT DISTINCT source FROM documents),
sh AS (
  SELECT source, i AS pos, substr(source, i + 1, 3) AS shingle
  FROM hosts, LATERAL unnest(range(0, greatest(len(source) - 2, 0)))
    AS t(i)
)
SELECT shingle, count(*)::bigint AS n, min(source) AS min_source,
  min(pos)::bigint AS min_pos
FROM sh GROUP BY shingle
"""


def q_bloom_sink_readback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet bloom-filter sink: doc_id carries a written bloom filter
    (`parquet.bloom.filter.enabled#doc_id`) so 100 TB point-in-set
    probes skip row groups whose filter says "definitely absent" —
    min/max strides can't prune high-cardinality ids that span every
    stride. The readback runs exactly that shape (IN-list lookup);
    bloom presence itself is pinned by the footprint test in
    tests/test_scale.py (pyarrow here predates bloom metadata
    accessors, so presence is asserted via the written-size delta)."""
    import tempfile

    docs = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
    path = tempfile.mkdtemp(prefix="ldos-bloom-")
    (
        docs.write.option("parquet.bloom.filter.enabled#doc_id", "true")
        .option("parquet.bloom.filter.expected.ndv#doc_id", "1000000")
        .mode("overwrite")
        .parquet(path)
    )
    back = spark.read.parquet(path)
    return back.where(
        F.col("doc_id").isin([7, 42, 137, 404, 499])
    ).select("doc_id", "lang", "n_chars")


_SQL_BLOOM_SINK_READBACK = """
SELECT doc_id, lang, n_chars FROM documents
WHERE doc_id IN (7, 42, 137, 404, 499)
"""


# ---------------------------------------------------------------------------
# measurements_extract / quote_mining (round-4 session-20)
# ---------------------------------------------------------------------------


def q_measurements_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity mining (textops.measurements_extract) over text with
    injected '<n> km' / '<n> MB' mentions — integer SI normalization
    (km->m, MB->bytes), per-(source, family) rollup; the oracle runs the
    same RE2-compatible extraction and CASE-ladder normalization."""
    from ..operators.textops import measurements_extract

    d = _docs(spark, sf_dir).select(
        "source",
        F.concat(
            F.col("text"),
            F.lit(" spec "),
            (F.col("doc_id") % 50).cast("string"),
            F.lit(" km and "),
            (F.col("doc_id") % 20).cast("string"),
            F.lit(" MB"),
        ).alias("text"),
    )
    return measurements_extract(d)


_SQL_MEASUREMENTS_EXTRACT = r"""
WITH d AS (
  SELECT source,
    text || ' spec ' || (doc_id % 50) || ' km and ' || (doc_id % 20)
         || ' MB' AS text
  FROM documents
),
ex AS (
  SELECT source,
    unnest(regexp_extract_all(text, '(\d+) (km|kg|GB|MB|KB|m|g)\b')) AS m
  FROM d
),
p AS (
  SELECT source,
    regexp_extract(m, '(\d+) (km|kg|GB|MB|KB|m|g)\b', 1)::bigint AS v,
    regexp_extract(m, '(\d+) (km|kg|GB|MB|KB|m|g)\b', 2) AS u
  FROM ex
),
n AS (
  SELECT source,
    CASE u WHEN 'km' THEN 'm' WHEN 'm' THEN 'm'
           WHEN 'kg' THEN 'g' WHEN 'g' THEN 'g' ELSE 'B' END AS unit_si,
    v * CASE u WHEN 'km' THEN 1000 WHEN 'kg' THEN 1000
               WHEN 'GB' THEN 1073741824 WHEN 'MB' THEN 1048576
               WHEN 'KB' THEN 1024 ELSE 1 END AS si
  FROM p
)
SELECT source, unit_si, count(*)::bigint AS n_mentions,
  sum(si)::bigint AS total_si, max(si)::bigint AS max_si
FROM n GROUP BY 1, 2
"""


def q_quote_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attributed-quote mining (textops.quote_mining): every doc plants
    one '"…," said AgentK' pair; every 3rd doc adds an UNattributed
    decoy quote that must not match."""
    from ..operators.textops import quote_mining

    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(' "Quality over quantity always," said Agent'),
            (F.col("doc_id") % 9).cast("string"),
            F.lit("."),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.lit(' "This decoy has no attribution."'),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return quote_mining(d)


_SQL_QUOTE_MINING = r"""
WITH d AS (
  SELECT doc_id,
    text || ' "Quality over quantity always," said Agent'
         || (doc_id % 9) || '.'
         || CASE WHEN doc_id % 3 = 0
                 THEN ' "This decoy has no attribution."' ELSE '' END AS text
  FROM documents
),
ex AS (
  SELECT doc_id,
    unnest(regexp_extract_all(text,
      '"([^"]{10,})," said ([A-Za-z0-9]+)')) AS m,
    unnest(range(len(regexp_extract_all(text,
      '"([^"]{10,})," said ([A-Za-z0-9]+)'))))::bigint AS quote_idx
  FROM d
)
SELECT doc_id, quote_idx,
  regexp_extract(m, '"([^"]{10,})," said ([A-Za-z0-9]+)', 1) AS quote,
  regexp_extract(m, '"([^"]{10,})," said ([A-Za-z0-9]+)', 2) AS speaker
FROM ex
"""


# ---------------------------------------------------------------------------
# harmonic_centrality (round-4 session-20)
# ---------------------------------------------------------------------------


def q_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact truncated harmonic centrality (graph.harmonic_centrality,
    3 hops, all-integer x6 output) over the demo host graph — the
    validation twin of ``hyperball``'s sketched ball sizes; the oracle
    unrolls the same per-origin first-touch rounds."""
    from ..operators.graph import harmonic_centrality

    return harmonic_centrality(_host_graph_edges(spark, sf_dir))


def _sql_harmonic_centrality(max_hops: int = 3) -> str:
    parts = [
        f"""WITH {_DEMO_EDGES_SQL},
de AS (SELECT DISTINCT src, dst FROM e),
l0 AS (SELECT DISTINCT src AS origin, src AS node, 0 AS hop FROM de)"""
    ]
    prev_front, prev_lab = "l0", "l0"
    for h in range(1, max_hops + 1):
        parts.append(
            f""",
f{h} AS (
  SELECT DISTINCT l.origin, de.dst AS node, {h} AS hop
  FROM {prev_front} l JOIN de ON de.src = l.node
  WHERE NOT EXISTS (
    SELECT 1 FROM {prev_lab} x
    WHERE x.origin = l.origin AND x.node = de.dst
  )
),
l{h} AS (SELECT * FROM {prev_lab} UNION ALL SELECT * FROM f{h})"""
        )
        prev_front, prev_lab = f"f{h}", f"l{h}"
    fronts = " UNION ALL ".join(
        f"SELECT * FROM f{h}" for h in range(1, max_hops + 1)
    )
    parts.append(
        f""",
reached AS ({fronts}),
per AS (
  SELECT node,
    sum(CASE WHEN hop = 1 THEN 1 ELSE 0 END)::bigint AS n1,
    sum(CASE WHEN hop = 2 THEN 1 ELSE 0 END)::bigint AS n2,
    sum(CASE WHEN hop = 3 THEN 1 ELSE 0 END)::bigint AS n3
  FROM reached GROUP BY node
)
SELECT node, n1, n2, n3,
  (6 * n1 + 3 * n2 + 2 * n3)::bigint AS harmonic_x6
FROM per"""
    )
    return "".join(parts)


# ---------------------------------------------------------------------------
# bowtie_membership (round-4 session-20)
# ---------------------------------------------------------------------------


def q_bowtie_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bow-tie decomposition (graph.bowtie_membership, Broder WWW'00)
    of the demo host graph relative to the every-7th-host pivot set:
    CORE/IN/OUT/DISC by 3-hop forward and backward reachability; the
    oracle unrolls both BFS directions."""
    from ..operators.graph import bowtie_membership

    hosts = _docs(spark, sf_dir).select("source").distinct()
    idx = F.regexp_replace("source", "^src", "").cast("int")
    pivots = hosts.where(idx % 7 == 0).select(F.col("source").alias("node"))
    return bowtie_membership(_host_graph_edges(spark, sf_dir), pivots)


def _sql_bowtie_membership(max_hops: int = 3) -> str:
    def chain(tag: str, edge_cte: str) -> str:
        parts = [
            f"""{tag}l0 AS (
  SELECT DISTINCT source AS node, 0 AS hop FROM documents
  WHERE regexp_replace(source, '^src', '')::int % 7 = 0
)"""
        ]
        for h in range(1, max_hops + 1):
            parts.append(
                f"""{tag}f{h} AS (
  SELECT DISTINCT d.dst AS node, {h} AS hop
  FROM {edge_cte} d JOIN {tag}l{h-1} l ON d.src = l.node AND l.hop = {h-1}
  WHERE NOT EXISTS (SELECT 1 FROM {tag}l{h-1} x WHERE x.node = d.dst)
),
{tag}l{h} AS (SELECT * FROM {tag}l{h-1} UNION ALL SELECT * FROM {tag}f{h})"""
            )
        return ",\n".join(parts)

    return f"""WITH {_DEMO_EDGES_SQL},
de AS (SELECT DISTINCT src, dst FROM e),
rde AS (SELECT dst AS src, src AS dst FROM de),
nodes AS (SELECT src AS node FROM de UNION SELECT dst FROM de),
{chain('f', 'de')},
{chain('b', 'rde')}
SELECT n.node, fw.hop::bigint AS fwd_hop, bw.hop::bigint AS bwd_hop,
  CASE WHEN fw.hop IS NOT NULL AND bw.hop IS NOT NULL THEN 'CORE'
       WHEN bw.hop IS NOT NULL THEN 'IN'
       WHEN fw.hop IS NOT NULL THEN 'OUT'
       ELSE 'DISC' END AS cls
FROM nodes n
LEFT JOIN fl{max_hops} fw ON fw.node = n.node
LEFT JOIN bl{max_hops} bw ON bw.node = n.node
"""


# ---------------------------------------------------------------------------
# markov_entropy_rate (round-4 session-20)
# ---------------------------------------------------------------------------


def q_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the event-type chain
    (sequences.markov_entropy_rate): π·row-entropy over the bounded
    transition matrix, π from the shared 8-round fixpoint — the
    behavioral-compressibility gauge beside markov_stationary."""
    from ..operators.sequences import markov_entropy_rate

    return markov_entropy_rate(_tbl(_utc(spark), sf_dir, "events"), iters=8)


def _sql_markov_entropy_rate(iters: int = 8) -> str:
    base = _sql_markov_stationary(iters).rsplit("\nSELECT", 1)[0]
    return (
        base
        + f"""
SELECT (SELECT count(*) FROM st)::bigint AS n_states,
  (SELECT count(*) FROM pairs)::bigint AS n_transitions,
  floor(s::double * 1000000)::bigint AS entropy_rate_micro
FROM (
  SELECT sum(round(x.x * (tr.c::double / tr.r::double)
      * round(ln(tr.r::double / tr.c::double), 6), 12)
      ::decimal(28,12)) AS s
  FROM x{iters} x JOIN tr ON x.st = tr.i
)
"""
    )
