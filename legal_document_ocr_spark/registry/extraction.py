"""Registry segment: extraction pipeline queries (split from queries.py, bodies unchanged)."""

from __future__ import annotations


from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..merge import merge_documents
from ..operators import dedup, multimodal, relational, similarity, textops
from ..operators.textops import LANG_MARKERS, STOPWORDS, WORD_PATTERN
from ..sources.pages import (
    synthesize_pages_df,
    synthesize_table_pages_df,
    synthesize_vn_pages_df,
    synthesize_vn_split_pages_df,
)
from ..stages import run_extraction

from .common import (
    _CRLF,
    _DOUBLED_SQL,
    _VN_BASE,
    _as_long,
    _doubled_docs,
    _tbl,
    _vn_page_text_sql,
)

# extraction pipeline queries
# ---------------------------------------------------------------------------


def q_extract_main_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: full pipeline on the synthesized template corpus.

    By construction extracted_text == the document's text column (the single
    <main><p> block survives the density filter; all boilerplate is dropped).
    """
    pages = synthesize_pages_df(spark, sf_dir)
    out = run_extraction(pages, dedup=True, with_fields=False)
    return out.select("url", "extracted_text")


_SQL_EXTRACT_MAIN = """
SELECT 'https://' || source || '.example.com/' || lang || '/' || doc_id AS url,
       CASE WHEN length(text) >= 25 THEN text ELSE '' END AS extracted_text
FROM documents
"""


def q_extract_sql_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same flagship extraction driven through the registered SQL
    function surface (functions/register.py) — a pure spark.sql statement."""
    from ..functions import register_all

    register_all(spark)
    synthesize_pages_df(spark, sf_dir).createOrReplaceTempView("pages_sql_v")
    return spark.sql(
        "SELECT url, ldos_extract_text(html) AS extracted_text FROM pages_sql_v"
    )


def q_extract_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = synthesize_pages_df(spark, sf_dir)
    out = run_extraction(pages, dedup=False, with_fields=False)
    return _as_long(
        out.select(
            "url",
            F.size("spans").alias("n_spans"),
            F.length("extracted_text").alias("text_len"),
            F.element_at("spans", 1)["w"].alias("span_w"),
        ),
        "n_spans",
        "text_len",
        "span_w",
    )


# mirrors the density filter (MIN_BLOCK_CHARS=25): a sub-threshold body
# keeps no span, so n_spans=0, extracted_text='' and span_w NULL — same
# guard as _SQL_EXTRACT_MAIN/_SQL_EXPLODE_SPANS (pinned by
# tests/test_pipeline.py short-doc case)
_SQL_EXTRACT_STATS = """
SELECT 'https://' || source || '.example.com/' || lang || '/' || doc_id AS url,
       (CASE WHEN length(text) >= 25 THEN 1 ELSE 0 END)::bigint AS n_spans,
       (CASE WHEN length(text) >= 25 THEN length(text) ELSE 0 END)::bigint
         AS text_len,
       (CASE WHEN length(text) >= 25 THEN length(text) END)::bigint AS span_w
FROM documents
"""


def q_extract_fields_vn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The K9-K13 field battery (Python ``re``, inside the page Arrow UDF) on
    the VN corpus — every field value is a closed-form function of
    (doc_id, text)."""
    pages = synthesize_vn_pages_df(spark, sf_dir, pages_per_doc=1)
    out = run_extraction(pages, dedup=False, with_fields=True)
    return out.select("url", "fields.*")


_SQL_EXTRACT_FIELDS_VN = f"""
WITH t AS ({_VN_BASE})
SELECT
  'https://legal-' || source || '.example.vn/doc' || doc_id || '/p1' AS url,
  dtype AS document_type,
  doc_id::varchar AS document_number,
  'Hà Nội' AS issue_location,
  d || '/' || m || '/2024' AS issue_date,
  dtype AS issuing_agency,
  'Đơn vị ' || k AS recipients,
  NULL::varchar AS recipient_address,
  'NGUYỄN VĂN AN' AS signer,
  dtype || {_CRLF} || 'Số' AS position,
  'kế hoạch ' || doc_id AS subject
FROM t
"""


def q_extract_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-grid extraction (K5-K7) + table shape (A6) on the known 2x3
    table corpus: cells arrive in (row, col) reading order by construction."""
    pages = synthesize_table_pages_df(spark, sf_dir)
    out = run_extraction(pages, dedup=False, with_fields=False)
    return _as_long(
        out.select(
            "url",
            F.size("tables").alias("n_cells"),
            F.size(
                F.array_distinct(F.transform("tables", lambda c: c["row"]))
            ).alias("num_rows"),
            F.size(
                F.array_distinct(F.transform("tables", lambda c: c["col"]))
            ).alias("num_cols"),
            F.md5(
                F.concat_ws(",", F.transform("tables", lambda c: c["text"]))
            ).alias("cells_fp"),
        ),
        "n_cells",
        "num_rows",
        "num_cols",
    )


_SQL_EXTRACT_TABLES = """
SELECT 'https://tables-' || source || '.example.com/' || doc_id AS url,
  6::bigint AS n_cells, 2::bigint AS num_rows, 3::bigint AS num_cols,
  md5('c' || doc_id || 'x00,c' || doc_id || 'x01,c' || doc_id || 'x02,c'
      || doc_id || 'x10,c' || doc_id || 'x11,c' || doc_id || 'x12') AS cells_fp
FROM documents
"""


def q_explode_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3-shaped fan-out: one page row -> N span rows (UDF returns an array,
    F.explode splits it). On the template corpus each page has exactly one
    kept span whose slice equals the whole extracted text."""
    pages = synthesize_pages_df(spark, sf_dir)
    out = run_extraction(pages, dedup=False, with_fields=False)
    exploded = out.select(
        "url", "extracted_text", F.explode("spans").alias("s")
    )
    return _as_long(
        exploded.select(
            "url",
            F.col("s.y").alias("block_index"),
            F.col("s.kind").alias("kind"),
            F.expr(
                "substring(extracted_text, s.x + 1, s.w)"
            ).alias("span_text"),
        ),
        "block_index",
    )


_SQL_EXPLODE_SPANS = """
SELECT 'https://' || source || '.example.com/' || lang || '/' || doc_id AS url,
       2::bigint AS block_index, 'p' AS kind, text AS span_text
FROM documents WHERE length(text) >= 25
"""


def q_span_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8 analogue: filter spans on the per-span extraction-confidence score
    (reference drops conf == -1 OCR entries, ocr_process_service.py:89). On
    the template corpus the single kept span has link_density 0, so
    score == round(min(len/500, 1), 6) — closed form for the oracle."""
    pages = synthesize_pages_df(spark, sf_dir)
    out = run_extraction(pages, dedup=False, with_fields=False)
    s = out.select("url", F.explode("spans").alias("s"))
    return _as_long(
        s.select(
            "url",
            F.col("s.kind").alias("kind"),
            F.col("s.score").alias("score"),
            F.col("s.w").alias("span_w"),
        ).where(F.col("score") >= 0.5),
        "span_w",
    )


_SQL_SPAN_SCORES = """
SELECT 'https://' || source || '.example.com/' || lang || '/' || doc_id AS url,
       'p' AS kind,
       round(least(length(text)::double / 500.0::double, 1.0::double), 6)
         AS score,
       length(text)::bigint AS span_w
FROM documents
WHERE length(text) >= 25
  AND round(least(length(text)::double / 500.0::double, 1.0::double), 6)
      >= 0.5::double
"""


def q_partitioned_sink_readback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 partitioned sink + partition-pruned read-back: extraction output
    written partitionBy(lang), the lang='en' slice read back through the
    pruned scan (pruning is plan-asserted in tests/test_operators.py)."""
    import tempfile

    from ..sources.sink import read_partition, write_partitioned

    pages = synthesize_pages_df(spark, sf_dir)
    out = run_extraction(pages, dedup=False, with_fields=False).select(
        "url", "extracted_text", "lang"
    )
    path = tempfile.mkdtemp(prefix="ldos-sink-")
    write_partitioned(out, path, ("lang",))
    return read_partition(spark, path, lang="en").select(
        "url", "extracted_text", "lang"
    )


_SQL_PARTITIONED_SINK = """
SELECT 'https://' || source || '.example.com/' || lang || '/' || doc_id AS url,
       CASE WHEN length(text) >= 25 THEN text ELSE '' END AS extracted_text,
       lang
FROM documents WHERE lang = 'en'
"""


def q_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus dedup ratio (A4): the metric that sizes the dedup-before-compute
    win. Doubled corpus -> ratio exactly 0.5."""
    d = _doubled_docs(spark, sf_dir)
    return d.agg(
        F.count("*").alias("total_rows"),
        F.count_distinct(F.sha2("text", 256)).alias("distinct_payloads"),
        F.round(
            F.count_distinct(F.sha2("text", 256)) / F.count("*").cast("double"), 6
        ).alias("dedup_ratio"),
    )


_SQL_DEDUP_STATS = f"""
WITH d2 AS ({_DOUBLED_SQL})
SELECT count(*) AS total_rows,
       count(DISTINCT sha256(text)) AS distinct_payloads,
       round(count(DISTINCT sha256(text)) / count(*)::double, 6) AS dedup_ratio
FROM d2
"""


def q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar surface (§2.9): extract props.k, aggregate per bucket."""
    events = _tbl(spark, sf_dir, "events")
    return (
        events.select(
            F.get_json_object("props", "$.k").cast("long").alias("k")
        )
        .groupBy((F.col("k") % 10).alias("k_bucket"))
        .agg(F.count("*").alias("n"), F.min("k").alias("k_min"))
        .orderBy("k_bucket")
    )


_SQL_EVENTS_JSON = """
SELECT (props->>'k')::bigint % 10 AS k_bucket, count(*) AS n,
       min((props->>'k')::bigint) AS k_min
FROM events GROUP BY k_bucket ORDER BY k_bucket
"""


def q_merge_documents_vn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The merge fold (A7/K15, applyInPandas) on 2-page VN documents — both
    pages share ``Số:`` so each source_doc folds into exactly one logical
    document; all K15 re-extracted fields are closed-form."""
    pages = synthesize_vn_pages_df(spark, sf_dir, pages_per_doc=2)
    extracted = run_extraction(pages, dedup=False, with_fields=True)
    merged = merge_documents(extracted)
    return merged.select(
        "source_doc",
        "document_id",
        "document_type",
        "document_number",
        "issue_location",
        "issue_date",
        "issuing_agency",
        "recipients",
        "signer",
        "subject",
        "content",
        F.array_join("page_numbers", ",").alias("page_numbers"),
    )


_SQL_MERGE_VN = f"""
WITH t AS ({_VN_BASE}),
p AS (
  SELECT *, {_vn_page_text_sql("1")} AS p1, {_vn_page_text_sql("2")} AS p2
  FROM t
)
SELECT
  'https://legal-' || source || '.example.vn/doc' || doc_id AS source_doc,
  '1' AS document_id,
  dtype AS document_type,
  doc_id || '/QD-BTC' AS document_number,
  'Hà Nội' AS issue_location,
  d || '/' || m || '/2024' AS issue_date,
  dtype || {_CRLF} || 'Số: ' || doc_id || '/QD-BTC' AS issuing_agency,
  'Đơn vị ' || k || {_CRLF} || 'NGUYỄN VĂN AN' AS recipients,
  NULL::varchar AS signer,
  'kế hoạch ' || doc_id AS subject,
  p1 || chr(10) || chr(10) || p2 AS content,
  '1,2' AS page_numbers
FROM p
"""


def q_merge_split_vn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The merge fold's GROUP BOUNDARY: pages engineered so number equality,
    word overlap and field voting all fail -> exactly two logical documents
    per source_doc, each carrying its own page's fields."""
    pages = synthesize_vn_split_pages_df(spark, sf_dir)
    extracted = run_extraction(pages, dedup=False, with_fields=True)
    merged = merge_documents(extracted)
    return merged.select(
        "source_doc",
        "document_id",
        "document_type",
        "document_number",
        "issue_date",
        "subject",
        F.array_join("page_numbers", ",").alias("page_numbers"),
    )


_SQL_MERGE_SPLIT_VN = """
WITH p AS (
  SELECT doc_id, source, page_no,
    CASE ((doc_id + page_no) % 4) WHEN 0 THEN 'CÔNG VĂN' WHEN 1 THEN 'TỜ TRÌNH'
                                  WHEN 2 THEN 'QUYẾT ĐỊNH' ELSE 'THÔNG BÁO' END
      AS dtype,
    ((doc_id + page_no) % 28 + 1)::varchar AS d,
    ((doc_id + page_no) % 12 + 1)::varchar AS m,
    (doc_id * 10 + page_no)::varchar AS num
  FROM documents
  CROSS JOIN (SELECT unnest(generate_series(1, 2)) AS page_no) g
)
SELECT
  'https://split-' || source || '.example.vn/doc' || doc_id AS source_doc,
  page_no::varchar AS document_id,
  dtype AS document_type,
  num || '/QD-BTC' AS document_number,
  d || '/' || m || '/2024' AS issue_date,
  'kế hoạch ' || doc_id || '.' AS subject,
  page_no::varchar AS page_numbers
FROM p
"""




def q_legal_citations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inline citation extraction (textops.legal_citations) over a
    deterministically synthesized Vietnamese legal corpus: doc_id%3==0
    carries a full Điều/Khoản/Điểm citation plus a Khoản-only second one,
    %3==1 an Điểm-without-Khoản citation next to the 'Điều khoản' decoy
    (no digit — must NOT match), %3==2 no citation at all (emits no
    rows). The oracle builds the identical corpus and unnests the same
    RE2-compatible pattern."""
    d = _tbl(spark, sf_dir, "documents")
    did = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    diem = F.element_at(
        F.array(F.lit("a"), F.lit("b"), F.lit("c"), F.lit("d")),
        (F.pmod(did, 4) + 1).cast("int"),
    )
    full = F.concat(
        F.lit("Căn cứ Điều "), s(F.pmod(did, 90) + 1),
        F.lit(" Khoản "), s(F.pmod(did, 5) + 1),
        F.lit(" Điểm "), diem,
        F.lit(" và Điều "), s(F.pmod(did, 30) + 2),
        F.lit(" Khoản "), s(F.pmod(did, 3) + 1),
        F.lit(", Luật số "), s(did), F.lit("/2020/QH14."),
    )
    partial = F.concat(
        F.lit("Theo Điều "), s(F.pmod(did, 120) + 1),
        F.lit(" Điểm "), diem,
        F.lit(" của Nghị định trên, không theo Điều khoản nào khác."),
    )
    corpus = d.select(
        "doc_id",
        F.when(F.pmod(did, 3) == 0, full)
        .when(F.pmod(did, 3) == 1, partial)
        .otherwise(F.lit("Văn bản này không trích dẫn điều khoản nào."))
        .alias("text"),
    )
    return textops.legal_citations(corpus)


_SQL_LEGAL_CITATIONS = r"""
WITH t AS (
  SELECT doc_id,
    CASE doc_id % 3
      WHEN 0 THEN 'Căn cứ Điều ' || (doc_id % 90 + 1)
        || ' Khoản ' || (doc_id % 5 + 1)
        || ' Điểm ' || chr((97 + doc_id % 4)::int)
        || ' và Điều ' || (doc_id % 30 + 2)
        || ' Khoản ' || (doc_id % 3 + 1)
        || ', Luật số ' || doc_id || '/2020/QH14.'
      WHEN 1 THEN 'Theo Điều ' || (doc_id % 120 + 1)
        || ' Điểm ' || chr((97 + doc_id % 4)::int)
        || ' của Nghị định trên, không theo Điều khoản nào khác.'
      ELSE 'Văn bản này không trích dẫn điều khoản nào.'
    END AS text
  FROM documents
), m AS (
  SELECT doc_id,
    unnest(regexp_extract_all(
      text, 'Điều \d+(?: Khoản \d+)?(?: Điểm [a-d])?')) AS citation,
    unnest(range(len(regexp_extract_all(
      text, 'Điều \d+(?: Khoản \d+)?(?: Điểm [a-d])?')))) AS idx
  FROM t
)
SELECT doc_id, (idx + 1)::int AS ord, citation,
  regexp_extract(citation, 'Điều (\d+)', 1)::int AS dieu,
  nullif(regexp_extract(citation, 'Khoản (\d+)', 1), '')::int AS khoan,
  nullif(regexp_extract(citation, 'Điểm ([a-d])', 1), '') AS diem
FROM m
"""


def q_compaction_readback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction round-trip (sources/sink.compact_partitioned):
    the extraction sink written fragmented (16-way repartition under
    partitionBy(lang) leaves ~16 files per lang dir), compacted to one
    file per partition, read back and summarized with an
    order-independent member digest — the oracle recomputes the same
    digest from the base table, so ANY dropped/duplicated row fails the
    hash match. File-count shrinkage is pinned in pytest."""
    import tempfile

    from ..sources.sink import compact_partitioned

    pages = synthesize_pages_df(spark, sf_dir)
    out = run_extraction(pages, dedup=False, with_fields=False).select(
        "url", "lang"
    )
    frag = tempfile.mkdtemp(prefix="ldos-frag-")
    out.repartition(16).write.partitionBy("lang").mode("overwrite").parquet(
        frag
    )
    comp = compact_partitioned(
        spark, frag, tempfile.mkdtemp(prefix="ldos-comp-"), "lang"
    )
    back = spark.read.parquet(comp)
    digest = F.conv(F.substring(F.md5(F.col("url")), 1, 15), 16, 10).cast(
        "decimal(20,0)"
    )
    return back.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.count_distinct("lang").cast("long").alias("n_langs"),
        F.sum(digest).cast("decimal(38,0)").cast("string").alias(
            "member_digest"
        ),
    )


_SQL_COMPACTION_READBACK = """
WITH u AS (
  SELECT 'https://' || source || '.example.com/' || lang || '/' || doc_id
    AS url, lang
  FROM documents
)
SELECT count(*)::bigint AS n_rows,
  count(DISTINCT lang)::bigint AS n_langs,
  sum(('0x' || substr(md5(url), 1, 15))::bigint)::hugeint::varchar
    AS member_digest
FROM u
"""


def q_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lineage counters via DataFrame.observe (scale/metrics.py): input
    row count, char sum, and per-lang tally ride the SAME job as the
    downstream keep-filter action — zero extra scans (the 100 TB
    contract; a .count() per gauge would re-read the corpus). The
    one-row result fuses the observed metrics with the action's own
    aggregate."""
    from ..scale.metrics import observed_counts

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    observed, obs = observed_counts(
        docs,
        "ldos_input",
        {
            "n_rows": F.count(F.lit(1)),
            "sum_chars": F.sum("n_chars"),
            "n_en": F.count(F.when(F.col("lang") == "en", F.lit(1))),
        },
    )
    kept = (
        observed.where(F.col("n_chars") > 100)
        .agg(F.count("*").alias("k"))
        .collect()[0]["k"]
    )
    m = obs.get
    return spark.createDataFrame(
        [(int(m["n_rows"]), int(m["sum_chars"]), int(m["n_en"]), int(kept))],
        "n_rows long, sum_chars long, n_en long, n_kept long",
    )


_SQL_OBSERVED_METRICS = """
SELECT count(*)::bigint AS n_rows, sum(n_chars)::bigint AS sum_chars,
  sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::bigint AS n_en,
  sum(CASE WHEN n_chars > 100 THEN 1 ELSE 0 END)::bigint AS n_kept
FROM documents
"""


def q_ansi_safety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-mode error-safe scalar battery (the 100 TB contract: one
    hostile row NULLs its own cell, never kills the job — Spark 4 runs
    ANSI by default, so un-tried arithmetic on dirty web data is a task
    failure waiting for the worst partition). Planted per-row hazards:
    div-by-zero (doc_id%5==0), bigint overflow (doc_id%7==0, d>0),
    unparseable int (doc_id%11==0), array index past the end
    (doc_id%4==3). try_element_at protects OOB but NOT index 0 — that
    edge raises by spec and is pinned in tests, so the index expression
    is 1-based by construction."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = F.col("doc_id")
    big = F.lit(9223372036854775807).cast("long")
    return docs.select(
        "doc_id",
        F.try_divide(F.col("n_chars"), d % 5).alias("safe_div"),
        F.try_add(
            F.when(d % 7 == 0, big).otherwise(F.col("n_chars")), d
        ).alias("safe_add"),
        F.try_to_number(
            F.when(d % 11 == 0, F.lit("1x3")).otherwise(
                F.col("n_chars").cast("string")
            ),
            F.lit("999999"),
        )
        .cast("long")
        .alias("safe_num"),
        F.try_element_at(
            F.array(F.lit("a"), F.lit("b"), F.lit("c")),
            (d % 4 + 1).cast("int"),
        ).alias("safe_elem"),
    )


_SQL_ANSI_SAFETY = """
SELECT doc_id,
  CASE WHEN doc_id % 5 = 0 THEN NULL
       ELSE n_chars::double / (doc_id % 5) END AS safe_div,
  CASE WHEN doc_id % 7 = 0 THEN
         (CASE WHEN doc_id > 0 THEN NULL ELSE 9223372036854775807 END)
       ELSE (n_chars + doc_id)::bigint END AS safe_add,
  CASE WHEN doc_id % 11 = 0 THEN NULL ELSE n_chars::bigint END AS safe_num,
  CASE (doc_id % 4 + 1) WHEN 1 THEN 'a' WHEN 2 THEN 'b' WHEN 3 THEN 'c'
       ELSE NULL END AS safe_elem
FROM documents
"""
