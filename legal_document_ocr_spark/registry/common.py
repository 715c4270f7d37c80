"""Shared helpers for the registry family modules."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _utc(spark: SparkSession) -> SparkSession:
    """Pin the session timezone for epoch-sensitive queries.

    The NTZ->LTZ cast used to get epoch seconds interprets the naive
    timestamp in the SESSION timezone; the DuckDB oracle's epoch() is
    UTC-naive. Our own session factory sets UTC, but the driver's session
    may not — set it at query time (runtime-settable conf)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _tbl(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _as_long(df: DataFrame, *cols: str) -> DataFrame:
    for c in cols:
        df = df.withColumn(c, F.col(c).cast("long"))
    return df


def _doubled_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ exact copies under shifted ids (dedup test corpus)."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    return d.unionByName(d.withColumn("doc_id", F.col("doc_id") + 100000))


def _neardup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ suffix-perturbed copies under shifted ids."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    return d.unionByName(
        d.select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" zulu yankee xray")).alias("text"),
        )
    )


_DOUBLED_SQL = (
    "SELECT doc_id, text FROM documents "
    "UNION ALL SELECT doc_id + 100000, text FROM documents"
)
_NEARDUP_SQL = (
    "SELECT doc_id, text FROM documents UNION ALL "
    "SELECT doc_id + 100000, text || ' zulu yankee xray' FROM documents"
)

# shared SQL fragments ------------------------------------------------------

_CRLF = "(chr(13) || chr(10))"
_TOKS = "regexp_split_to_array(trim(lower(text)), '\\s+')"

# VN corpus closed forms (sources/pages.py synthesize_vn_pages_df)
_VN_BASE = f"""
  SELECT doc_id, text, source,
    CASE (doc_id % 4) WHEN 0 THEN 'CÔNG VĂN' WHEN 1 THEN 'TỜ TRÌNH'
                      WHEN 2 THEN 'QUYẾT ĐỊNH' ELSE 'THÔNG BÁO' END AS dtype,
    ((doc_id % 28) + 1)::varchar AS d,
    ((doc_id % 12) + 1)::varchar AS m,
    (doc_id % 7)::varchar AS k
  FROM documents
"""

# extracted page text for page number :p (lines L1-L8, \r\n-joined)
def _vn_page_text_sql(page_no: str) -> str:
    c = _CRLF
    return (
        f"dtype || {c} || 'Số: ' || doc_id || '/QD-BTC' || {c} || "
        f"'Hà Nội, ngày ' || d || ' tháng ' || m || ' năm 2024' || {c} || "
        f"'Kính gửi: Đơn vị ' || k || {c} || 'NGUYỄN VĂN AN' || {c} || "
        f"'Điện thoại: 0243' || {c} || text || ' trang ' || {page_no} || {c} || "
        f"'V/v kế hoạch ' || doc_id"
    )


# ---------------------------------------------------------------------------
