"""Vectorized Arrow UDF stage + end-to-end pipeline assembly.

The rebuild of the reference's per-page pipeline (app/services/ocr_service.py:
107-148) as Spark stages (SURVEY.md §3.1 "Spark trace"):

    scan -> native filters (P1) -> [salted repartition, salt=True only] ->
    dedup-by-hash -> [UDF stage: decode/normalize K1 + layout-detect
    K2/K5-K7 + text-extract K4/A2 + field battery K9-K13] -> lineage -> sink

Design decisions:
- the heavy work is ONE scalar ITERATOR Arrow UDF (Iterator[pa.Array] ->
  Iterator[pa.Array]) on the dedup'd side: one Python crossing per distinct
  page, Arrow-batched transfer, no pandas; both kernels run in the same
  pass, so the field battery also runs once per distinct payload rather
  than on every copy after the join-back;
- the field battery is pinned to Python ``re`` inside the UDF rather than
  Catalyst ``regexp_extract`` because byte-identical parity with the
  reference requires Python-regex semantics for Vietnamese case folding
  (SURVEY.md §7 risk 1); a Catalyst-native variant of the SQL-safe subset
  lives in operators/textops.py and is oracle-checked;
- cheap predicates stay native and BEFORE the UDF stage — Catalyst will not
  push filters through a Python UDF (SURVEY.md §4), so plan order is the
  pushdown;
- the html binary column is dropped immediately after extraction: column
  pruning of the dominant byte-weight column is the single biggest I/O win.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from .config import ALLOWED_SCHEMES, FIELD_NAMES, MAX_HTML_BYTES
from .kernels import extract_fields, extract_page
from .scale.dedup_compute import dedup_compute
from .scale.salt import ensure_parallelism, salted_repartition

SPAN_TYPE = StructType(
    [
        StructField("x", IntegerType()),
        StructField("y", IntegerType()),
        StructField("w", IntegerType()),
        StructField("h", IntegerType()),
        StructField("kind", StringType()),
        # P8 analogue: per-span extraction confidence (kernels.extract_page)
        StructField("score", DoubleType()),
    ]
)
TABLE_CELL_TYPE = StructType(
    [
        StructField("row", IntegerType()),
        StructField("col", IntegerType()),
        StructField("bbox", ArrayType(IntegerType())),
        StructField("text", StringType()),
    ]
)
PAGE_RESULT_TYPE = StructType(
    [
        StructField("extracted_text", StringType()),
        StructField("spans", ArrayType(SPAN_TYPE)),
        StructField("tables", ArrayType(TABLE_CELL_TYPE)),
        StructField("n_blocks", IntegerType()),
        StructField("n_kept", IntegerType()),
    ]
)
FIELDS_TYPE = StructType([StructField(f, StringType()) for f in FIELD_NAMES])


def _page_udf(with_fields: bool):
    """The page kernel, plus the field battery as a ``fields`` member when
    ``with_fields``, as one Arrow UDF. Both variants are named
    ``extract_page_udf`` in the plan: ``perfbench/ledger.py`` finds the
    UDF node by that name."""
    rtype = (
        StructType([*PAGE_RESULT_TYPE.fields, StructField("fields", FIELDS_TYPE)])
        if with_fields
        else PAGE_RESULT_TYPE
    )
    arrow_type = to_arrow_type(rtype)

    def extract_page_udf(batches: Iterator[pa.Array]) -> Iterator[pa.Array]:
        """decode -> segment -> density filter -> reading-order join
        [-> field battery K9-K13]."""
        for arr in batches:
            pages = [extract_page(raw) for raw in arr.to_pylist()]
            if with_fields:
                for page in pages:
                    page["fields"] = extract_fields(page["extracted_text"])
            yield pa.array(pages, type=arrow_type)

    return arrow_udf(extract_page_udf, rtype)


extract_page_udf = _page_udf(with_fields=False)
_extract_page_fields_udf = _page_udf(with_fields=True)


def valid_pages(pages: DataFrame) -> DataFrame:
    """P1 input validation — native, before any UDF (validation.py:10-11)."""
    scheme_pred = F.col("url").rlike(
        "^(" + "|".join(s.rstrip("://") for s in ALLOWED_SCHEMES) + ")://"
    )
    return pages.filter(
        scheme_pred
        & F.col("html").isNotNull()
        & (F.length("html") <= F.lit(MAX_HTML_BYTES))
    )


DEDUP_AUTO_SAMPLE = 0.02       # sample fraction for the dup-ratio estimate
DEDUP_AUTO_THRESHOLD = 0.95    # distinct_ratio above this -> skip dedup


def estimate_distinct_ratio(
    df: DataFrame, payload_col: str = "html", fraction: float = DEDUP_AUTO_SAMPLE
) -> float:
    """Cheap dup-ratio estimate: distinct/total over a payload sample.

    Scans a sample of the input (hashes only, no shuffle of payloads) — the
    cost that decides whether the dedup payload shuffle is worth paying.
    """
    def ratio_of(frame: DataFrame):
        return frame.agg(
            F.count("*").alias("n"),
            F.approx_count_distinct(F.sha2(F.col(payload_col), 256)).alias("d"),
        ).collect()[0]

    row = ratio_of(df.select(payload_col).sample(fraction=fraction, seed=7))
    if row["n"] < 5000:
        # tiny sample -> estimator variance dominates; exact pass is cheap
        row = ratio_of(df.select(payload_col))
    return 1.0 if not row["n"] else min(1.0, row["d"] / row["n"])


def run_extraction(
    pages: DataFrame,
    *,
    dedup: bool | str = True,
    salt: bool = False,
    salt_partitions: int | None = None,
    with_fields: bool = True,
    checkpoint=None,
) -> DataFrame:
    """The flagship pipeline: pages -> (url, warc_ts, lang, extracted_text,
    spans, tables, n_blocks, n_kept, fields, lineage). ``n_blocks`` /
    ``n_kept`` count the page's text blocks before and after the density
    filter; ``fields`` is present only with ``with_fields=True``.

    ``dedup``: True = always dedup-before-compute; False = never;
    ``"auto"`` = estimate the corpus dup ratio from a payload sample and skip
    the dedup payload shuffle when the corpus is (nearly) duplicate-free —
    on a dup-free corpus dedup shuffles every payload and collapses nothing,
    pure cost; on a Common-Crawl-like corpus it halves the UDF work or more.
    """
    # the input `text` column is not part of the output contract and would
    # otherwise ride through every exchange (dedup join, merge shuffle)
    df = valid_pages(pages).drop("text")
    if checkpoint is not None:
        df = checkpoint.filter_pending(df)
    if salt:
        df = salted_repartition(df, salt_partitions)

    page_udf = _extract_page_fields_udf if with_fields else extract_page_udf

    def compute(distinct: DataFrame) -> DataFrame:
        return distinct.withColumn("_page", page_udf(F.col("html")))

    if dedup == "auto":
        dedup = estimate_distinct_ratio(df) <= DEDUP_AUTO_THRESHOLD
    if dedup:
        # dedup's hash exchange already spreads a narrow input
        extracted = dedup_compute(df, "html", compute)
    else:
        # narrow inputs (single-file local scans) would serialize the UDF
        # stages on one core; no-op when the scan is already parallel
        extracted = compute(df if salt else ensure_parallelism(df))
    # drop the byte-dominant binary column as early as possible
    extracted = extracted.drop("html").select("*", "_page.*").drop("_page")
    return extracted.withColumn(
        "lineage",
        F.struct(
            F.spark_partition_id().alias("partition_id"),
            F.lit("extract").alias("stage"),
            F.current_timestamp().alias("processed_at"),
        ),
    )
