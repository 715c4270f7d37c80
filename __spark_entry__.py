"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

The registry itself lives in ``legal_document_ocr_spark.queries`` —
one (Spark callable, DuckDB SQL) pair per implemented operator from
SURVEY.md §2 plus the training-data-pipeline operators (dedup /
similarity / text-analysis / multimodal / streaming).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from legal_document_ocr_spark import queries as _registry
from legal_document_ocr_spark.sources.pages import synthesize_pages_df
from legal_document_ocr_spark.stages import run_extraction


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the full extraction pipeline
    (validate → sha2-dedup → one UDF stage: decode/segment/extract + field
    battery → lineage) over the synthesized Common-Crawl-style pages corpus."""
    pages = synthesize_pages_df(spark, "/root/testdata/sf0.001")
    out = run_extraction(pages, dedup=True, with_fields=True)
    return out.select(
        "url",
        "warc_ts",
        "lang",
        "extracted_text",
        "spans",
        "tables",
        "fields",
        "lineage",
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator (SURVEY.md §2 + training-data ops)."""
    return dict(_registry.SPARK)


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every oracle-expressible query."""
    return dict(_registry.ORACLE)
