"""SQL function surface — the engine's kernels exposed to ``spark.sql``.

The reference's extension surface is "edit config.json + add a service class"
(SURVEY.md §2.10); the rebuild's is ``spark.udf.register``: after
``register_all(spark)`` every extraction kernel is callable from SQL, so the
whole pipeline can be written as a SQL statement over the pages table:

    SELECT url,
           ldos_extract_text(html)   AS extracted_text,
           ldos_extract_fields(ldos_extract_text(html)) AS fields
    FROM pages
    WHERE ldos_token_count(text) > 10

Functions registered (all Arrow-vectorized iterator pandas UDFs or native
expression builders — no row-at-a-time Python):

- ``ldos_extract_page(html)  -> struct(extracted_text, spans, tables, ...)``
- ``ldos_extract_text(html)  -> string`` (extracted_text only — cheaper wire)
- ``ldos_extract_fields(txt) -> struct(<10 reference fields>)``
- ``ldos_clean_text(txt)     -> string`` (K8 golden normalization)
- ``ldos_norm_match(txt)     -> string`` (K16 match-key normalization)
- ``ldos_nfc(txt)            -> string`` (UAX #15 NFC canonicalization)
- ``ldos_shingles(txt, k)    -> TABLE(pos, shingle)`` (Python UDTF, §2.10)
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from ..kernels import clean_text, extract_page, normalize_match_text
from ..stages import extract_fields_udf, extract_page_udf


@pandas_udf(StringType())
def _extract_text_udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    for series in batches:
        yield pd.Series([extract_page(raw)["extracted_text"] for raw in series])


@pandas_udf(StringType())
def _clean_text_udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    for series in batches:
        yield pd.Series([clean_text(t) for t in series])


@pandas_udf(StringType())
def _norm_match_udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    for series in batches:
        yield pd.Series([normalize_match_text(t) for t in series])


@pandas_udf(StringType())
def _nfc_udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    import unicodedata

    for s in batches:
        yield s.map(
            lambda t: unicodedata.normalize("NFC", t) if t is not None else None
        )


class _ShinglesUDTF:
    """Python UDTF (Spark 3.5+ table-function surface, §2.10): expand a
    string into its positional k-shingles. UDTFs are row-at-a-time Python
    — the repo's corpus-scale shingling stays in the codegen path
    (dedup.minhash_bands); this is the declared escape hatch for
    genuinely imperative row→table expansion, exercised over BOUNDED
    inputs (distinct hosts, vocab tables), never raw documents."""

    def eval(self, text: str, k: int):  # noqa: D102 — UDTF contract
        if text is None or k is None or k <= 0:
            return
        for i in range(max(0, len(text) - k + 1)):
            yield i, text[i : i + k]


def register_all(spark: SparkSession) -> None:
    """Register the full SQL function surface on a session (idempotent)."""
    spark.udf.register("ldos_extract_page", extract_page_udf)
    spark.udf.register("ldos_extract_text", _extract_text_udf)
    spark.udf.register("ldos_extract_fields", extract_fields_udf)
    spark.udf.register("ldos_clean_text", _clean_text_udf)
    spark.udf.register("ldos_norm_match", _norm_match_udf)
    spark.udf.register("ldos_nfc", _nfc_udf)
    from pyspark.sql.functions import udtf

    spark.udtf.register(
        "ldos_shingles",
        udtf(_ShinglesUDTF, returnType="pos int, shingle string"),
    )
