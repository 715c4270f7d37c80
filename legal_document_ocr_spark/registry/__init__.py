"""The query registry, one module per query family.

A query ``<name>`` is a function ``q_<name>(spark, sf_dir) -> DataFrame``
defined in one of these modules (a ``q_`` function imported from a sibling
does not count again). Its DuckDB oracle is the same module's
``_SQL_<NAME>`` string, or the string its ``_sql_<name>()`` returns; with
neither, the query is rows-only. ``legal_document_ocr_spark.queries`` builds
the ``SPARK`` and ``ORACLE`` dicts from this rule alone.
"""
