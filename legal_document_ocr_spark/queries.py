"""Query registry: every implemented operator as (Spark callable, DuckDB oracle).

This is the correctness surface consumed by ``__spark_entry__.py``: for each
name, ``SPARK`` holds a ``(spark, sf_dir) -> DataFrame`` callable and
``ORACLE`` the equivalent ANSI SQL DuckDB runs over the same parquet views
(tables ``region nation customer supplier part orders lineitem events
documents embeddings``). The driver compares row-count + schema +
order-insensitive value-hash, with columns sorted by name — so both sides
alias every computed column identically.

Oracle-parity rules used throughout (see operator docstrings for detail):
- extraction oracles are BY CONSTRUCTION: the synthesized pages corpus
  (sources/pages.py) is a pure-Catalyst function of documents.parquet, so the
  oracle states the closed-form expected output rather than re-implementing
  the HTML parser in SQL;
- hashes are md5/sha2 over explicit strings (identical hex in both engines);
- money/int aggregates go through DECIMAL (exact, order-independent), doubles
  are per-row expressions with a pinned evaluation order, rounded to 6 dp;
- DuckDB float literals are DECIMAL — every oracle literal in a double
  expression carries an explicit ``::double``;
- computed ints are cast to bigint on both sides (DuckDB len()/count() are
  BIGINT; Spark size()/row_number() are int).

Both dicts are built from the family modules under ``registry/`` by one
naming rule, so no query is named here: a query ``<name>`` is a function
``q_<name>`` defined in a ``registry/*.py`` module, and its oracle is that
module's ``_SQL_<NAME>`` string or the result of calling its
``_sql_<name>()``. A query with neither gets the driver's rows-only check.
"""

from __future__ import annotations

import importlib
import pkgutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from . import registry

SPARK: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}

for _info in pkgutil.iter_modules(registry.__path__):
    _mod = importlib.import_module(f"{registry.__name__}.{_info.name}")
    for _attr, _fn in list(vars(_mod).items()):
        # a q_ function imported from a sibling family counts where defined
        if not _attr.startswith("q_") or _fn.__module__ != _mod.__name__:
            continue
        _name = _attr[2:]
        if _name in SPARK:
            raise ImportError(f"query {_name!r} is defined in two registry modules")
        SPARK[_name] = _fn
        if hasattr(_mod, f"_SQL_{_name.upper()}"):
            ORACLE[_name] = getattr(_mod, f"_SQL_{_name.upper()}")
        elif hasattr(_mod, f"_sql_{_name}"):
            ORACLE[_name] = getattr(_mod, f"_sql_{_name}")()
