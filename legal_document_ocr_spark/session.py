"""SparkSession factory with scale-tuned defaults.

One place for the knobs that matter at 100 TB (and that tests/bench share):
AQE on (runtime partition coalescing + skew-join splitting), Arrow exchange
on, bounded Arrow batches (multi-MB html payloads x default 10k-row batches
would OOM Python workers — SURVEY.md §7 risk 4), UTC session timezone so
timestamp semantics match the DuckDB oracle.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

from .config import ARROW_MAX_RECORDS, validate_config


def _export_package_to_workers() -> None:
    """Make this package importable in Python workers regardless of cwd.

    On a real cluster the package ships via ``spark-submit --py-files``
    (north_rule); in local mode the worker processes inherit PYTHONPATH from
    the driver environment, so we add the package's parent directory there.
    """
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    current = os.environ.get("PYTHONPATH", "")
    if pkg_root not in current.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{current}" if current else pkg_root
        )


def build_session(
    app_name: str = "legal-document-ocr-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    validate_config()  # P2: fail a broken config before any executor work
    _export_package_to_workers()
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    if shuffle_partitions is None:
        n = master[master.index("[") + 1 : -1] if "[" in master else "8"
        shuffle_partitions = 32 if n == "*" else max(8, int(n))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_MAX_RECORDS)
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # managed-table warehouse for bucketed tables (co-located joins);
        # kept out of the repo tree, and fresh per session unless set, so a
        # table location left by a killed earlier run cannot collide
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_WAREHOUSE_DIR")
            or tempfile.mkdtemp(prefix="ldos-warehouse-"),
        )
    )
    return builder.getOrCreate()
