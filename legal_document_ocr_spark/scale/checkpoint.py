"""Checkpoint/resume with per-partition lineage + counters (north_rule).

Iceberg-snapshot-style exactly-once on top of plain parquet (the sandbox has
no Iceberg runtime jar — SURVEY.md §7 risk 7; the module keeps the write API
in one place so an Iceberg catalog is a drop-in replacement: commit() maps to
``df.writeTo(table).append()`` + a snapshot, resume to an incremental scan).

Protocol (replaces the reference's pickle-cache skip-if-done behavior at
app/services/ocr_process_service.py:72-79 and its per-row commit/rollback at
app/services/document_service.py:48-50,79):

- each run writes results under ``<base>/runs/run_id=<id>/`` (parquet);
- success is recorded by a single manifest file ``<base>/manifests/<id>.json``
  written AFTER the data — a run without a manifest is invisible, so a killed
  job never yields partial reads (single-writer rename-commit, the same
  atomicity contract an Iceberg snapshot commit gives on a real catalog);
- the manifest carries per-partition lineage + counters (partition_id, rows,
  url min/max; no byte counts), gathered by a second, column-pruned scan
  that reads the just-written files back and groups them by the
  ``partition_id`` column stamped at write time — so the counters describe
  exactly what was committed;
- resume = ``pages.join(done_urls, 'url', 'left_anti')`` — only urls never
  committed are recomputed; re-running a finished job is a no-op.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class CheckpointStore:
    def __init__(self, base_dir: str) -> None:
        self.base_dir = base_dir
        self.runs_dir = os.path.join(base_dir, "runs")
        self.manifest_dir = os.path.join(base_dir, "manifests")
        os.makedirs(self.manifest_dir, exist_ok=True)

    # -- read side ---------------------------------------------------------
    def committed_run_ids(self) -> list[str]:
        return sorted(
            f[: -len(".json")]
            for f in os.listdir(self.manifest_dir)
            if f.endswith(".json")
        )

    # -- maintenance (Iceberg expire_snapshots / remove_orphan_files; the
    # reference's analogue is the pickle-cache TTL GC at
    # app/utils/cache_manager.py:77-97) ------------------------------------
    def expire_snapshots(
        self,
        *,
        retain_last: int | None = None,
        older_than_seconds: float | None = None,
    ) -> list[str]:
        """Expire old snapshots as TIME-TRAVEL TARGETS.

        The store is append-only: every retained snapshot still references
        every earlier run's data files, so expiration deletes NO data — it
        marks old manifests expired, after which ``read_results(as_of=<old>)``
        raises while the current table state (and as-of any retained
        snapshot) is unchanged. Exactly Iceberg ``expire_snapshots``
        semantics: history trimmed, referenced data kept. The LATEST snapshot
        is never expired. Returns the expired run_ids.
        """
        ms = self.manifests()
        if not ms:
            return []
        candidates = ms[:-1]  # newest always retained
        if retain_last is not None:
            candidates = ms[: -max(retain_last, 1)]
        if older_than_seconds is not None:
            cutoff = time.time() - older_than_seconds
            candidates = [
                m
                for m in candidates
                if time.mktime(
                    time.strptime(m["committed_at"], "%Y-%m-%dT%H:%M:%S")
                )
                < cutoff
            ]
        expired = []
        for m in candidates:
            if m.get("expired"):
                continue
            m["expired"] = True
            path = os.path.join(self.manifest_dir, f"{m['run_id']}.json")
            tmp = path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(m, f, indent=2)
            os.rename(tmp, path)
            expired.append(m["run_id"])
        return expired

    def remove_orphan_files(self) -> list[str]:
        """Delete run directories with NO manifest — data written by a run
        that died before its commit (invisible to every reader, pure
        garbage). Iceberg ``remove_orphan_files``; safe at any time because
        commit order is data-then-manifest. Returns removed run_ids."""
        import shutil

        if not os.path.isdir(self.runs_dir):
            return []
        committed = set(self.committed_run_ids())
        removed = []
        for d in os.listdir(self.runs_dir):
            if not d.startswith("run_id="):
                continue
            rid = d[len("run_id="):]
            if rid not in committed:
                shutil.rmtree(os.path.join(self.runs_dir, d))
                removed.append(rid)
        return removed

    def manifests(self) -> list[dict]:
        """All commit manifests in snapshot order (Iceberg snapshot log
        analogue). Ordering key is the monotonically increasing
        ``snapshot_seq`` stamped at commit (single-writer), with run_id as a
        deterministic tiebreak for legacy manifests without one."""
        out = []
        for rid in self.committed_run_ids():
            with open(os.path.join(self.manifest_dir, f"{rid}.json")) as f:
                out.append(json.load(f))
        return sorted(out, key=lambda m: (m.get("snapshot_seq", 0), m["run_id"]))

    def read_results(
        self, spark: SparkSession, as_of: str | int | None = None
    ) -> DataFrame | None:
        """Rows from committed runs only (uncommitted data is invisible).

        ``as_of`` = time travel (Iceberg ``VERSION AS OF`` analogue): a
        run_id or a snapshot_seq — only runs committed up to and including
        that snapshot are read.
        """
        ms = self.manifests()
        if as_of is not None:
            cut = [
                i
                for i, m in enumerate(ms)
                if m["run_id"] == as_of or m.get("snapshot_seq") == as_of
            ]
            if not cut:
                raise ValueError(f"unknown snapshot {as_of!r}")
            if ms[cut[0]].get("expired"):
                raise ValueError(f"snapshot {as_of!r} has been expired")
            ms = ms[: cut[0] + 1]
        if not ms:
            return None
        paths = [
            os.path.join(self.runs_dir, f"run_id={m['run_id']}") for m in ms
        ]
        return spark.read.parquet(*paths)

    def done_urls(self, spark: SparkSession) -> DataFrame | None:
        results = self.read_results(spark)
        return None if results is None else results.select("url").distinct()

    def filter_pending(self, pages: DataFrame) -> DataFrame:
        """Resume anti-join: keep only urls not yet committed."""
        done = self.done_urls(pages.sparkSession)
        if done is None:
            return pages
        return pages.join(done, "url", "left_anti")

    # -- write side --------------------------------------------------------
    def commit(self, result: DataFrame, run_id: str | None = None) -> dict:
        """Write a run's results + lineage manifest; returns the manifest."""
        run_id = run_id or uuid.uuid4().hex[:12]
        out_dir = os.path.join(self.runs_dir, f"run_id={run_id}")
        staged = result.withColumn("partition_id", F.spark_partition_id())
        staged.write.mode("errorifexists").parquet(out_dir)
        # lineage + counters read back from the just-written files: one cheap
        # column-pruned scan, and the stats describe exactly what was committed
        written = result.sparkSession.read.parquet(out_dir)
        lineage = [
            row.asDict()
            for row in written.groupBy("partition_id")
            .agg(
                F.count("*").alias("rows"),
                F.min("url").alias("url_min"),
                F.max("url").alias("url_max"),
            )
            .orderBy("partition_id")
            .collect()
        ]
        manifest = {
            "run_id": run_id,
            "snapshot_seq": len(self.committed_run_ids()) + 1,
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%S"),
            "total_rows": sum(p["rows"] for p in lineage),
            "partitions": lineage,
        }
        tmp = os.path.join(self.manifest_dir, f".{run_id}.json.tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=2)
        os.rename(tmp, os.path.join(self.manifest_dir, f"{run_id}.json"))
        return manifest


# ---------------------------------------------------------------------------
# real Iceberg runtime (probe-and-run; the stand-in above is the fallback)
# ---------------------------------------------------------------------------


def iceberg_runtime_available() -> bool:
    """True when an iceberg-spark-runtime jar is reachable by the JVM.

    Probe order: ``SPARK_GRAFT_ICEBERG_JAR`` (explicit path), then pyspark's
    bundled jars directory. The gated test in tests/test_scale.py SKIPS —
    never silently passes — when this is False, and exercises
    ``writeTo().append()`` / ``MERGE INTO`` / ``VERSION AS OF`` /
    ``expire_snapshots`` against a local hadoop catalog when True.
    """
    import glob

    explicit = os.environ.get("SPARK_GRAFT_ICEBERG_JAR")
    if explicit:
        return os.path.exists(explicit)
    import pyspark

    return bool(
        glob.glob(
            os.path.join(
                os.path.dirname(pyspark.__file__), "jars", "iceberg-spark-runtime*.jar"
            )
        )
    )


def iceberg_session_conf(warehouse_dir: str, catalog: str = "local") -> dict:
    """Session config for a local hadoop catalog — what build_session needs
    on a jar-equipped cluster (spark.jars / --packages supply the runtime)."""
    return {
        "spark.sql.extensions": (
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
        ),
        f"spark.sql.catalog.{catalog}": "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{catalog}.type": "hadoop",
        f"spark.sql.catalog.{catalog}.warehouse": warehouse_dir,
    }


class IcebergCheckpointStore:
    """The real-catalog implementation of the CheckpointStore sink API.

    Same three-method contract (commit / filter_pending / read_results), so
    swapping the stand-in for a catalog table is a constructor change:

    - ``commit``        -> ``df.writeTo(table).append()`` (one Iceberg
      snapshot == one run manifest; lineage counters come from the same
      groupBy(spark_partition_id()) aggregation);
    - ``filter_pending``-> LEFT ANTI join against the table's url set;
    - ``read_results``  -> plain scan, or time travel via
      ``VERSION AS OF <snapshot_id>`` when ``as_of`` is passed;
    - ``expire_snapshots`` -> the catalog's
      ``system.expire_snapshots`` procedure.

    Only constructed when ``iceberg_runtime_available()`` — the gated test
    is the single caller in this sandbox.
    """

    def __init__(self, spark: SparkSession, table: str) -> None:
        self.spark = spark
        self.table = table

    def snapshot_ids(self) -> list[int]:
        rows = self.spark.sql(
            f"SELECT snapshot_id FROM {self.table}.snapshots "
            "ORDER BY committed_at"
        ).collect()
        return [r["snapshot_id"] for r in rows]

    def commit(self, result: DataFrame, run_id: str | None = None) -> dict:
        staged = result.withColumn("partition_id", F.spark_partition_id())
        staged.writeTo(self.table).append()
        lineage = [
            row.asDict()
            for row in staged.groupBy("partition_id")
            .agg(
                F.count("*").alias("rows"),
                F.min("url").alias("url_min"),
                F.max("url").alias("url_max"),
            )
            .orderBy("partition_id")
            .collect()
        ]
        return {
            "snapshot_id": self.snapshot_ids()[-1],
            "total_rows": sum(p["rows"] for p in lineage),
            "partitions": lineage,
        }

    def read_results(
        self, spark: SparkSession, as_of: int | None = None
    ) -> DataFrame:
        if as_of is None:
            return spark.table(self.table)
        return spark.sql(f"SELECT * FROM {self.table} VERSION AS OF {as_of}")

    def done_urls(self, spark: SparkSession) -> DataFrame:
        return self.read_results(spark).select("url").distinct()

    def filter_pending(self, pages: DataFrame) -> DataFrame:
        return pages.join(self.done_urls(pages.sparkSession), "url", "left_anti")

    def merge_upsert(self, updates: DataFrame, key: str = "url") -> None:
        """MERGE INTO: update matched rows, insert new ones — the row-level
        op the parquet stand-in emulates with snapshot rewrites."""
        updates.createOrReplaceTempView("_merge_src")
        cols = [c for c in updates.columns if c != key]
        sets = ", ".join(f"t.{c} = s.{c}" for c in cols)
        self.spark.sql(
            f"MERGE INTO {self.table} t USING _merge_src s ON t.{key} = s.{key} "
            f"WHEN MATCHED THEN UPDATE SET {sets} "
            f"WHEN NOT MATCHED THEN INSERT *"
        )

    def expire_snapshots(self, retain_last: int) -> None:
        catalog, _, rest = self.table.partition(".")
        self.spark.sql(
            f"CALL {catalog}.system.expire_snapshots("
            f"table => '{rest}', retain_last => {retain_last})"
        )
