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
  url min/max; no byte counts), taken on the driver from the footers of the
  parquet files the write just produced (row counts and column statistics
  of the ``partition_id`` column stamped at write time and of ``url``), so
  the counters describe exactly what was committed and cost no Spark job;
  a file whose footer lacks url statistics (parquet drops them for values
  over 4 KB) has its two columns read back with pyarrow instead;
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
        paths = self._run_paths(as_of)
        return spark.read.parquet(*paths) if paths else None

    def _run_paths(self, as_of: str | int | None = None) -> list[str]:
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
        return [os.path.join(self.runs_dir, f"run_id={m['run_id']}") for m in ms]

    def done_urls(self, spark: SparkSession) -> DataFrame | None:
        paths = self._run_paths()
        if not paths:
            return None
        # a given schema skips parquet schema inference, a Spark job that
        # reads footers on every call (once per streaming trigger)
        return spark.read.schema("url string").parquet(*paths).distinct()

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
        # lineage + counters from the just-written files' footers, on the
        # driver: the write is the run's only Spark job
        lineage = _lineage_from_files(out_dir)
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


def _file_lineage(path: str) -> dict[int, tuple[int, str | None, str | None]]:
    """``{partition_id: (rows, url_min, url_max)}`` of one parquet file.

    A write task writes only its own partition, so a file normally holds a
    single ``partition_id`` and its footer answers everything. A file whose
    footer cannot (no url min/max: a value over parquet's 4 KB statistics
    cap, or only nulls) has its two columns read instead.
    """
    import pyarrow.parquet as pq

    meta = pq.read_metadata(path)
    if not meta.num_rows:  # an empty write leaves one schema-only file
        return {}
    col = {meta.schema.column(j).path: j for j in range(meta.num_columns)}
    groups = [meta.row_group(i) for i in range(meta.num_row_groups)]
    pids = [g.column(col["partition_id"]).statistics for g in groups]
    urls = [g.column(col["url"]).statistics for g in groups]
    if all(s is not None and s.has_min_max for s in pids + urls) and (
        len({s.min for s in pids} | {s.max for s in pids}) == 1
    ):
        return {
            pids[0].min: (
                sum(g.num_rows for g in groups),
                min(s.min for s in urls),
                max(s.max for s in urls),
            )
        }
    table = pq.read_table(path, columns=["partition_id", "url"]).to_pydict()
    out: dict[int, tuple[int, str | None, str | None]] = {}
    for pid, url in zip(table["partition_id"], table["url"]):
        out[pid] = _merge_lineage(out.get(pid), (1, url, url))
    return out


def _merge_lineage(a, b):
    """Combine two ``(rows, url_min, url_max)``; min/max skip nulls, as
    Spark's ``F.min``/``F.max`` do."""
    if a is None:
        return b
    return (
        a[0] + b[0],
        min((u for u in (a[1], b[1]) if u is not None), default=None),
        max((u for u in (a[2], b[2]) if u is not None), default=None),
    )


def _lineage_from_files(out_dir: str) -> list[dict]:
    """Per-partition lineage of a written run, in ``partition_id`` order:
    what ``groupBy("partition_id").agg(count, min(url), max(url))`` over
    the run's files returns. Python string order is code-point order,
    which is the UTF-8 byte order Spark and parquet compare strings by."""
    merged: dict[int, tuple[int, str | None, str | None]] = {}
    for name in sorted(os.listdir(out_dir)):
        if name.startswith(("_", ".")):  # _SUCCESS, .crc: Spark skips them too
            continue
        for pid, part in _file_lineage(os.path.join(out_dir, name)).items():
            merged[pid] = _merge_lineage(merged.get(pid), part)
    return [
        {"partition_id": pid, "rows": rows, "url_min": lo, "url_max": hi}
        for pid, (rows, lo, hi) in sorted(merged.items())
    ]


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
      snapshot == one run manifest; lineage counters come from a
      groupBy(partition_id) over an incremental scan of that snapshot);
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
        before = self.snapshot_ids()
        staged = result.withColumn("partition_id", F.spark_partition_id())
        staged.writeTo(self.table).append()
        snapshot_id = self.snapshot_ids()[-1]
        # lineage from the snapshot just written (an incremental scan of its
        # appended files), not from ``staged``: re-aggregating the un-cached
        # frame would run the whole pipeline a second time
        written = self.spark.read.format("iceberg")
        if before:
            written = written.option("start-snapshot-id", before[-1]).option(
                "end-snapshot-id", snapshot_id
            )
        else:
            written = written.option("snapshot-id", snapshot_id)
        lineage = [
            row.asDict()
            for row in written.load(self.table)
            .groupBy("partition_id")
            .agg(
                F.count("*").alias("rows"),
                F.min("url").alias("url_min"),
                F.max("url").alias("url_max"),
            )
            .orderBy("partition_id")
            .collect()
        ]
        return {
            "snapshot_id": snapshot_id,
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
