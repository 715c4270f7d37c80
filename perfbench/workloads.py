"""The workloads: corpus set-up, one timed pass, and the output check.

Each workload drives the package only through its public functions:
``stages.run_extraction``, ``merge.merge_documents``,
``scale.checkpoint.CheckpointStore`` and
``streaming.pipeline.stream_extraction``. A pass is the unit the timed phase
repeats; ``reset`` restores the input state between passes, untimed.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

from . import corpus, oracle

N_FILES = 16
# Batch workloads write their corpus this many times, each copy's payloads
# marked apart (``corpus.write_pages_table``): the timed passes cycle
# through the copies, so a run averages over as many hash-partition layouts
# instead of repeating one seed-specific layout.
COPIES = 4


@dataclass
class PassResult:
    docs: int
    wall_s: float
    batch_s: list = field(default_factory=list)  # stream: committing batches
    extra: dict = field(default_factory=dict)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def noop_rate(spark, pages_dir: str, warm: bool = False) -> float:
    """docs/s of ``run_extraction`` into ``noop`` over ``pages_dir``; with
    ``warm``, after one untimed pass."""
    from legal_document_ocr_spark.stages import run_extraction

    n = spark.read.parquet(pages_dir).count()
    if warm:
        _noop(run_extraction(spark.read.parquet(pages_dir)))
    t0 = time.perf_counter()
    _noop(run_extraction(spark.read.parquet(pages_dir)))
    return n / (time.perf_counter() - t0)


def _rows(df) -> list[dict]:
    return df.toArrow().to_pylist()


class Workload:
    name = ""

    def __init__(self, bench) -> None:
        self.b = bench
        self.table = os.path.join(bench.tmp, "pages")
        self.pages: list = []
        self.files: list = []
        self.tables: list = [self.table]
        self.passes = 0

    # set-up ---------------------------------------------------------------
    def generate(self) -> None:
        raise NotImplementedError

    def write_tables(self) -> None:
        self.tables = []
        for k in range(COPIES):
            path = self.table if k == 0 else f"{self.table}-{k}"
            shutil.rmtree(path, ignore_errors=True)
            files = corpus.write_pages_table(self.pages, path, N_FILES, copy=k)
            self.files = self.files if k else files
            self.tables.append(path)

    def next_table(self) -> str:
        """The copy the next timed pass reads."""
        self.passes += 1
        return self.tables[self.passes % len(self.tables)]

    def warm_up(self) -> None:
        """Untimed work before the timed phase: it starts the Python
        workers, loads the kernels and fills the caches the timed passes
        then find warm."""
        raise NotImplementedError

    # timed phase ----------------------------------------------------------
    def reset(self) -> None:
        pass

    def run_pass(self) -> PassResult:
        raise NotImplementedError

    # checks ---------------------------------------------------------------
    def verify(self) -> oracle.Verdict:
        """Check the output rows of a full pass against the expectations."""
        raise NotImplementedError

    def recheck(self) -> oracle.Verdict:
        return oracle.recheck_kernels(self.pages, self.b.seed, 40)


class LegalDupMerge(Workload):
    """Small Vietnamese legal pages, half of them byte-identical mirrors,
    merged into documents: dedup, the field battery, the Arrow crossings and
    the merge fold carry the time."""

    name = "legal_dup_merge"
    n_docs = 2000

    def generate(self) -> None:
        self.pages, self.docs = corpus.legal_pages(self.b.seed, self.n_docs)
        self.write_tables()

    def pipeline(self, tr, table: str):
        from legal_document_ocr_spark.merge import merge_documents
        from legal_document_ocr_spark.stages import run_extraction

        with tr.span("sources.read"):
            pages = self.b.spark.read.parquet(table)
        with tr.span("stages.run_extraction"):
            extracted = run_extraction(pages)
        with tr.span("merge.merge_documents"):
            return extracted, merge_documents(extracted)

    def run_pass(self) -> PassResult:
        tr = self.b.tracer
        t0 = time.perf_counter()
        _, merged = self.pipeline(tr, self.next_table())
        with tr.span("sink.noop"):
            _noop(merged)
        return PassResult(len(self.pages), time.perf_counter() - t0)

    def warm_up(self) -> None:
        # two passes: the first pass after a cold one is still measurably
        # slower
        for table in self.tables[:2]:
            _, merged = self.pipeline(self.b.quiet, table)
            _noop(merged)

    def verify(self) -> oracle.Verdict:
        """Collect the rows of the plan the timed passes run, unpersisted,
        from a copy with marked payloads: the extracted pages and the merged
        documents by two separate actions."""
        extracted, merged = self.pipeline(self.b.quiet, self.tables[1])
        out_rows = _rows(extracted.select("url", "extracted_text", "fields"))
        merged_rows = _rows(merged)
        return oracle.check_pages(out_rows, self.pages).add(
            oracle.check_merged(merged_rows, self.docs)
        )

    def recheck(self) -> oracle.Verdict:
        return oracle.recheck_kernels(self.pages, self.b.seed, 40, self.docs)


class TimedStore:
    """A ``CheckpointStore`` whose public calls are timed (and traced)."""

    def __init__(self, store, tracer) -> None:
        self.store = store
        self.tracer = tracer
        self.filter_pending_s: list[float] = []
        self.commits: list[dict] = []  # run_id, rows, seconds

    def filter_pending(self, pages):
        t0 = time.perf_counter()
        with self.tracer.span("checkpoint.filter_pending"):
            out = self.store.filter_pending(pages)
        self.filter_pending_s.append(time.perf_counter() - t0)
        return out

    def commit(self, result, run_id=None):
        t0 = time.perf_counter()
        with self.tracer.span("checkpoint.commit"):
            manifest = self.store.commit(result, run_id=run_id)
        self.commits.append(
            {
                "run_id": manifest["run_id"],
                "rows": manifest["total_rows"],
                "s": time.perf_counter() - t0,
            }
        )
        return manifest


class StreamResume(Workload):
    """Resume of a killed streaming run: 4 files of small crawl pages, the
    first 2 already committed plus one orphaned run directory; the stream
    re-reads all 4 files one per trigger and commits the other 2. Its output
    is checked after the timed phase, from the store."""

    name = "stream_resume"
    # few, large files: each trigger's fixed cost is a small share of the
    # committing batches
    n_files = 4
    per_file = 350
    median_bytes = 3_500

    def __init__(self, bench) -> None:
        super().__init__(bench)
        self.store_dir = os.path.join(bench.tmp, "store")
        self.seed_dir = os.path.join(bench.tmp, "store-seed")
        self.stream_ck = os.path.join(bench.tmp, "stream-ck")
        self.store = None

    def generate(self) -> None:
        self.pages = corpus.crawl_pages(
            self.b.seed, self.n_files * self.per_file, self.median_bytes, host_tag="st"
        )
        shutil.rmtree(self.table, ignore_errors=True)
        self.files = corpus.write_pages_table(self.pages, self.table, self.n_files)

    def warm_up(self) -> None:
        """Stream a few pages into a scratch store (the first streaming query
        of a session pays the engine's start-up), then commit the first half
        of the files, one run per file, and leave a run directory without a
        manifest: the state a killed run leaves. Then resume from it once."""
        from pyspark.sql import functions as F

        from legal_document_ocr_spark.scale.checkpoint import CheckpointStore
        from legal_document_ocr_spark.stages import run_extraction
        from legal_document_ocr_spark.streaming.pipeline import stream_extraction

        spark = self.b.spark
        scratch = os.path.join(self.b.tmp, "warm-stream")
        shutil.rmtree(scratch, ignore_errors=True)
        corpus.write_pages_table(self.pages[:20], os.path.join(scratch, "pages"), 2)
        stream_extraction(
            spark,
            os.path.join(scratch, "pages"),
            CheckpointStore(os.path.join(scratch, "store")),
            max_files_per_trigger=1,
            checkpoint_dir=os.path.join(scratch, "ck"),
        ).awaitTermination()

        shutil.rmtree(self.store_dir, ignore_errors=True)
        store = CheckpointStore(self.store_dir)
        for i in range(self.n_files // 2):
            store.commit(
                run_extraction(spark.read.parquet(self.files[i])),
                run_id=f"stream-{i:04d}-killed00",
            )
        orphan = run_extraction(spark.read.parquet(self.files[self.n_files // 2]).limit(40))
        orphan.withColumn("partition_id", F.spark_partition_id()).write.parquet(
            os.path.join(self.store_dir, "runs", "run_id=orphan-killed01")
        )
        shutil.rmtree(self.seed_dir, ignore_errors=True)
        shutil.copytree(self.store_dir, self.seed_dir)
        # one full untimed pass: the first resume of a session is still
        # measurably slower than the next
        self.reset()
        self.run_pass()

    def reset(self) -> None:
        from legal_document_ocr_spark.scale.checkpoint import CheckpointStore

        shutil.rmtree(self.store_dir, ignore_errors=True)
        shutil.rmtree(self.stream_ck, ignore_errors=True)
        shutil.copytree(self.seed_dir, self.store_dir)
        self.store = TimedStore(CheckpointStore(self.store_dir), self.b.tracer)

    def run_pass(self) -> PassResult:
        from legal_document_ocr_spark.streaming.pipeline import stream_extraction

        tr = self.b.tracer
        t0 = time.perf_counter()
        with tr.span("streaming.stream_extraction") as sp:
            tr.default_parent = sp.id if sp else None
            query = stream_extraction(
                self.b.spark,
                self.table,
                self.store,
                max_files_per_trigger=1,
                checkpoint_dir=self.stream_ck,
            )
            query.awaitTermination()
            tr.default_parent = None
        wall = time.perf_counter() - t0
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")
        progress = query.recentProgress
        committed = {int(c["run_id"].split("-")[1]) for c in self.store.commits}
        batch_s, skip_s = [], []
        for p in progress:
            if p["numInputRows"] > 0:
                (batch_s if p["batchId"] in committed else skip_s).append(
                    p["durationMs"]["triggerExecution"] / 1000
                )
        return PassResult(
            len(self.pages),
            wall,
            batch_s,
            {
                "skip_s": skip_s,  # triggers that found their file committed
                "batches": sum(1 for p in progress if p["numInputRows"] > 0),
                "trigger_s": sum(p["durationMs"]["triggerExecution"] for p in progress)
                / 1000,
                "rows_committed": sum(c["rows"] for c in self.store.commits),
                "bytes_committed": self.run_bytes(c["run_id"] for c in self.store.commits),
                "store": self.store,
            },
        )

    def verify(self) -> oracle.Verdict:
        from legal_document_ocr_spark.scale.checkpoint import CheckpointStore

        results = CheckpointStore(self.store_dir).read_results(self.b.spark)
        rows = _rows(results.select("url", "extracted_text", "fields"))
        return oracle.check_pages(rows, self.pages)

    def run_bytes(self, run_ids) -> int:
        total = 0
        for rid in run_ids:
            d = os.path.join(self.store_dir, "runs", f"run_id={rid}")
            for dirpath, _, names in os.walk(d):
                total += sum(
                    os.path.getsize(os.path.join(dirpath, n))
                    for n in names
                    if n.endswith(".parquet")
                )
        return total


WORKLOADS = {w.name: w for w in (LegalDupMerge, StreamResume)}
