"""The traced run: per-layer metrics and the self-time ledger.

Runs after the untraced timed phase, in the same session (which was started
with Spark's event log on):

1. single-core kernel calls on a seeded sample of the workload's pages;
2. a ``noop`` read of the pages table (the scan alone);
3. one traced pass with spans around every call into a layer, then one
   untraced pass to compare it with (``trace.overhead``: the cost of the
   spans; the event log is on for the whole session);
4. for ``stream_resume`` (crawl pages), a ``run_extraction`` pass into
   ``noop`` over the whole table: the many-core leg of the parallel efficiency;
5. the session is stopped, the event log read, and its stages inside the
   traced pass attributed to layers;
6. for ``stream_resume``, the single-core leg: the same pass at
   ``local[1]`` over a quarter of the files, in a child process.

Layers a workload does not exercise report 0.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import subprocess
import sys
import time

from . import eventlog, tracing
from .workloads import StreamResume, _noop, noop_rate

LEDGER_LAYERS = (
    "sources",
    "stages",
    "dedup",
    "merge",
    "checkpoint",
    "streaming",
    "sink",
    "spark",
    tracing.UNATTRIBUTED,
)


def kernel_metrics(wl, n: int = 60) -> dict:
    from legal_document_ocr_spark.kernels import (
        extract_fields,
        extract_page,
        merge_pages,
    )

    rng = random.Random(f"kernels:{wl.b.seed}")
    sample = rng.sample(wl.pages, min(n, len(wl.pages)))
    page_ns, fields_ns, results = [], [], []
    for p in sample:
        t0 = time.perf_counter_ns()
        out = extract_page(p.html)
        t1 = time.perf_counter_ns()
        extract_fields(out["extracted_text"])
        t2 = time.perf_counter_ns()
        page_ns.append(t1 - t0)
        fields_ns.append(t2 - t1)
        results.append((p, out))
    groups: dict[str, list] = {}
    for p, out in sorted(results, key=lambda r: r[0].url):
        groups.setdefault(p.url.rsplit("/", 1)[0], []).append(
            {
                "ocr_text": out["extracted_text"],
                "extracted_info": dict(p.fields),
                "regions": out["spans"],
            }
        )
    merge_ns = []
    for pages in groups.values():
        t0 = time.perf_counter_ns()
        merge_pages(pages)
        merge_ns.append(time.perf_counter_ns() - t0)
    n_bytes = sum(len(p.html) for p in sample)
    return {
        "kernels.extract_page_us": (statistics.mean(page_ns) / 1e3, "us"),
        "kernels.extract_page_ns_per_byte": (sum(page_ns) / n_bytes, "ns/B"),
        "kernels.max_page_ms": (max(page_ns) / 1e6, "ms"),
        "kernels.extract_fields_us": (statistics.mean(fields_ns) / 1e3, "us"),
        "kernels.merge_pages_us": (statistics.mean(merge_ns) / 1e3, "us"),
    }


def _quarter_table(wl, bench) -> str:
    """A table of the first quarter of the workload's files (hard links)."""
    quarter = os.path.join(bench.tmp, "quarter")
    os.makedirs(quarter)
    for f in wl.files[: max(1, len(wl.files) // 4)]:
        os.link(f, os.path.join(quarter, os.path.basename(f)))
    return quarter


def _single_core_rate(pages_dir: str) -> float:
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py"),
            "--rate-probe",
            pages_dir,
        ],
        capture_output=True,
        text=True,
        timeout=150,
        check=True,
    )
    return json.loads(proc.stdout.strip().splitlines()[-1])["docs_per_s"]


def traced_metrics(wl, bench) -> tuple[dict, dict]:
    spark = bench.spark
    metrics = kernel_metrics(wl)

    t0 = time.perf_counter()
    _noop(spark.read.parquet(wl.table))
    scan_s = time.perf_counter() - t0
    input_mb = sum(os.path.getsize(f) for f in wl.files) / 1e6

    tracer = tracing.Tracer(bench.run_id, enabled=True)
    bench.tracer = tracer
    wl.reset()
    with tracer.span("pass") as root:
        traced = wl.run_pass()
    bench.tracer = bench.quiet
    # the pass after the traced one, untraced: passes still speed up slowly
    # after warm-up, so compare neighbours rather than the phase median
    wl.reset()
    untraced = wl.run_pass()

    streaming = isinstance(wl, StreamResume)
    if streaming:
        many_rate = noop_rate(spark, wl.table)

    bench.stop()  # flushes the event log
    log = eventlog.read_event_log(bench.event_dir)
    stages = eventlog.stages_within(log, root.start, root.end)
    self_s = tracing.ledger(tracer, root, stages)
    tasks_s = eventlog.layer_task_seconds(log, stages)
    page_rows = log.metric(stages, "ArrowEvalPython", "number of output rows", "extract_page_udf")
    field_rows = log.metric(stages, "ArrowEvalPython", "number of output rows", "extract_fields_udf")
    udf_stages = [s for s in stages if log.runs_node(s, "ArrowEvalPython", "extract_page_udf")]
    widest = max(udf_stages, key=lambda s: sum(s.task_ms), default=None)

    filter_s = commit_s = readback_s = bytes_per_row = stream_self_s = efficiency = 0.0
    skipped = batches = 0
    if streaming:
        # N -> 4N stand-in on crawl pages: run_extraction's rate at
        # local[cores] over the whole table against cores x its rate at
        # local[1] over a quarter of it
        single = _single_core_rate(_quarter_table(wl, bench))
        efficiency = many_rate / (bench.cores * single)
        store = traced.extra["store"]
        committed = traced.extra["rows_committed"]
        filter_s = sum(store.filter_pending_s)
        commit_s = sum(c["s"] for c in store.commits)
        readback_s = sum(
            sum(s.task_ms) / 1000
            for s in stages
            if any(eventlog.PARTITION_AGG.search(log.nodes[n].text) for n in s.nodes)
        )
        bytes_per_row = traced.extra["bytes_committed"] / committed if committed else 0.0
        # pages the resume found already committed and did not recompute
        skipped = traced.docs - committed
        batches = traced.extra["batches"]
        stream_self_s = traced.extra["trigger_s"] - filter_s - commit_s

    metrics.update(
        {
            "sources.scan_s": (scan_s, "s"),
            "sources.input_mb": (input_mb, "MB"),
            "stages.udf_rows": (page_rows + field_rows, "count"),
            "stages.arrow_mb_to_python": (
                log.metric(stages, "ArrowEvalPython", "data sent to Python workers") / 1e6,
                "MB",
            ),
            "stages.arrow_mb_from_python": (
                log.metric(stages, "ArrowEvalPython", "data returned from Python workers")
                / 1e6,
                "MB",
            ),
            "stages.python_crossings": (log.node_tasks(stages, "ArrowEvalPython"), "count"),
            "stages.python_task_s": (
                log.metric(stages, "ArrowEvalPython", "time to run Python workers") / 1000,
                "s",
            ),
            "dedup.hit_rate": (1 - page_rows / field_rows if field_rows else 0.0, "ratio"),
            "dedup.shuffle_write_mb": (
                log.metric(stages, "Exchange", "shuffle bytes written", "__content_key") / 1e6,
                "MB",
            ),
            "dedup.task_s": (tasks_s.get("dedup", 0.0), "s"),
            "salt.udf_tasks": (len(widest.task_ms) if widest else 0, "count"),
            "salt.task_skew": (eventlog.task_skew(widest) if widest else 0.0, "ratio"),
            "merge.fold_task_s": (tasks_s.get("merge", 0.0), "s"),
            "merge.docs_out": (
                log.metric(stages, "FlatMapGroupsInPandas", "number of output rows"),
                "count",
            ),
            "merge.shuffle_write_mb": (
                log.metric(stages, "Exchange", "shuffle bytes written", "_bucket") / 1e6,
                "MB",
            ),
            "checkpoint.filter_pending_s": (filter_s, "s"),
            "checkpoint.commit_s": (commit_s, "s"),
            "checkpoint.readback_task_s": (readback_s, "s"),
            "checkpoint.bytes_per_row": (bytes_per_row, "B"),
            "checkpoint.rows_skipped": (skipped, "count"),
            "streaming.batches": (batches, "count"),
            "streaming.self_s": (stream_self_s, "s"),
            "spark.jobs": (
                sum(1 for t in log.job_starts if root.start <= t <= root.end),
                "count",
            ),
            "spark.tasks": (sum(len(s.task_ms) for s in stages), "count"),
            "spark.gc_s": (sum(s.gc_ms for s in stages) / 1000, "s"),
            "spark.spill_mb": (sum(s.spill_bytes for s in stages) / 1e6, "MB"),
            "spark.executor_cpu_s": (sum(s.cpu_ns for s in stages) / 1e9, "s"),
            "spark.parallel_efficiency": (efficiency, "ratio"),
            "trace.overhead": (traced.wall_s / untraced.wall_s - 1, "ratio"),
        }
    )
    for layer in LEDGER_LAYERS:
        metrics[f"ledger.{layer}_s"] = (self_s.get(layer, 0.0), "s")
    wall = root.end - root.start
    diag = {
        "traced_pass_s": wall,
        "ledger_self_s": self_s,
        "ledger_coverage": sum(self_s.values()) / wall,
        "layer_task_s": tasks_s,
        "stages_in_pass": len(stages),
    }
    os.makedirs(bench.out_dir, exist_ok=True)
    tracer.write(os.path.join(bench.out_dir, f"spans-{wl.name}.jsonl"))
    return metrics, diag
