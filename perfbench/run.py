"""Extraction benchmark: one workload per run, metrics as one JSON line.

    python3 perfbench/run.py --workload legal_dup_merge --seed 1 --seconds 12 --trace 0

Run from the repository root. The run builds a fresh Spark session at
``local[<cores>]`` whose warehouse, local dirs, store, stream checkpoint
and event log all live in a temporary directory under the repository root,
deleted at exit. It generates the workload's corpus from ``--seed``, warms
up, repeats the workload's pass for at least ``--seconds`` seconds, and
checks every output row of a full pass against the generator's closed-form
expectation.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` additionally
records spans and Spark's event log and prints the per-layer metrics
instead. The line before the result holds diagnostics (calibration loop,
host steal time, JVM collection time, pass times, the end-to-end figures, the ledger); the last line is the
result. Exit status 2: the package is not importable from the root, or the
workload is unknown.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 3
# a pass near the phase length would otherwise run once on a slow host and
# twice on a fast one, and the pass count would show in the median
MIN_PASSES = 2


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int)
    p.add_argument("--seconds", type=float)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # internal: the single-core leg of spark.parallel_efficiency
    p.add_argument("--rate-probe", metavar="PAGES_DIR")
    args = p.parse_args(argv)
    if not args.rate_probe and None in (args.workload, args.seed, args.seconds):
        p.error("--workload, --seed and --seconds are required")
    return args


def _cores() -> int:
    return len(os.sched_getaffinity(0))


class Bench:
    """Session, temporary directories and tracer of one benchmark run."""

    def __init__(self, seed: int, seconds: float, cores: int, event_log: bool) -> None:
        from perfbench.tracing import Tracer

        self.seed = seed
        self.seconds = seconds
        self.cores = cores
        self.run_id = uuid.uuid4().hex[:12]
        self.tmp = os.path.join(ROOT, ".perfbench_tmp", self.run_id)
        self.event_dir = os.path.join(self.tmp, "eventlog")
        self.out_dir = os.path.join(ROOT, ".perfbench_out")
        self.quiet = Tracer(self.run_id, enabled=False)
        self.tracer = self.quiet
        os.makedirs(self.event_dir)
        jtmp = os.path.join(self.tmp, "jvm")
        os.makedirs(jtmp)
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": str(event_log).lower(),
            "spark.eventLog.dir": "file://" + self.event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
        java_opts = f"-Djava.io.tmpdir={jtmp} -XX:-UsePerfData"
        os.environ.update(
            {
                "SPARK_WAREHOUSE_DIR": os.path.join(self.tmp, "warehouse"),
                "SPARK_LOCAL_DIRS": os.path.join(self.tmp, "local"),
                "TMPDIR": jtmp,
                "PYSPARK_SUBMIT_ARGS": " ".join(
                    [f"--conf {k}={v}" for k, v in conf.items()]
                    + [f'--driver-java-options "{java_opts}"', "pyspark-shell"]
                ),
            }
        )
        self.spark = None
        self.session_s = 0.0

    def start(self) -> None:
        from legal_document_ocr_spark.session import build_session

        t0 = time.perf_counter()
        self.spark = build_session(master=f"local[{self.cores}]")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_s = time.perf_counter() - t0

    def stop(self) -> None:
        """Stop Spark and the JVM it runs in, and wait for both to end."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        _reap_descendants()

    def cleanup(self) -> None:
        self.stop()
        shutil.rmtree(self.tmp, ignore_errors=True)
        parent = os.path.dirname(self.tmp)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def _reap_descendants(timeout_s: float = 30.0) -> None:
    """Wait for every process this run started to end; kill stragglers."""
    from perfbench.proctree import tree_pids

    deadline = time.monotonic() + timeout_s
    while True:
        rest = [p for p in tree_pids(os.getpid()) if p != os.getpid()]
        if not rest:
            return
        if time.monotonic() > deadline:
            for pid in rest:
                try:
                    os.kill(pid, 9)
                except ProcessLookupError:
                    pass
        for pid in rest:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.1)


def calibration_s() -> float:
    """A fixed single-threaded kernel loop, independent of the seed: the
    same work before and after each timed phase shows host drift."""
    from legal_document_ocr_spark.kernels import extract_fields, extract_page
    from perfbench.corpus import crawl_pages

    pages = crawl_pages(0, 12, 12_500)
    t0 = time.perf_counter()
    for p in pages:
        extract_fields(extract_page(p.html)["extracted_text"])
    return time.perf_counter() - t0


def jvm_gc_seconds(spark) -> float:
    """Collection time the JVM's garbage collectors report, since start."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    return sum(g.getCollectionTime() for g in mf.getGarbageCollectorMXBeans()) / 1000


def timed_phase(wl, bench) -> dict:
    """Repeat passes until ``bench.seconds`` of pass time accrue, and at
    least ``MIN_PASSES``; per-pass figures are reported as their median."""
    from perfbench.proctree import PeakMemory, host_steal_seconds, tree_cpu_seconds

    me = os.getpid()
    passes, cpu = [], []
    steal0, gc0 = host_steal_seconds(), jvm_gc_seconds(bench.spark)
    with PeakMemory(me) as rss:
        while len(passes) < MIN_PASSES or sum(p.wall_s for p in passes) < bench.seconds:
            wl.reset()
            c0 = tree_cpu_seconds(me)
            passes.append(wl.run_pass())
            cpu.append((tree_cpu_seconds(me) - c0) / passes[-1].docs)
    batch = [b for p in passes for b in p.batch_s] or [p.wall_s for p in passes]
    return {
        "passes": passes,
        "steal_s": host_steal_seconds() - steal0,
        "gc_s": jvm_gc_seconds(bench.spark) - gc0,
        "skip_trigger_s": [s for p in passes for s in p.extra.get("skip_s", [])],
        "docs_per_s": statistics.median(p.docs / p.wall_s for p in passes),
        "cpu_ms_per_doc": statistics.median(cpu) * 1000,
        "peak_mb": {"tree": rss.peak / 1e6, **{k: v / 1e6 for k, v in rss.peak_by.items()}},
        "batch_p50_s": statistics.median(batch),
    }


def run(args) -> tuple[dict, dict]:
    from perfbench.workloads import WORKLOADS

    bench = Bench(args.seed, args.seconds, _cores(), event_log=bool(args.trace))
    try:
        bench.start()
        wl = WORKLOADS[args.workload](bench)
        gen_s = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.generate()
            gen_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warm_up()
        warm_s = time.perf_counter() - t0
        calib = [calibration_s()]
        phase = timed_phase(wl, bench)
        calib.append(calibration_s())
        verdict = wl.verify().add(wl.recheck())
        diag = {
            "workload": args.workload,
            "seed": args.seed,
            "cores": bench.cores,
            "pages": len(wl.pages),
            "session_s": bench.session_s,
            "generate_s": gen_s,
            "warm_up_s": warm_s,
            "pass_s": [p.wall_s for p in phase["passes"]],
            "batch_s": [b for p in phase["passes"] for b in p.batch_s],
            "skip_trigger_s": phase["skip_trigger_s"],
            "calibration_s": calib,
            "host_steal_s": phase["steal_s"],
            "jvm_gc_s": phase["gc_s"],
            "peak_mb": phase["peak_mb"],
            "check_examples": verdict.examples,
        }
        metrics = {
            "docs_per_s": (phase["docs_per_s"], "docs/s"),
            "cpu_ms_per_doc": (phase["cpu_ms_per_doc"], "ms"),
            "worker_peak_mb": (phase["peak_mb"]["workers"], "MB"),
            "setup_s": (bench.session_s + statistics.median(gen_s) + warm_s, "s"),
            "row_accuracy": (verdict.accuracy, "ratio"),
            "batch_p50_s": (phase["batch_p50_s"], "s"),
        }
        if args.trace:
            from perfbench.ledger import traced_metrics

            diag["end_to_end"] = {k: v for k, (v, _) in metrics.items()}
            metrics, ledger_diag = traced_metrics(wl, bench)
            metrics["spark.jvm_peak_mb"] = (phase["peak_mb"]["jvm"], "MB")
            diag.update(ledger_diag)
        result = {
            "correct": verdict.failed == 0 and verdict.attempted > 0,
            "attempted": verdict.attempted,
            "failed": verdict.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        return diag, result
    finally:
        bench.cleanup()


def rate_probe(pages_dir: str) -> float:
    """docs/s of ``run_extraction`` over ``pages_dir`` at ``local[1]``,
    after one warm-up pass; run in its own process (its own JVM)."""
    from perfbench.workloads import noop_rate

    bench = Bench(0, 0, 1, event_log=False)
    try:
        bench.start()
        return noop_rate(bench.spark, pages_dir, warm=True)
    finally:
        bench.cleanup()


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    try:
        import legal_document_ocr_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.rate_probe:
        print(json.dumps({"docs_per_s": rate_probe(args.rate_probe)}))
        return 0
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    diag, result = run(args)
    print(json.dumps(diag, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
