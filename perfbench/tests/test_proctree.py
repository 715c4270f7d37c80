"""Process-tree CPU and RSS read from /proc."""

import os
import subprocess
import sys
import time

from perfbench.proctree import PeakMemory, tree_cpu_seconds, tree_pids, tree_pss_split

BURN = (
    "import time\n"
    "t = time.process_time()\n"
    "while time.process_time() - t < {secs}:\n"
    "    sum(range(1000))\n"
)


def test_child_cpu_is_counted_while_alive_and_after_exit():
    me = os.getpid()
    before = tree_cpu_seconds(me)
    child = subprocess.Popen([sys.executable, "-c", BURN.format(secs=0.6) + "time.sleep(30)"])
    try:
        deadline = time.monotonic() + 20
        while tree_cpu_seconds(me) - before < 0.6 and time.monotonic() < deadline:
            time.sleep(0.05)
        assert child.pid in tree_pids(me)
        live = tree_cpu_seconds(me) - before
        assert 0.55 <= live <= 1.5, live
    finally:
        child.kill()
        child.wait(timeout=10)
    # reaped: its time moved into this process's children time, once
    after = tree_cpu_seconds(me) - before
    assert 0.55 <= after <= 1.5, after


def test_grandchild_cpu_is_counted():
    me = os.getpid()
    before = tree_cpu_seconds(me)
    code = (
        "import subprocess, sys\n"
        f"subprocess.run([sys.executable, '-c', {BURN.format(secs=0.4)!r}], check=True)\n"
    )
    subprocess.run([sys.executable, "-c", code], check=True, timeout=60)
    spent = tree_cpu_seconds(me) - before
    assert 0.35 <= spent <= 1.5, spent


def test_peak_rss_sees_a_child_allocation():
    me = os.getpid()
    base = sum(tree_pss_split(me).values())
    code = "b = bytearray(200 * 1024 * 1024); b[::4096] = b'x' * len(b[::4096]); import time; time.sleep(1.5)"
    with PeakMemory(me, interval_s=0.05) as rss:
        subprocess.run([sys.executable, "-c", code], check=True, timeout=60)
    assert rss.peak - base >= 150 * 1024 * 1024
    # a non-JVM child counts as a worker
    assert rss.peak_by["workers"] >= 150 * 1024 * 1024
    assert rss.peak_by["jvm"] == 0
