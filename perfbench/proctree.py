"""CPU time and resident memory of a process tree, read from ``/proc``.

The tree is a root process and every live descendant: here the benchmark's
own Python process, the Spark JVM it launched and the Python workers the
JVM forks. CPU time counts each live process's user+system time plus the
time of its children that have already exited and been reaped, so work done
by a worker that ends inside a measured interval is still counted, once.

Resident memory is summed as PSS (proportional set size): Spark forks its
Python workers from one daemon, and plain RSS would count the pages they
share with it once per worker. It is also split by process kind
(``tree_pss_split``), because the JVM's share follows its collector's
heap sizing more than the work.
"""

from __future__ import annotations

import os
import threading

_TICKS = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return None
    # the command name is parenthesised and may hold spaces; fields after it
    # are numbered from 3 (state) in proc(5)
    return raw[raw.rindex(")") + 2 :].split()


def _children_map() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    return children


def tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_seconds(root: int) -> float:
    """User+system seconds of the tree, including reaped children."""
    total = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            # utime, stime, cutime, cstime are stat fields 14-17
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICKS


def host_steal_seconds() -> float:
    """CPU time the hypervisor gave other guests, summed over this host's
    CPUs since boot (``steal`` in ``/proc/stat``)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICKS


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return ""


def tree_pss_split(root: int) -> dict[str, int]:
    """Summed PSS of the tree by kind: ``root`` itself, ``jvm`` (processes
    named ``java``) and ``workers`` (every other descendant)."""
    out = {"root": 0, "jvm": 0, "workers": 0}
    for pid in tree_pids(root):
        kind = "root" if pid == root else "jvm" if _comm(pid) == "java" else "workers"
        out[kind] += _pss_bytes(pid)
    return out


class PeakMemory:
    """Samples the tree's summed PSS on a thread; ``peak`` is the maximum of
    the whole tree, ``peak_by`` that of each kind in ``tree_pss_split``.

    Use as a context manager around the measured phase.
    """

    def __init__(self, root: int, interval_s: float = 0.1) -> None:
        self.root = root
        self.interval_s = interval_s
        self.peak = 0
        self.peak_by = {"root": 0, "jvm": 0, "workers": 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        split = tree_pss_split(self.root)
        self.peak = max(self.peak, sum(split.values()))
        for kind, n in split.items():
            self.peak_by[kind] = max(self.peak_by[kind], n)

    def _run(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()
