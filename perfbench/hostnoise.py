"""Host-noise stamps and memory high-water for a benchmark run.

The spin probe, steal counter and JVM counters follow the repository's
``bench.py`` helpers: a slow run whose spin probe or steal delta is also
high was slowed by the host, not by the engine.
"""

from __future__ import annotations

import os
import threading
import time
from typing import Dict, List, Tuple


def spin_probe_ms() -> float:
    """Wall time of a fixed single-thread Python loop (~100 ms nominal)."""
    t0 = time.perf_counter()
    s = 0
    for i in range(2_000_000):
        s += i * i
    return (time.perf_counter() - t0) * 1000.0


def steal_jiffies() -> int:
    """Cumulative hypervisor steal time from /proc/stat (0 if unreadable)."""
    try:
        with open("/proc/stat") as f:
            vals = f.readline().split()[1:]
        return int(vals[7]) if len(vals) > 7 else 0
    except (OSError, ValueError, IndexError):
        return 0


def jvm_counters(spark) -> Tuple[int, int]:
    """(jit_ms, gc_ms) cumulative totals from the driver JVM's JMX beans."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    jit = mf.getCompilationMXBean().getTotalCompilationTime()
    gc = 0
    it = mf.getGarbageCollectorMXBeans().iterator()
    while it.hasNext():
        gc += it.next().getCollectionTime()
    return int(jit), int(gc)


_PAGE = os.sysconf("SC_PAGE_SIZE") if hasattr(os, "sysconf") else 4096


def _parents() -> Dict[int, int]:
    """{pid: parent pid} of every visible process."""
    procs = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        procs[int(name)] = int(stat[stat.rfind(")") + 2:].split()[1])
    return procs


def _exe(pid: int):
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def descendants(root_pid: int) -> List[int]:
    """``root_pid`` and every process below it."""
    kids: Dict[int, List[int]] = {}
    for pid, ppid in _parents().items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += kids.get(pid, [])
    return out


def tree_rss(root_pid: int) -> Dict[int, int]:
    """Resident bytes of ``root_pid`` and of each of its descendants.

    A child the JVM has forked but not yet exec'd (to start a helper
    process) still maps all of the JVM's pages; counting it would count
    the JVM twice, so a descendant running the root's executable is
    skipped."""
    root_exe = _exe(root_pid)
    out = {}
    for pid in descendants(root_pid):
        if pid != root_pid and root_exe is not None and _exe(pid) == root_exe:
            continue
        try:
            with open(f"/proc/{pid}/statm") as f:
                out[pid] = int(f.read().split()[1]) * _PAGE
        except (OSError, ValueError, IndexError):
            pass
    return out


class RssSampler:
    """Samples the summed RSS of a process tree (the Spark JVM and the
    Python workers it forks) on a background thread; ``peak`` is the
    high-water between ``start`` and ``stop``."""

    def __init__(self, root_pid: int, interval_s: float = 0.05):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak = 0
        self.at_peak: Dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        by_pid = tree_rss(self.root_pid)
        total = sum(by_pid.values())
        if total > self.peak:
            self.peak, self.at_peak = total, by_pid

    def _run(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
