"""Process-tree accounting for a benchmark run: CPU time, hypervisor
steal and peak memory of the driver and everything it started (the JVM,
the Python daemons and their workers), read from ``/proc``."""

from __future__ import annotations

import os
import threading


def _tree_pids() -> list:
    """This process and all of its descendants (the JVM, the Python
    daemons and their workers)."""
    parent = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            parent[int(pid)] = int(stat.rsplit(")", 1)[1].split()[1])
    me = os.getpid()
    tree = []
    for pid in parent:
        p = pid
        while p > 1 and p != me:
            p = parent.get(p, 0)
        if p == me:
            tree.append(pid)
    return tree


def tree_cpu_s() -> float:
    """CPU seconds used so far by the process tree: each live process's
    user + system time plus that of the children it has reaped."""
    ticks = 0
    for pid in _tree_pids():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """CPU seconds the hypervisor has stolen from this machine's CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


class MemoryPeak:
    """Samples the proportional set size (PSS) of the process tree every
    ``period`` s and keeps the peak: pages the forked Python workers share
    with their daemon count once, not per worker."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _tree_pss_kb() -> int:
        total = 0
        for pid in _tree_pids():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                continue
        return total

    def _loop(self):
        while not self._stop.wait(self.period):
            self.peak_kb = max(self.peak_kb, self._tree_pss_kb())

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_kb = max(self.peak_kb, self._tree_pss_kb())
