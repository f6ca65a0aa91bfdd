"""Host provenance, CPU steal, peak RSS and the percentile rule.

Everything here reads ``/proc`` directly (no psutil), so a run records the
machine it ran on next to its numbers.
"""

from __future__ import annotations

import os
import platform
import select
import statistics
import subprocess
import sys
import time


def cpus() -> int:
    """Cores this process may run on: the ``N`` of ``local[N]``."""
    return len(os.sched_getaffinity(0))


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies summed over all CPUs, from ``/proc/stat``."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:9]]
    return vals[7], sum(vals)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor stole between two ``cpu_ticks``."""
    total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / total if total > 0 else 0.0


def provenance() -> dict:
    """What a result must carry to be compared with another one."""
    return {
        "cpus": cpus(),
        "nproc": os.cpu_count(),
        "loadavg": loadavg(),
        "python": platform.python_version(),
    }


def p90_if_supported(values: list[float], min_tail: int = 10) -> float | None:
    """The 90th percentile, or None unless at least ``min_tail`` samples lie
    beyond it: a tail percentile resting on fewer samples is noise."""
    if len(values) < 2:
        return None
    p90 = statistics.quantiles(values, n=10)[8]
    return p90 if sum(v > p90 for v in values) >= min_tail else None


def hd_median(values: list[float]) -> float:
    """Harrell-Davis estimate of the median: the mean of all order statistics
    weighted by a Beta((n+1)/2, (n+1)/2) density. A lap of the analytics
    workload holds 18 different queries whose latencies form clusters; the
    plain sample median jumps from one cluster to the next when noise swaps
    two middle queries, while this estimate moves smoothly. For two values
    it is their mean."""
    import numpy as np

    x = np.sort(np.asarray(values, dtype=float))
    n = len(x)
    if n == 1:
        return float(x[0])
    t = np.linspace(0.0, 1.0, 4001)
    density = (t * (1.0 - t)) ** ((n + 1) / 2 - 1)
    cdf = np.concatenate([[0.0], np.cumsum((density[1:] + density[:-1]) / 2)])
    weights = np.diff(np.interp(np.arange(n + 1) / n, t, cdf / cdf[-1]))
    return float(weights @ x)


def _tree_rss_bytes(root_pid: int, skip: int) -> int:
    """Summed RSS of ``root_pid`` and all its descendants (the JVM that
    PySpark launched and the Python workers the JVM forks), leaving out the
    subtree of ``skip``."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
            with open(f"/proc/{entry}/statm") as fh:
                resident = int(fh.read().split()[1])
        except (OSError, ValueError, IndexError):
            continue  # the process ended while we looked
        pid = int(entry)
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(pid)
        rss[pid] = resident * page
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        if pid != skip:
            total += rss.get(pid, 0)
            todo.extend(children.get(pid, []))
    return total


def _sample_until_stdin_closes(root_pid: int, interval_s: float) -> None:
    """The sampler process: every ``interval_s`` add up the tree's RSS; when
    stdin closes, print the peak."""
    peak, me = 0, os.getpid()
    while True:
        peak = max(peak, _tree_rss_bytes(root_pid, skip=me))
        ready, _, _ = select.select([sys.stdin], [], [], interval_s)
        if ready and not sys.stdin.buffer.read1(4096):
            break
    print(peak, flush=True)


class RssSampler:
    """Samples the process tree's summed RSS from a child process, so the
    walk over ``/proc`` never holds the driver's GIL, and keeps the peak.
    Use as a context manager around the measured run."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0

    def __enter__(self) -> "RssSampler":
        self._proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), str(os.getpid()), str(self.interval_s)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        return self

    def __exit__(self, *exc) -> None:
        out, _ = self._proc.communicate(timeout=30)  # closes its stdin, waits
        self.peak_bytes = int(out)


class OpClock:
    """Wall time and CPU steal around one operation."""

    def __enter__(self) -> "OpClock":
        self.ticks = cpu_ticks()
        self.start_wall = time.time()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.seconds = time.perf_counter() - self.t0
        self.end_wall = time.time()
        self.steal = steal_pct(self.ticks, cpu_ticks())


if __name__ == "__main__":
    _sample_until_stdin_closes(int(sys.argv[1]), float(sys.argv[2]))
