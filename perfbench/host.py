"""Host-noise record and process memory, read from /proc.

The noise record is written beside each run's metrics so a reader can
judge a noisy sample. It never triggers a retry and is never used to
drop or replace a sample.
"""

from __future__ import annotations

import os
import resource
import time


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _meminfo_mb(key: str) -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1]) / 1024
    return float("nan")


def cpu_probe_s() -> float:
    """Seconds one core takes for a fixed pure-Python loop: a slow phase
    of the host shows as a larger value."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i * i
    return time.perf_counter() - t0


class HostNoise:
    """Steal share over the run, from two /proc/stat snapshots, and a
    CPU probe at the start and end of the run."""

    def __init__(self):
        self._start = _cpu_ticks()
        self._probe = cpu_probe_s()

    def record(self) -> dict:
        end = _cpu_ticks()
        delta = [b - a for a, b in zip(self._start, end)]
        total = sum(delta[:8])            # user..steal; guest is inside user
        steal = delta[7] if len(delta) > 7 else 0
        return {
            "steal_pct": 100.0 * steal / total if total else 0.0,
            "cpu_probe_s": [self._probe, cpu_probe_s()],
            "loadavg_1m": os.getloadavg()[0],
            "nproc": len(os.sched_getaffinity(0)),
            "mem_available_mb": _meminfo_mb("MemAvailable"),
        }


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of another process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def own_peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
