"""Host context printed beside every run's metrics, never gated on.

On a shared machine a slow phase of the host (steal time, other tenants'
load) moves every timing at once. A fixed single-thread probe, the load
average and the CPU steal share over the run let a reader tell such a
phase from a regression.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import time

_PROBE_BYTES = b"\x5a" * (4 << 20)


def probe_s() -> float:
    """Median of three sha256 passes over 4 MiB: single-thread CPU speed."""
    times = []
    for _ in range(3):
        t = time.perf_counter()
        hashlib.sha256(_PROBE_BYTES).digest()
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def cpu_times() -> list[int]:
    """Aggregate jiffies from /proc/stat (user nice system idle iowait irq
    softirq steal ...); empty where /proc is not available."""
    try:
        with open("/proc/stat", encoding="ascii") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return []


def steal_pct(before: list[int], after: list[int]) -> float | None:
    if len(before) < 8 or len(after) < 8:
        return None
    delta = [a - b for a, b in zip(after, before)]
    total = sum(delta[:8])
    return round(100.0 * delta[7] / total, 2) if total else 0.0


class HostWatch:
    """Samples host context at the start and end of the measured window."""

    def __init__(self):
        self.probe_start = probe_s()
        self.cpu_start = cpu_times()

    def finish(self) -> dict:
        probe_end = probe_s()
        return {
            "steal_pct": steal_pct(self.cpu_start, cpu_times()),
            "loadavg": list(os.getloadavg()),
            "probe_s": [round(self.probe_start, 5), round(probe_end, 5)],
            "cpus": len(os.sched_getaffinity(0)),
        }
