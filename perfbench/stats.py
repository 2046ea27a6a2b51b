"""Percentiles under the sample-count rule, and the box-condition stamp."""

from __future__ import annotations

import math
import os
import statistics

# the percentiles a timing may be reported at, lowest first
LADDER = (50.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def samples_beyond(n: int, p: float) -> int:
    """How many of n samples lie strictly above the p-th percentile."""
    return n - math.ceil(n * p / 100.0)


def highest_supported(n: int, ladder=LADDER) -> float | None:
    """The highest percentile on the ladder with at least MIN_BEYOND
    samples beyond it (p50 is always reported once there is a sample)."""
    best = ladder[0] if n else None
    for p in ladder:
        if samples_beyond(n, p) >= MIN_BEYOND:
            best = p
    return best


def percentile(values: list[float], p: float) -> float:
    """Linear interpolation between closest ranks (numpy's default)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def summary(values: list[float]) -> dict:
    """Median, p90, sample count and the highest supported percentile."""
    n = len(values)
    return {
        "n": n,
        "p50": statistics.median(values) if n else None,
        "p90": percentile(values, 90) if n else None,
        "supported": highest_supported(n),
    }


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


# --- box conditions -------------------------------------------------------


def _cpu_ticks() -> dict[str, int]:
    with open("/proc/stat") as f:
        parts = f.readline().split()
    names = ("user", "nice", "system", "idle", "iowait", "irq", "softirq",
             "steal")
    return dict(zip(names, map(int, parts[1:9])))


class BoxStamp:
    """Load averages before/after, and steal and iowait shares of all
    CPU ticks over the run (from /proc/stat deltas)."""

    def __init__(self):
        self.load_before = os.getloadavg()
        self.ticks_before = _cpu_ticks()

    def finish(self, extra: dict) -> dict:
        after = _cpu_ticks()
        delta = {k: after[k] - self.ticks_before[k] for k in after}
        total = sum(delta.values()) or 1
        load_after = os.getloadavg()
        return {
            "load_1m_before": self.load_before[0],
            "load_5m_before": self.load_before[1],
            "load_1m_after": load_after[0],
            "load_5m_after": load_after[1],
            "steal_share": delta["steal"] / total,
            "iowait_share": delta["iowait"] / total,
            "nproc": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            **extra,
        }


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0

