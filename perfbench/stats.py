"""Order statistics and file-size helpers shared by the workloads."""

from __future__ import annotations

import os
import statistics

# Tail percentile of every latency distribution, fixed once. No workload
# collects enough samples in a 20 s window for ten to lie beyond it:
# cdc_trickle releases 7 files (1-2 beyond p75), olap_tpch runs 25-30
# queries (6-7 beyond), and cdc_backfill reports its slowest drain.
TAIL_PCT = 75

# Samples taken while hypervisor steal exceeded this share of all CPU
# time are left out of the end-to-end figures: on a 4-vCPU host, 3-5%
# steal slows a poll or query by 15-40% (see perfbench/README.md, Noise).
STEAL_MAX_PCT = 2.0


def quiet(samples: list[float], steal: list[float]) -> list[float]:
    """The samples whose steal stayed at or under STEAL_MAX_PCT, or, when
    fewer than half of them did, the half with the least steal."""
    keep = [x for x, s in zip(samples, steal) if s <= STEAL_MAX_PCT]
    if 2 * len(keep) >= len(samples):
        return keep
    least = sorted(range(len(samples)), key=lambda i: steal[i])[: (len(samples) + 1) // 2]
    return [samples[i] for i in sorted(least)]


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def pct(xs: list[float], p: float) -> float:
    """Linear-interpolated p-th percentile (0..100)."""
    if not xs:
        return 0.0
    s = sorted(xs)
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def dir_bytes(path: str, suffix: str = "") -> int:
    return sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, files in os.walk(path)
        for f in files
        if f.endswith(suffix)
    )


def count_files(path: str, suffix: str) -> int:
    return sum(f.endswith(suffix) for _, _, files in os.walk(path) for f in files)
