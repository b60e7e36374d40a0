"""Host counters from /proc: steal, CPU and peak RSS of the process tree."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies summed over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice];
    # guest time is already counted in user, so it is left out of total
    return fields[7], sum(fields[:8])


def steal_pct(a: tuple[int, int], b: tuple[int, int]) -> float:
    """Share of CPU time stolen by the hypervisor between two samples."""
    total = b[1] - a[1]
    return 100.0 * (b[0] - a[0]) / total if total > 0 else 0.0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int | None = None) -> list[int]:
    """This process and all of its descendants (JVM, Python workers)."""
    root = os.getpid() if root is None else root
    kids, out, frontier = _children(), [], [root]
    while frontier:
        out += frontier
        frontier = [c for p in frontier for c in kids.get(p, [])]
    return out


def tree_cpu_s(pids: list[int]) -> float:
    """User+system CPU seconds consumed so far by `pids`."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                parts = f.read().rsplit(")", 1)[1].split()
            total += int(parts[11]) + int(parts[12])
        except (OSError, IndexError, ValueError):
            continue
    return total / _TICK


def tree_peak_rss_mb(pids: list[int]) -> float:
    """Sum of each process's peak resident set (VmHWM), in MB."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
