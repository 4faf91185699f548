"""Host context and sample statistics for one benchmark run."""

from __future__ import annotations

import math
import os
import statistics


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate /proc/stat cpu line."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / total if total > 0 else 0.0


def peak_rss_bytes(pid: int) -> int:
    """High-water resident set of a process (VmHWM)."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024
    return 0


def file_sizes(root: str) -> dict[str, int]:
    """{path: bytes} of every file under `root` (empty if it is absent)."""
    out = {}
    for dp, _, names in os.walk(root):
        for n in names:
            p = os.path.join(dp, n)
            try:
                out[p] = os.lstat(p).st_size
            except OSError:
                pass
    return out


def tree_bytes(root: str) -> int:
    return sum(file_sizes(root).values())


def tail_rank(n: int, beyond: int = 10) -> float:
    """The highest percentile of `n` samples with at least `beyond`
    samples above it, and never below the median (with fewer than
    2 * `beyond` samples the tail is the median)."""
    return max(50.0, 100.0 * (n - beyond) / n) if n else 50.0


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(pct / 100.0 * len(s)) - 1)]


def summary(values: list[float], tail_pct: float) -> dict:
    """Median and the `tail_pct` percentile of `values`, with the
    sample count and how many samples lie above the tail (zeros when
    there are no samples)."""
    if not values:
        return {"p50": 0.0, "tail": 0.0, "tail_pct": tail_pct, "n": 0, "beyond_tail": 0}
    p50 = statistics.median(values)
    tail = max(p50, percentile(values, tail_pct))
    return {
        "p50": p50,
        "tail": tail,
        "tail_pct": tail_pct,
        "n": len(values),
        "beyond_tail": sum(v > tail for v in values),
    }
