"""Small statistics and /proc helpers shared by the launcher and the worker.

Everything here is pure Python (no Spark), so the self-tests can import it
without starting a JVM.
"""

from __future__ import annotations

import math
import os


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least a share
    `q` of the samples at or below it. No interpolation, so the value
    reported is always a job that really ran."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0.0 < q <= 1.0:
        raise ValueError(f"percentile share must be in (0, 1], got {q}")
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def median(values: list[float]) -> float:
    """Middle value; the mean of the two middle values for an even count."""
    if not values:
        raise ValueError("median of no samples")
    s = sorted(values)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def samples_beyond(n: int, q: float) -> int:
    """How many of `n` samples lie strictly above the nearest-rank
    `q` percentile."""
    return n - max(0, math.ceil(q * n))


def highest_supported_percentile(n: int, tail: int = 10) -> float | None:
    """The highest percentile (in whole percent, as a share) that still
    has at least `tail` samples beyond it; None when `n` <= `tail`."""
    for pct in range(99, 0, -1):
        if samples_beyond(n, pct / 100.0) >= tail:
            return pct / 100.0
    return None


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of [start, end] intervals, counting
    overlaps once."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((a, b) for a, b in intervals if b > a):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clipped_union_length(
    intervals: list[tuple[float, float]], lo: float, hi: float
) -> float:
    """union_length of the intervals clipped to [lo, hi]."""
    return union_length([(max(s, lo), min(e, hi)) for s, e in intervals])


# ---------------------------------------------------------------------------
# /proc readers (Linux)
# ---------------------------------------------------------------------------


def read_cpu_times(path: str = "/proc/stat") -> tuple[int, int, int]:
    """(total, idle, steal) jiffies of the aggregate `cpu` line."""
    with open(path) as f:
        fields = f.readline().split()
    if fields[0] != "cpu":
        raise ValueError(f"unexpected first line in {path}: {fields[:1]}")
    vals = [int(x) for x in fields[1:]]
    idle = vals[3] + (vals[4] if len(vals) > 4 else 0)  # idle + iowait
    steal = vals[7] if len(vals) > 7 else 0
    # guest time is already counted in user/nice
    total = sum(vals[:8])
    return total, idle, steal


def cpu_fractions(
    a: tuple[int, int, int], b: tuple[int, int, int]
) -> tuple[float, float] | None:
    """(idle, steal) shares of the CPU time between two read_cpu_times
    snapshots; None when no time passed."""
    dt = b[0] - a[0]
    if dt <= 0:
        return None
    return (b[1] - a[1]) / dt, (b[2] - a[2]) / dt


def _ppid_map() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # process ended while listing
        # the command name may contain spaces: fields after the last ')'
        rest = stat[stat.rfind(")") + 2 :].split()
        out[int(name)] = int(rest[1])
    return out


def driver_rss_bytes(root: int) -> int:
    """Summed resident set size of `root` and its direct children: the
    Python driver and the JVM it launched. Python workers, which the JVM
    forks and which share pages with each other, are left out."""
    ppids = _ppid_map()
    total = 0
    for pid in [root] + [p for p, pp in ppids.items() if pp == root]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total
