"""Metric math and process measurements shared by the workloads."""

from __future__ import annotations

import math
import os
import statistics
from fractions import Fraction


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(Q1, median, Q3) by ``statistics.quantiles(values, n=4)``, the
    rule the acceptance check applies to run-to-run values."""
    if len(values) < 2:
        v = median(values)
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return float(q1), float(q2), float(q3)


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else float("inf")


def ratio(num: float, den: float) -> float:
    """``num / den``; a zero base is refused rather than reported as 0."""
    if den == 0:
        raise ZeroDivisionError("ratio with a zero base")
    return num / den


def tail_percentile(values: list[float], min_beyond: int = 10) -> tuple[str, float] | None:
    """The highest of p90/p99/p99.9 (nearest rank) with at least
    ``min_beyond`` samples above it, as ``(name, value)``; None when
    there are too few samples for any of them."""
    best = None
    ordered = sorted(values)
    n = len(ordered)
    for name, share in (("p90", Fraction(9, 10)), ("p99", Fraction(99, 100)),
                        ("p99.9", Fraction(999, 1000))):
        rank = math.ceil(share * n)
        if n - rank < min_beyond:
            break
        best = (name, ordered[rank - 1])
    return best


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    kids = _children()
    out, todo = [], [root or os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def peak_rss_mb(root: int | None = None) -> float:
    """Sum of the RSS high-water marks (VmHWM) of the process tree: the
    Python process, the JVM and any Python workers it forked."""
    total_kb = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]
