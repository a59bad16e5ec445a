"""Machine-load context snapshots for the benchmark.

perfbench records load average + /proc/stat busy fraction around its
measurement windows so a delta measured on a shared box is adjudicable
from the artifact alone (VERDICT r9 #1).  Importable without the query
registry.
"""

from __future__ import annotations

import os


def proc_stat() -> tuple[float, float] | None:
    """(busy_jiffies, total_jiffies) from the aggregate cpu line.

    Sums only fields 1-8 (user..steal): the kernel already folds
    guest/guest_nice (fields 9-10) into user/nice, so including them
    would double-count guest time and overstate the busy fraction on
    VM hosts (ADVICE r10)."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
    except OSError:
        return None
    vals = [float(x) for x in parts[1:9]]
    idle = vals[3] + (vals[4] if len(vals) > 4 else 0.0)  # idle+iowait
    total = sum(vals)
    return total - idle, total


def load_snapshot() -> dict:
    snap: dict = {}
    try:
        l1, l5, l15 = os.getloadavg()
        snap["loadavg"] = [round(l1, 2), round(l5, 2), round(l15, 2)]
    except OSError:
        pass
    st = proc_stat()
    if st:
        snap["_stat"] = st
    snap["ncpu"] = os.cpu_count()
    return snap


def busy_fraction(start: dict, end: dict) -> float | None:
    """Whole-machine CPU busy fraction between two snapshots."""
    a, b = start.get("_stat"), end.get("_stat")
    if not a or not b or b[1] <= a[1]:
        return None
    return round((b[0] - a[0]) / (b[1] - a[1]), 4)
