"""The measurement harnesses' machine-load context (VERDICT r9 #1) is
what makes a delta measured on a shared box adjudicable from the
artifact alone — so its arithmetic gets unit tests.  No SparkSession
needed."""

from __future__ import annotations

from ecommerce_data_engineering_spark import loadctx


def test_busy_fraction_from_proc_stat_deltas():
    start = {"_stat": (100.0, 1000.0)}
    end = {"_stat": (400.0, 1500.0)}
    # 300 busy of 500 total jiffies over the window
    assert loadctx.busy_fraction(start, end) == 0.6


def test_busy_fraction_degrades_to_none():
    # missing snapshots (non-Linux /proc) or a non-advancing counter
    # must yield None, never a crash or a bogus 0.0
    assert loadctx.busy_fraction({}, {"_stat": (1.0, 2.0)}) is None
    assert loadctx.busy_fraction({"_stat": (1.0, 2.0)}, {}) is None
    assert loadctx.busy_fraction({"_stat": (5.0, 10.0)},
                                 {"_stat": (5.0, 10.0)}) is None


def test_load_snapshot_shape():
    snap = loadctx.load_snapshot()
    assert snap.get("ncpu") and snap["ncpu"] > 0
    # on Linux both samplers must be live
    assert len(snap["loadavg"]) == 3
    busy, total = snap["_stat"]
    assert 0 < busy <= total


def test_proc_stat_counts_iowait_as_idle():
    st = loadctx.proc_stat()
    assert st is not None
    busy, total = st
    # busy excludes idle+iowait by construction
    assert busy < total
