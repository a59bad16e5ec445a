"""Registered queries reuse their built plan, and the plan's finished
stages, while the inputs' snapshots and the session's SQL conf are
unchanged (plans/registry.py).  Anything else rebuilds: a rewritten
input, a changed conf, a query whose leaves are not file relations
that ``load`` returned, or another session."""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import threading

import pytest

from ecommerce_data_engineering_spark.plans import REGISTRY
from ecommerce_data_engineering_spark.plans.registry import _query_memo


@pytest.fixture()
def table_dir(spark, sf_dir):
    """A private parquet copy of the fixture's lineitem table, dropped
    from the session's query memo afterwards."""
    d = tempfile.mkdtemp(prefix="query_reuse_")
    (spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
     .write.parquet(os.path.join(d, "lineitem.parquet")))
    yield d
    memo = _query_memo(spark)
    for key in [k for k in memo if k[1] == d]:
        del memo[key]
    shutil.rmtree(d, ignore_errors=True)


def _jobs(spark, group: str, action) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, "query-reuse probe")
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_hit_returns_same_dataframe_and_reruns_one_stage(spark, table_dir):
    fn = REGISTRY["pricing_summary"].fn
    df = fn(spark, table_dir)
    first = sorted(df.collect())
    assert fn(spark, table_dir) is df
    # the shuffle-map stage's output still exists: only the final stage
    # runs again
    rows = []
    assert _jobs(spark, "query-reuse-hit",
                 lambda: rows.extend(df.collect())) == 1
    assert sorted(rows) == first


def test_changed_conf_rebuilds_the_plan(spark, sf_dir):
    fn = REGISTRY["customer_metrics"].fn
    key = "spark.sql.autoBroadcastJoinThreshold"
    prior = spark.conf.get(key)
    df = fn(spark, sf_dir)
    df.collect()
    assert "BroadcastHashJoin" in _plan(df)
    try:
        spark.conf.set(key, "-1")
        again = fn(spark, sf_dir)
        assert again is not df
        again.collect()
        assert "BroadcastHashJoin" not in _plan(again)
        assert fn(spark, sf_dir) is again
    finally:
        spark.conf.set(key, prior)
    assert fn(spark, sf_dir) is not again


@pytest.mark.parametrize("name", ["ingest_refresh_roundtrip", "dq_contract"])
def test_queries_with_construction_work_rebuild_every_call(spark, sf_dir,
                                                           name):
    fn = REGISTRY[name].fn
    first = fn(spark, sf_dir)
    # construction runs its jobs again: the query was built again
    assert _jobs(spark, f"query-reuse-{name}",
                 lambda: fn(spark, sf_dir)) > 0
    assert fn(spark, sf_dir) is not first
    assert (name, sf_dir) not in _query_memo(spark)


def test_persisted_data_is_not_reused(spark, sf_dir):
    """dedup_minhash_lsh persists its shingles.  A kept plan would
    persist them again on its next run, after ``clearCache`` dropped
    them, where no later ``clearCache`` reaches; so the query rebuilds
    and the session's persisted RDDs return to their baseline."""
    def persisted() -> int:
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    fn = REGISTRY["dedup_minhash_lsh"].fn
    spark.catalog.clearCache()
    baseline = persisted()
    try:
        df = fn(spark, sf_dir)
        df.collect()
        spark.catalog.clearCache()
        again = fn(spark, sf_dir)
        assert again is not df
        again.collect()
        spark.catalog.clearCache()
        assert persisted() == baseline
        assert ("dedup_minhash_lsh", sf_dir) not in _query_memo(spark)
    finally:
        spark.catalog.clearCache()


def test_sessions_share_no_entries(spark, sf_dir):
    fn = REGISTRY["daily_sales"].fn
    df = fn(spark, sf_dir)
    other = spark.newSession()
    assert fn(other, sf_dir) is not df
    assert _query_memo(other) is not _query_memo(spark)
    assert fn(spark, sf_dir) is df


def test_rewrites_leave_one_entry_per_query_and_dir(spark, sf_dir,
                                                    table_dir):
    """Each Spark overwrite of the input returns the new data, and the
    memo keeps only the latest build."""
    from pyspark.sql import functions as F

    fn = REGISTRY["pricing_summary"].fn
    assert {r.l_returnflag for r in fn(spark, table_dir).collect()} > {"R"}
    src = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    built = []
    for flag in ("A", "N", "R"):
        (src.filter(F.col("l_returnflag") == flag).write.mode("overwrite")
         .parquet(os.path.join(table_dir, "lineitem.parquet")))
        built.append(fn(spark, table_dir))
        assert {r.l_returnflag for r in built[-1].collect()} == {flag}
    assert len({id(df) for df in built}) == 3
    mine = [k for k in _query_memo(spark) if k[1] == table_dir]
    assert mine == [("pricing_summary", table_dir)]
    assert _query_memo(spark)[mine[0]].df is built[-1]


def test_concurrent_calls_agree(spark, sf_dir, table_dir):
    """Clients racing on one query (the dashboard runs two) each get a
    correct result, and the memo ends with one entry that one of them
    was handed."""
    fn = REGISTRY["pricing_summary"].fn
    expected = sorted(fn(spark, sf_dir).collect())
    handed, results = [], []

    def client() -> None:
        for _ in range(3):
            df = fn(spark, table_dir)
            handed.append(df)
            results.append(sorted(df.collect()))

    prior = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=client) for _ in range(6)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(prior)
    assert not any(t.is_alive() for t in threads)
    assert len(results) == 18
    assert all(r == expected for r in results)
    entry = _query_memo(spark)[("pricing_summary", table_dir)]
    assert any(entry.df is df for df in handed)
