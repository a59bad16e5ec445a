"""Registered queries reuse their built plan while the inputs'
snapshots and the session's SQL conf are unchanged, and once that plan
has run to its final adaptive stage a repeat returns its stored result
(plans/registry.py).  Anything else rebuilds: a rewritten input, a
changed conf, a query whose leaves are not file relations that ``load``
returned, or another session."""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import threading

import pytest

from ecommerce_data_engineering_spark.plans import REGISTRY, clear_query_memo
from ecommerce_data_engineering_spark.plans.registry import (
    _memoized, _query_memo)


@pytest.fixture()
def table_dir(spark, sf_dir):
    """A private parquet copy of the fixture's lineitem table; the
    session's query memo is emptied afterwards, freeing what it kept."""
    d = tempfile.mkdtemp(prefix="query_reuse_")
    (spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
     .write.parquet(os.path.join(d, "lineitem.parquet")))
    yield d
    clear_query_memo(spark)
    shutil.rmtree(d, ignore_errors=True)


def _in_group(spark, group: str, action) -> None:
    sc = spark.sparkContext
    sc.setJobGroup(group, "query-reuse probe")
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _jobs(spark, group: str, action) -> int:
    _in_group(spark, group, action)
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def _shuffle_read(spark, group: str, action) -> int:
    """Shuffle bytes read by the stages ``action`` ran."""
    _in_group(spark, group, action)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    no_tasks = sc._jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    total = 0
    for jid in tracker.getJobIdsForGroup(group):
        for sid in tracker.getJobInfo(jid).stageIds:
            attempts = store.stageData(sid, False, no_tasks, False,
                                       no_quantiles)
            for a in range(attempts.size()):
                total += attempts.apply(a).shuffleReadBytes()
    return total


def _persisted(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_hit_returns_same_dataframe_and_reruns_one_stage(spark, table_dir):
    """After an action, a hit returns the stored result: its first
    action runs the kept plan's final stage as one job and stores the
    rows; later hits return the same object, whose actions read the
    stored blocks and no shuffle output."""
    fn = REGISTRY["pricing_summary"].fn
    df = fn(spark, table_dir)
    first = sorted(df.collect())
    stored = fn(spark, table_dir)
    assert stored is not df
    rows = []
    assert _jobs(spark, "query-reuse-store",
                 lambda: rows.extend(stored.collect())) == 1
    assert fn(spark, table_dir) is stored
    again = []
    assert _shuffle_read(spark, "query-reuse-hit",
                         lambda: again.extend(stored.collect())) == 0
    assert sorted(rows) == sorted(again) == first


def test_reading_the_kept_plan_reads_shuffle_output(spark, table_dir):
    """Counter-test: the probe above sees shuffle reads when there are
    any, so its zero is not vacuous."""
    df = REGISTRY["pricing_summary"].fn(spark, table_dir)
    assert _shuffle_read(spark, "query-reuse-cold", df.collect) > 0


def test_hit_before_any_action_returns_the_kept_plan(spark, table_dir):
    fn = REGISTRY["pricing_summary"].fn
    df = fn(spark, table_dir)
    handed = []
    assert _jobs(spark, "query-reuse-unrun",
                 lambda: handed.append(fn(spark, table_dir))) == 0
    assert handed == [df]


def test_rewrite_and_clear_free_the_stored_blocks(spark, sf_dir, table_dir):
    """A rewritten input replaces the entry, and ``clear_query_memo``
    empties the memo; each unpersists the stored blocks before it
    returns.  Compares the persisted RDD ids added after the baseline:
    SparkContext holds persisted RDDs through weak references, so a GC
    can drop unrelated ones."""
    fn = REGISTRY["pricing_summary"].fn
    path = os.path.join(table_dir, "lineitem.parquet")
    base = max(_persisted(spark), default=-1)

    def stored() -> set[int]:
        fn(spark, table_dir).collect()
        fn(spark, table_dir).collect()
        return {i for i in _persisted(spark) if i > base}

    assert stored()
    (spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
     .write.mode("overwrite").parquet(path))
    fn(spark, table_dir)
    assert not {i for i in _persisted(spark) if i > base}
    assert stored()
    clear_query_memo(spark)
    assert not {i for i in _persisted(spark) if i > base}


def test_nondeterministic_plan_is_never_stored(spark, table_dir):
    from pyspark.sql import functions as F

    from ecommerce_data_engineering_spark.sources import load

    def noisy(spark, sf_dir):
        return (load(spark, sf_dir, "lineitem")
                .withColumn("noise", F.rand())
                .groupBy("l_returnflag").agg(F.sum("noise").alias("s")))

    fn = _memoized("query_reuse_noise", noisy)
    df = fn(spark, table_dir)
    df.collect()
    assert "isFinalPlan=true" in _plan(df)
    assert fn(spark, table_dir) is df
    assert _query_memo(spark)[("query_reuse_noise", table_dir)].stored is None


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
        fn(spark, sf_dir)
        assert _query_memo(spark)[("customer_metrics", sf_dir)].df is again
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
    was handed, holding at most one stored result."""
    fn = REGISTRY["pricing_summary"].fn
    expected = sorted(fn(spark, sf_dir).collect())
    base = max(_persisted(spark), default=-1)
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
    assert len({i for i in _persisted(spark) if i > base}) <= 1
