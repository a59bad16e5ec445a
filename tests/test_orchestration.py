"""Orchestration semantics: declaration order, one retry, branch
isolation, the soft fail — and edge-faithful equality with run_pipeline
on the full e-commerce graph."""

from __future__ import annotations

import pytest

from ecommerce_data_engineering_spark.orchestration import (
    Dag, State, pipeline_dag,
)


def _nop(r):
    return "ok"


def test_tasks_run_in_declaration_order():
    """Declaration order is a topological order (an upstream must be
    declared first), and the run keeps it: ``c`` runs after ``b`` though
    a FIFO Kahn sort would run the root ``c`` before ``b``."""
    ran = []

    def record(name):
        return lambda r: ran.append(name)

    d = Dag("t")
    d.task("a", record("a"))
    d.task("b", record("b"), upstream=("a",))
    d.task("c", record("c"))
    runs = d.run()
    assert ran == ["a", "b", "c"]
    assert list(runs) == ["a", "b", "c"]
    assert all(r.state is State.SUCCESS for r in runs.values())


def test_unknown_upstream_and_duplicate_rejected():
    d = Dag("t")
    d.task("a", _nop)
    with pytest.raises(ValueError, match="unknown task"):
        d.task("b", _nop, upstream=("zzz",))
    with pytest.raises(ValueError, match="duplicate"):
        d.task("a", _nop)


def test_retry_recovers_transient_failure():
    """retries: 1 (the reference's) → a once-flaky task succeeds on
    attempt 2."""
    d = Dag("t")
    calls = {"n": 0}

    def flaky(r):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("transient")
        return "recovered"

    d.task("flaky", flaky)
    runs = d.run()
    assert runs["flaky"].state is State.SUCCESS
    assert runs["flaky"].attempts == 2
    assert runs["flaky"].result == "recovered"


def test_hard_failure_blocks_descendants_only():
    """warehouse_dag.py:554-563 semantics: a failed branch blocks its
    own descendants; sibling branches still run."""
    d = Dag("t")

    def boom(r):
        raise RuntimeError("permanent")

    d.task("ok_root", _nop)
    d.task("bad_root", boom)
    d.task("ok_child", _nop, upstream=("ok_root",))
    d.task("bad_child", _nop, upstream=("bad_root",))
    d.task("joined", _nop, upstream=("ok_child", "bad_child"))
    runs = d.run()
    assert runs["bad_root"].state is State.FAILED
    assert runs["bad_root"].attempts == 2            # initial + 1 retry
    assert runs["ok_child"].state is State.SUCCESS
    assert runs["bad_child"].state is State.UPSTREAM_FAILED
    assert runs["joined"].state is State.UPSTREAM_FAILED


def test_soft_fail_lets_downstream_proceed():
    """analytics_dag.py:325-328: campaign attribution failing must not
    block the views task."""
    d = Dag("t")

    def boom(r):
        raise RuntimeError("no campaign rows")

    d.task("attribution", boom, soft_fail=True)
    d.task("views", lambda r: r.get("attribution", "absent"),
           upstream=("attribution",))
    runs = d.run()
    assert runs["attribution"].state is State.SOFT_FAILED
    assert runs["views"].state is State.SUCCESS
    # soft-failed result surfaces as None, like run_pipeline's
    # campaign_attribution
    assert runs["views"].result is None


def test_pipeline_dag_matches_run_pipeline(spark):
    """The edge-faithful DAG produces the same tables as the straight-
    line run_pipeline (same build functions, same inputs → identical
    counts; spot-check one value column)."""
    from ecommerce_data_engineering_spark.pipeline import AS_OF_DATE, run_pipeline
    from ecommerce_data_engineering_spark.sources.synthetic import (
        generate_ecommerce,
    )

    raw = generate_ecommerce(spark, scale=0.05)
    expected = run_pipeline(spark, raw, as_of=AS_OF_DATE)

    d = pipeline_dag(spark, raw, as_of=AS_OF_DATE)
    runs = d.run()
    bad = {n: r.state for n, r in runs.items()
           if r.state not in (State.SUCCESS, State.SOFT_FAILED)}
    assert not bad, f"non-success states: {bad}"

    views = runs["create_business_summary_views"].result
    got = {
        "dim_customers": runs["transform_customers_dimension"].result,
        "fact_orders": runs["load_orders_fact"].result,
        "fact_order_items": runs["load_order_items_fact"].result,
        "daily_sales": runs["create_daily_sales_summary"].result,
        "customer_metrics": runs["create_customer_metrics"].result,
        "top_products": views["top_products"],
    }
    for name, df in got.items():
        assert df.count() == expected[name].count(), name
    # value spot-check: total revenue agrees across the two drivers
    from pyspark.sql import functions as F
    lhs = got["daily_sales"].agg(F.sum("total_revenue")).collect()[0][0]
    rhs = expected["daily_sales"].agg(F.sum("total_revenue")).collect()[0][0]
    assert lhs == rhs


def test_curation_dag_with_transient_failure_matches_direct_funnel(spark):
    """The curation funnel expressed as an orchestrated DAG (dedup →
    gate → split → pack as tasks, results flowing through the task
    graph) with a transiently-failing gate task: the retry recovers it
    and the final manifest equals the direct corpus_curation_funnel
    query — Airflow-equivalent semantics wrapped around the curation
    story."""
    from pyspark.sql import functions as F

    from ecommerce_data_engineering_spark.functions import tokens as T
    from ecommerce_data_engineering_spark.operators import dedup as D
    from ecommerce_data_engineering_spark.operators import packing as PK
    from ecommerce_data_engineering_spark.operators import sampling as SP
    from ecommerce_data_engineering_spark.operators import text as X
    from ecommerce_data_engineering_spark.orchestration import Dag, State
    from ecommerce_data_engineering_spark.plans import REGISTRY
    from ecommerce_data_engineering_spark.plans.curation import (
        PACK_BUDGET, PACK_SEED, PACK_SHARDS, SPLIT_SEED, SPLITS)
    from ecommerce_data_engineering_spark.sources import load

    sf = "/root/testdata/sf0.001"
    d = Dag("curation")
    flaked = {"n": 0}

    def dedup_task(r):
        docs = load(spark, sf, "documents")
        keepers = (D.exact_dedup(docs, "text", "doc_id")
                   .select(F.col("keeper_id").alias("doc_id")))
        return docs.join(keepers, "doc_id", "left_semi")

    def gate_task(r):
        flaked["n"] += 1
        if flaked["n"] == 1:
            raise RuntimeError("transient executor loss")
        return r["dedup"].filter(X.gopher_gate("text"))

    def split_task(r):
        return (SP.assign_splits(r["gate"], "doc_id", SPLITS, SPLIT_SEED)
                .filter(F.col("split") == "train"))

    def pack_task(r):
        n_tokens = F.size(F.regexp_extract_all(
            F.col("text"), F.lit(T.BPE_ISH_PATTERN), 0))
        toks = r["split"].select(
            "doc_id", n_tokens.cast("long").alias("n_tokens"))
        packed = PK.pack_sequences(toks, "doc_id", "n_tokens", PACK_BUDGET,
                                   num_shards=PACK_SHARDS, seed=PACK_SEED)
        return (packed.groupBy("shard", "bin_id")
                .agg(F.count(F.lit(1)).alias("n_docs"),
                     F.sum("n_tokens").alias("bin_tokens")))

    d.task("dedup", dedup_task)
    d.task("gate", gate_task, upstream=["dedup"])
    d.task("split", split_task, upstream=["gate"])
    d.task("pack", pack_task, upstream=["split"])
    runs = d.run()
    assert all(r.state is State.SUCCESS for r in runs.values())
    assert runs["gate"].attempts == 2

    got = sorted(map(tuple, runs["pack"].result.collect()))
    want = sorted(map(tuple,
                      REGISTRY["corpus_curation_funnel"].fn(spark, sf)
                      .collect()))
    assert got == want and len(want) > 0


def test_duplicate_upstream_entries_do_not_fake_a_cycle(spark):
    """A duplicated upstream name is accepted: the task runs once,
    after its upstream, and reads that upstream's result."""
    from ecommerce_data_engineering_spark.orchestration import Dag

    d = Dag("dup")
    d.task("a", lambda r: 1)
    d.task("b", lambda r: r["a"] + 1, upstream=("a", "a"))
    runs = d.run()
    assert runs["b"].result == 2
