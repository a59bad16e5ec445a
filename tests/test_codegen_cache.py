"""Repeated dashboard queries reuse their generated code.

A dashboard re-reads the same registered queries again and again.  One
pass over its 13 queries generates ~190 Janino classes, more than
Spark's default generated-class cache (100 entries) holds, so without
``get_spark``'s larger cache every repeat recompiles its code.  The
second pass over the mix must compile nothing.  Each pass clears the
session's query memo first, so it builds fresh plans: re-executing the
memoized ones would compile nothing whatever the cache size."""

from __future__ import annotations

from ecommerce_data_engineering_spark.plans import REGISTRY, clear_query_memo

# the dashboard mix, as in perfbench/workloads.py::DASHBOARD_QUERIES
DASHBOARD_QUERIES = [
    "customer_metrics", "product_metrics", "top_products", "daily_sales",
    "revenue_by_nation", "revenue_rollup", "pricing_summary",
    "top_revenue_orders", "campaign_attribution_scalable",
    "events_hourly_rollup", "events_sessionization", "snapshot_cdc_diff",
    "cdc_incremental_metrics"]


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _run_mix(spark, sf_dir) -> int:
    clear_query_memo(spark)
    before = _compiles(spark)
    for name in DASHBOARD_QUERIES:
        REGISTRY[name].fn(spark, sf_dir).collect()
    return _compiles(spark) - before


def test_second_dashboard_pass_compiles_nothing(spark, sf_dir):
    # the first pass may find classes earlier tests left in the cache
    _run_mix(spark, sf_dir)
    recompiled = _run_mix(spark, sf_dir)
    assert recompiled == 0, f"second pass compiled {recompiled} classes"
