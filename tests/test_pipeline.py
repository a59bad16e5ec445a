"""Golden end-to-end pipeline test (SURVEY.md §5.2.2): run the full
staging→warehouse→analytics build on seeded synthetic data and assert
the reference's structural invariants (§5.1.3 analogues — exact Faker
values can't be reproduced, the invariants can)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ecommerce_data_engineering_spark.pipeline import run_pipeline
from ecommerce_data_engineering_spark.sources.synthetic import generate_ecommerce

AS_OF = "2024-07-09"


@pytest.fixture(scope="module")
def tables(spark):
    raw = generate_ecommerce(spark, scale=0.1)
    out = run_pipeline(spark, raw, as_of=AS_OF)
    for df in out.values():
        if df is not None:
            df.cache().count()
    return out


def test_dims_have_one_current_row_per_key(tables):
    for dim, key in (("dim_customers", "customer_id"),
                     ("dim_products", "product_id")):
        bad = (tables[dim].filter("is_current").groupBy(key).count()
               .filter("count <> 1").count())
        assert bad == 0, dim


def test_cleaning_applied(tables):
    dc = tables["dim_customers"]
    assert dc.filter(F.col("email") != F.lower(F.trim("email"))).count() == 0
    assert dc.filter(F.col("customer_segment").isNull()).count() == 0
    assert dc.filter(F.col("customer_segment") == "Unknown").count() > 0


def test_fact_orders_economics(tables):
    fo = tables["fact_orders"]
    # profit = total − tax − shipping (warehouse_dag.py:223)
    bad = fo.filter(
        F.col("profit") != (F.col("total_amount") - F.col("tax_amount")
                            - F.col("shipping_cost")).cast("decimal(12,2)")
    ).count()
    assert bad == 0
    # total_items = 1 hardcode quirk (warehouse_dag.py:224)
    assert fo.filter(F.col("total_items") != 1).count() == 0


def test_referential_integrity(tables):
    fo, fi = tables["fact_orders"], tables["fact_order_items"]
    dc = tables["dim_customers"].filter("is_current")
    assert fo.select("customer_key").distinct().count() <= dc.count()
    orphans = (fi.join(fo.select("order_id").distinct(), "order_id", "left_anti")
               .count())
    assert orphans == 0


def test_segments_partition_customers(tables):
    cm = tables["customer_metrics"]
    total = cm.count()
    by_seg = cm.groupBy("customer_segment").count()
    assert by_seg.agg(F.sum("count")).collect()[0][0] == total
    segs = {r.customer_segment for r in by_seg.collect()}
    assert segs <= {"Premium", "Regular", "Budget", "Unknown"}


def test_clv_non_negative_and_consistent(tables):
    cm = tables["customer_metrics"]
    assert cm.filter(F.col("lifetime_value") < 0).count() == 0
    # exec summary total revenue == sum of customer lifetime value
    total_clv = cm.agg(F.sum("lifetime_value")).collect()[0][0]
    exec_rev = tables["executive_summary"].collect()[0]["total_revenue"]
    assert total_clv == exec_rev


def test_churn_tiers_cover_all(tables):
    vals = {r.churn_risk for r in
            tables["customer_metrics"].select("churn_risk").distinct().collect()}
    assert vals <= {"No Orders", "High", "Medium", "Low"}


def test_daily_sales_totals_match_fact(tables):
    ds, fo = tables["daily_sales"], tables["fact_orders"]
    assert ds.agg(F.sum("total_orders")).collect()[0][0] == fo.count()
    assert (ds.agg(F.sum("total_revenue")).collect()[0][0]
            == fo.agg(F.sum("total_amount")).collect()[0][0])
    assert ds.filter(F.col("new_customers") != 0).count() == 0   # quirk


def test_daily_sales_plans_no_expand(tables):
    """total_orders counts fact_orders' upsert key plainly, so only one
    distinct aggregate is left and Spark plans no Expand."""
    from ecommerce_data_engineering_spark.pipeline import build_daily_sales

    ds = build_daily_sales(tables["fact_orders"])
    ds.collect()
    assert "Expand" not in ds._jdf.queryExecution().executedPlan().toString()


def test_daily_sales_total_orders_equal_distinct_orders(tables):
    from ecommerce_data_engineering_spark.functions.dates import key_date

    fo = tables["fact_orders"]
    distinct = (fo.groupBy(key_date(F.col("order_date_key"))
                           .alias("sales_date"))
                .agg(F.countDistinct("order_id").alias("total_orders")))
    got = tables["daily_sales"].select("sales_date", "total_orders")
    assert sorted(got.collect()) == sorted(distinct.collect())


def test_product_metrics_turnover_guard(tables):
    pm = tables["product_metrics"]
    assert pm.filter((F.col("total_stock") == 0)
                     & (F.col("stock_turnover") != 0)).count() == 0
    assert pm.filter(F.col("stock_turnover") < 0).count() == 0


def test_acquisition_buckets(tables):
    ca = tables["customer_acquisition"]
    vals = {r.acquisition_bucket for r in
            ca.select("acquisition_bucket").distinct().collect()}
    assert vals <= {"Never Purchased", "First Week", "First Month", "After Month"}
    bad = ca.filter((F.col("acquisition_bucket") == "Never Purchased")
                    & F.col("first_order_date").isNotNull()).count()
    assert bad == 0


def test_campaign_attribution_present(tables):
    ca = tables["campaign_attribution"]
    assert ca is not None and ca.count() > 0
    assert ca.filter(F.col("days_with_sales") <= 0).count() == 0


def test_dim_time_calendar_sanity(tables):
    dt = tables["dim_time"]
    assert dt.filter(~F.col("day_of_week").between(0, 6)).count() == 0
    assert dt.filter(F.col("is_weekend") & ~F.col("day_of_week").isin(0, 6)).count() == 0
    assert dt.groupBy("time_key").count().filter("count <> 1").count() == 0


def test_incremental_scd2_run(spark, tables):
    """Second pipeline run with mutated staging: SCD2 history grows only
    for changed keys; M2 upsert keeps fact counts stable."""
    raw2 = generate_ecommerce(spark, scale=0.1)
    # mutate: every 7th customer switches city (tracked attribute)
    raw2["customers"] = raw2["customers"].withColumn(
        "city",
        F.when(F.expr("substr(customer_id, 6) % 7 = 0"), F.lit("Bogra"))
         .otherwise(F.col("city")))
    out2 = run_pipeline(spark, raw2, as_of="2024-07-10", prior=tables)
    dc2 = out2["dim_customers"]
    assert (dc2.filter("is_current").groupBy("customer_id").count()
            .filter("count <> 1").count()) == 0
    moved = dc2.filter((F.col("city") == "Bogra") & F.col("is_current")).count()
    assert moved > 0
    closed = dc2.filter(~F.col("is_current")
                        & (F.col("expiry_date") == "2024-07-09")).count()
    assert closed == moved
    assert out2["fact_orders"].count() == tables["fact_orders"].count()


def test_surrogate_keys_durable_across_runs(spark, tables):
    """A new natural key that sorts BEFORE every existing key must not
    shift anyone else's surrogate (reference SERIAL semantics): retained
    facts keep joining to the same customers (ADVICE r01 #1)."""
    raw2 = generate_ecommerce(spark, scale=0.1)
    newcomer = (raw2["customers"].limit(1)
                .withColumn("customer_id", F.lit("AAAA_NEW"))
                .withColumn("city", F.lit("Sylhet")))
    raw2["customers"] = newcomer.unionByName(raw2["customers"])
    out2 = run_pipeline(spark, raw2, as_of="2024-07-10", prior=tables)

    old_map = {r.customer_id: r.customer_key for r in
               tables["dim_customers"].filter("is_current")
               .select("customer_id", "customer_key").collect()}
    new_map = {r.customer_id: r.customer_key for r in
               out2["dim_customers"].filter("is_current")
               .select("customer_id", "customer_key").collect()}
    assert all(new_map[k] == v for k, v in old_map.items())
    # the newcomer (which sorts first) got the NEXT key, not key 1
    assert new_map["AAAA_NEW"] == max(old_map.values()) + 1
    # retained facts still resolve to the same customers
    fact_keys = {r.customer_key for r in
                 out2["fact_orders"].select("customer_key").distinct().collect()}
    assert fact_keys <= set(new_map.values())


def test_pipeline_from_csv_files(spark, tmp_path):
    """Close the S1→pipeline loop: generator → CSV files on disk →
    declared-schema CSV scan (PERMISSIVE) → full pipeline.  Mirrors the
    reference's actual input path (CSV → staging, staging_dag.py)."""
    from ecommerce_data_engineering_spark.schemas import ECOMMERCE
    from ecommerce_data_engineering_spark.sources import read_csv_declared

    raw = generate_ecommerce(spark, scale=0.02)
    csv_raw = {}
    for name, df in raw.items():
        path = str(tmp_path / name)
        df.write.mode("overwrite").option("header", True).csv(path)
        schema = ECOMMERCE.get(name)
        if schema is None:
            csv_raw[name] = spark.read.csv(path, header=True, inferSchema=True)
        else:
            from pyspark.sql import types as T
            sub = T.StructType([f for f in schema.fields if f.name in df.columns])
            csv_raw[name] = read_csv_declared(spark, path, sub)
    out = run_pipeline(spark, csv_raw, as_of=AS_OF)
    assert out["fact_orders"].count() == raw["orders"].count()
    assert out["daily_sales"].count() > 0
    bad = (out["dim_customers"].filter("is_current")
           .groupBy("customer_id").count().filter("count <> 1").count())
    assert bad == 0


def test_full_warehouse_inventory(tables, spark):
    """All 8 warehouse tables + 6 metric tables + 5 views exist
    (reference data model, SURVEY.md §1.1)."""
    raw = generate_ecommerce(spark, scale=0.05)
    out = run_pipeline(spark, raw, as_of=AS_OF)
    expected = {"dim_customers", "dim_products", "dim_time", "dim_campaigns",
                "fact_orders", "fact_order_items", "fact_clickstream",
                "fact_inventory", "customer_metrics", "product_metrics",
                "daily_sales", "monthly_trends", "customer_acquisition",
                "campaign_attribution", "executive_summary", "top_products",
                "customer_segmentation", "seasonal_performance",
                "acquisition_summary"}
    assert expected <= set(out)
    # anonymous clickstream rows survive with NULL surrogate keys (J3)
    fc = out["fact_clickstream"]
    assert fc.count() == raw["clickstream"].count()
    assert fc.filter(F.col("customer_key").isNull()).count() > 0
    # inventory fact resolves every product
    assert out["fact_inventory"].filter(F.col("product_key").isNull()).count() == 0
    # views
    assert out["top_products"].count() <= 20
    assert abs(sum(r.pct_of_customers for r in
                   out["customer_segmentation"].collect()) - 100.0) < 0.5


def test_pipeline_tolerates_empty_orders(spark):
    """Robustness: an empty daily batch must flow through staging →
    SCD2 → facts → analytics without errors (the Monday-morning empty
    feed), producing empty facts and order-less metrics."""
    raw = generate_ecommerce(spark, scale=0.02)
    raw["orders"] = raw["orders"].limit(0)
    raw["order_items"] = raw["order_items"].limit(0)
    out = run_pipeline(spark, raw, as_of=AS_OF)
    assert out["fact_orders"].count() == 0
    assert out["daily_sales"].count() == 0
    cm = out["customer_metrics"]
    assert cm.count() > 0
    assert cm.filter(F.col("churn_risk") != "No Orders").count() == 0


def test_pipeline_raises_warehouse_quality_error(spark):
    """A hard warehouse check failing fails the run: no current customer
    rows raises QualityError naming the check (warehouse_dag.py:462-488)."""
    from ecommerce_data_engineering_spark.quality import QualityError

    raw = generate_ecommerce(spark, scale=0.02)
    raw["customers"] = raw["customers"].limit(0)
    with pytest.raises(QualityError, match="dim_customers_current"):
        run_pipeline(spark, raw, as_of=AS_OF)


def test_campaign_attribution_soft_fails(spark):
    """analytics_dag.py:325-328: attribution is the one soft-fail table.
    A campaign feed without ``channel`` leaves it None and every other
    table built."""
    raw = generate_ecommerce(spark, scale=0.02)
    raw["marketing_campaigns"] = raw["marketing_campaigns"].drop("channel")
    out = run_pipeline(spark, raw, as_of=AS_OF)
    assert out["campaign_attribution"] is None
    others = {k: v for k, v in out.items() if k != "campaign_attribution"}
    assert len(others) == 18
    assert all(v is not None for v in others.values())
    assert out["daily_sales"].count() > 0


def test_pipeline_failure_contract(spark, monkeypatch):
    """Two sibling warehouse tasks fail for good: each is tried twice
    (the reference's ``retries: 1``), a sibling branch still builds,
    their common descendant is blocked, and run_pipeline raises the
    error of the failed task declared first."""
    from ecommerce_data_engineering_spark import pipeline as P
    from ecommerce_data_engineering_spark.orchestration import (
        State, pipeline_dag)

    class InventoryError(RuntimeError):
        pass

    class CampaignsError(RuntimeError):
        pass

    def fail(exc):
        def build(*args):
            raise exc("broken feed")
        return build

    monkeypatch.setattr(P, "build_fact_inventory", fail(InventoryError))
    monkeypatch.setattr(P, "build_dim_campaigns", fail(CampaignsError))
    raw = generate_ecommerce(spark, scale=0.02)
    with pytest.raises(InventoryError):
        run_pipeline(spark, raw, as_of=AS_OF)

    runs = pipeline_dag(spark, raw, AS_OF).run()
    for name, exc in (("load_inventory_fact", InventoryError),
                      ("load_marketing_campaigns_dimension", CampaignsError)):
        assert runs[name].state is State.FAILED, name
        assert runs[name].attempts == 2, name
        assert isinstance(runs[name].error, exc), name
    assert runs["load_clickstream_fact"].state is State.SUCCESS
    assert runs["validate_warehouse_data"].state is State.UPSTREAM_FAILED


def test_materialize_partitioned_facts_roundtrip(spark, tables, tmp_path):
    """Close the S4/S5 loop with real pipeline data: write fact_orders
    month-partitioned, read back, verify counts and partition pruning."""
    from ecommerce_data_engineering_spark.sources import write_partitioned

    fo = tables["fact_orders"]
    out = str(tmp_path / "fact_orders")
    write_partitioned(fo, out)
    back = spark.read.parquet(out)
    assert back.count() == fo.count()
    months = sorted(r.order_month for r in
                    back.select("order_month").distinct().collect())
    assert len(months) >= 12
    one = back.filter(F.col("order_month") == months[0])
    want = fo.filter(
        (F.col("order_date_key") / 100).cast("int") == months[0]).count()
    assert one.count() == want


def test_pipeline_tables_cache_is_session_scoped(spark, monkeypatch):
    """plans.pipeline_queries._tables memoizes the pipeline output per
    SparkSession OBJECT (mirroring readers._relation_cache, VERDICT r5
    #2): same session → same dict (identity hit); a newSession() sharing
    the application must get its OWN build, never frames pinned to the
    sibling session's SQLConf; and the memo dies with the session object
    instead of accreting in a module global.  run_pipeline is stubbed —
    the cache SEMANTICS are under test here; the real pipeline output is
    driver-verified via pipeline_dim_customers_scd2 and the rest of
    tests/test_pipeline.py, and a real double-build would cost ~5 min."""
    from ecommerce_data_engineering_spark.plans import pipeline_queries as pq

    monkeypatch.setattr(pq, "generate_ecommerce", lambda s, scale: None)
    monkeypatch.setattr(pq, "run_pipeline",
                        lambda s, tables, as_of: {"built_for": s})
    sess_a, sess_b = spark.newSession(), spark.newSession()
    try:
        assert sess_a.sparkContext.applicationId == \
            spark.sparkContext.applicationId      # shared app, the trap
        a = pq._tables(sess_a)
        assert pq._tables(sess_a) is a            # identity hit
        assert a["built_for"] is sess_a
        b = pq._tables(sess_b)
        assert b is not a                         # isolated per session
        assert b["built_for"] is sess_b
        assert getattr(sess_b, pq._CACHE_ATTR) is b
    finally:
        for s in (sess_a, sess_b):
            if hasattr(s, pq._CACHE_ATTR):
                delattr(s, pq._CACHE_ATTR)
