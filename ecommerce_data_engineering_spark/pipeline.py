"""The full reference pipeline — staging → warehouse → analytics — over
the e-commerce schema, DECIMAL money preserved (SURVEY.md §3).

This is the fidelity layer: each function reproduces one Airflow task
of the reference (staging_dag.py / warehouse_dag.py / analytics_dag.py)
as a DataFrame build.  ``orchestration.pipeline_dag`` is the one task
graph that wires them; ``run_pipeline`` runs it inside one SparkSession
(SURVEY.md §3.4).  The documented quirks (§7.4.5) are replicated and
cited inline.

Scale posture: dims broadcast; facts shuffle once on their join key;
every analytics table is a single groupBy; campaign attribution uses
the broadcast range join (25 campaigns) with the date-expansion
equi-join available for bigger campaign tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import AS_OF_DATE
from .functions.cleaning import clean_string, coerce_numeric, fill_unknown
from .functions.business import (acquisition_bucket, churn_risk,
                                 pct_of_total, stock_turnover)
from .functions.dates import calendar_columns, date_key, days_between, key_date
from .operators.range_join import range_join
from .operators.scd2 import OPEN_EXPIRY, scd2_merge
from .operators.upsert import keyed_upsert
from . import quality as Q
from .orchestration import State, pipeline_dag, pipeline_tables

# ---------------------------------------------------------------- staging


def stage_customers(raw: DataFrame) -> DataFrame:
    """staging_dag.py:52-84: email lower+trim (P1), segment fillna (P2)."""
    return (raw
            .withColumn("email", clean_string("email"))
            .withColumn("customer_segment", fill_unknown("customer_segment")))


def stage_products(raw: DataFrame) -> DataFrame:
    """staging_dag.py:90-120: price coercion (P3) + dropna (P5)."""
    return (raw
            .withColumn("cost_price", coerce_numeric("cost_price"))
            .withColumn("selling_price", coerce_numeric("selling_price"))
            .na.drop(subset=["cost_price", "selling_price"]))


def stage_orders(raw: DataFrame) -> DataFrame:
    """staging_dag.py:126-156: date coercion (P4) + dropna (P5)."""
    return (raw
            .withColumn("order_date", F.col("order_date").try_cast("date"))
            .na.drop(subset=["order_date", "customer_id"]))


def staging_quality(staged: dict[str, DataFrame]) -> list[Q.CheckResult]:
    """staging_dag.py:233-259 (Q2-Q4).  The reference *logs* these
    values rather than failing on them (tasks fail only on exceptions),
    so every check here runs soft; callers wanting hard gates use
    quality.py directly with soft=False."""
    return [
        Q.check_row_count(staged["customers"], 1, "customers", soft=True),
        Q.check_row_count(staged["orders"], 1, "orders", soft=True),
        Q.check_null_count(staged["customers"], "email", at_most=10**9, soft=True),
        Q.check_rule(staged["products"],
                     (F.col("cost_price") <= 0) | (F.col("selling_price") <= 0),
                     "invalid_prices", at_most=10**9, soft=True),
    ]


# -------------------------------------------------------------- warehouse


def _attach_surrogate(dim: DataFrame, prior_dim: DataFrame | None,
                      natural_key: str, surrogate: str) -> DataFrame:
    """Join the durable key mapping onto every version row of the dim
    (all versions of a natural key share one surrogate — SERIAL
    parity).  Prior keys are reused verbatim; only first-seen keys get
    new values (max prior + row_number over the new keys alone)."""
    from .operators.keys import surrogate_mapping

    prior_map = (prior_dim.select(natural_key, surrogate).distinct()
                 if prior_dim is not None and surrogate in prior_dim.columns
                 else None)
    mapping = surrogate_mapping(dim, natural_key, surrogate, prior_map)
    # null-safe attach: surrogate_mapping deliberately gives a NULL
    # natural key a durable surrogate; a plain equi-join would drop
    # that dim row here (NULL = NULL is never true)
    m = mapping.select(F.col(natural_key).alias("__nk"), surrogate)
    return (dim.join(m, F.col(natural_key).eqNullSafe(F.col("__nk")))
            .drop("__nk"))


def _scd2_dim(snapshot: DataFrame, prior: DataFrame | None, key: str,
             surrogate: str, tracked: list[str], as_of: str) -> DataFrame:
    """SCD2 versions of ``snapshot`` carrying the durable surrogate key.

    No ``prior`` is the initial load: every staged row becomes a current
    version.  Otherwise the merge runs on the attribute columns only
    (the stored key is stripped from ``prior`` so it isn't mistaken for
    a tracked attr).  Then the key mapping is re-attached: prior keys
    verbatim, new natural keys get max(prior)+row_number(new) — facts
    retained by the M2 upsert keep resolving to the same dim rows run
    over run."""
    if prior is None:
        dim = (snapshot
               .withColumn("effective_date", F.lit(as_of).cast("date"))
               .withColumn("expiry_date", F.lit(OPEN_EXPIRY).cast("date"))
               .withColumn("is_current", F.lit(True)))
    else:
        dim = scd2_merge(prior.drop(surrogate), snapshot, key,
                         tracked=tracked, as_of_date=as_of)
    return _attach_surrogate(dim, prior, key, surrogate)


def build_dim_customers(staged: DataFrame, prior: DataFrame | None,
                        as_of: str = AS_OF_DATE) -> DataFrame:
    """warehouse_dag.py:31-92 — SCD2 on segment/city/country; full_name
    via null-propagating `||` concat (P6: PG `first || ' ' || last`
    yields NULL if either side is NULL — F.concat matches; concat_ws
    would skip NULLs, a documented semantic difference, SURVEY §2.2).
    ``prior`` is yesterday's keyed dim; the result carries
    ``customer_key``."""
    snapshot = (staged.withColumn(
        "full_name",
        F.concat(F.col("first_name"), F.lit(" "), F.col("last_name")))
        .select("customer_id", "full_name", "email", "customer_segment",
                "city", "country", "registration_date"))
    return _scd2_dim(snapshot, prior, "customer_id", "customer_key",
                     ["customer_segment", "city", "country"], as_of)


def build_dim_products(staged: DataFrame, prior: DataFrame | None,
                       as_of: str = AS_OF_DATE) -> DataFrame:
    """warehouse_dag.py:94-153 — SCD2 on cost/sell/is_active, plus the
    profit-margin projection (P12/P13, warehouse_dag.py:128).  ``prior``
    is yesterday's keyed dim; the result carries ``product_key``."""
    margin = F.when(
        F.col("selling_price") > 0,
        F.round((F.col("selling_price") - F.col("cost_price"))
                / F.col("selling_price") * 100, 2),
    ).cast("decimal(5,2)")
    snapshot = (staged
                .withColumn("profit_margin", margin)
                .select("product_id", "product_name", "category", "brand",
                        "cost_price", "selling_price", "profit_margin",
                        "is_active"))
    return _scd2_dim(snapshot, prior, "product_id", "product_key",
                     ["cost_price", "selling_price", "is_active"], as_of)


def build_dim_time(orders_staged: DataFrame,
                   prior: DataFrame | None = None) -> DataFrame:
    """warehouse_dag.py:160-180: distinct order dates → calendar
    attributes (P8-P11; PG DOW semantics), insert-if-absent (M4)."""
    d = F.col("order_date")
    fresh = (orders_staged.select(d.alias("order_date")).distinct()
             .select(date_key(d).alias("time_key"),
                     d.cast("date").alias("full_date"), *calendar_columns(d)))
    if prior is None:
        return fresh
    from .operators.upsert import insert_if_absent
    return insert_if_absent(prior, fresh, "time_key")


def _current(dim: DataFrame) -> DataFrame:
    """P20: the current dim rows.  Every dim carries its DURABLE stored
    key column (operators/keys.surrogate_mapping — assigned at first
    sight, never recomputed), so facts resolve against it directly."""
    return dim.filter(F.col("is_current"))


def build_fact_orders(orders_staged: DataFrame, dim_customers: DataFrame,
                      prior: DataFrame | None = None) -> DataFrame:
    """warehouse_dag.py:202-227: resolve surrogate keys against current
    dim rows (J1/J4), smart date key (P8), profit = total−tax−shipping
    (P12), `total_items = 1` hardcode (quirk, warehouse_dag.py:224),
    idempotent keyed upsert (M2)."""
    dim = _current(dim_customers)
    fact = (
        orders_staged.join(F.broadcast(dim.select("customer_id", "customer_key")),
                           "customer_id")
        .select(
            "order_id",
            "customer_key",
            date_key("order_date").alias("order_date_key"),
            "order_status",
            "subtotal", "discount_amount", "shipping_cost", "tax_amount",
            "total_amount",
            (F.col("total_amount") - F.col("tax_amount")
             - F.col("shipping_cost")).cast("decimal(12,2)").alias("profit"),
            F.lit(1).alias("total_items"),
        )
    )
    return fact if prior is None else keyed_upsert(prior, fact, "order_id")


def build_fact_order_items(items_staged: DataFrame, fact_orders: DataFrame,
                           dim_products: DataFrame,
                           prior: DataFrame | None = None) -> DataFrame:
    """warehouse_dag.py:247-273 (J2 multi-way): items resolve order facts
    + current products; item profit = (price − cost) × qty (P12)."""
    dimp = _current(dim_products)
    fact = (
        items_staged
        .join(fact_orders.select("order_id", "customer_key", "order_date_key"),
              "order_id")
        .join(F.broadcast(dimp.select("product_id", "product_key", "cost_price")),
              "product_id")
        .select(
            "order_item_id", "order_id", "customer_key", "product_key",
            "order_date_key", "quantity", "unit_price", "total_price",
            ((F.col("unit_price") - F.col("cost_price")) * F.col("quantity"))
            .cast("decimal(12,2)").alias("item_profit"),
        )
    )
    return fact if prior is None else keyed_upsert(prior, fact, "order_item_id")


def build_fact_clickstream(click_staged: DataFrame,
                           dim_customers: DataFrame,
                           dim_products: DataFrame) -> DataFrame:
    """warehouse_dag.py:382-426: clickstream events resolve surrogate
    keys but KEEP anonymous rows (left joins, J3).  30% NULL
    customer_id is the skew driver (§7.4.8) — the null-safe join keeps
    NULL keys out of the shuffle entirely."""
    from .operators.skew import null_safe_left_join

    dimc = _current(dim_customers).select("customer_id", "customer_key")
    dimp = _current(dim_products).select("product_id", "product_key")
    fact = null_safe_left_join(click_staged, dimc, "customer_id")
    fact = null_safe_left_join(fact, dimp, "product_id")
    return fact.select(
        "event_id", "session_id", "customer_key", "product_key",
        "event_type", "device_type",
        date_key(F.col("timestamp")).alias("event_date_key"),
        "timestamp", "duration_seconds",
    )


def build_fact_inventory(inventory_staged: DataFrame,
                         dim_products: DataFrame) -> DataFrame:
    """warehouse_dag.py:296-340: full-refresh inventory fact (M3)."""
    dimp = _current(dim_products).select("product_id", "product_key")
    return (inventory_staged.join(F.broadcast(dimp), "product_id")
            .select("inventory_id", "product_key", "warehouse_location",
                    "current_stock", "reserved_stock",
                    (F.col("current_stock") - F.col("reserved_stock"))
                    .alias("available_stock")))


def build_dim_campaigns(campaigns_staged: DataFrame) -> DataFrame:
    """warehouse_dag.py:344-378: campaign dim with duration (M3)."""
    return campaigns_staged.withColumn(
        "duration_days",
        days_between("start_date", "end_date") + F.lit(1))


def warehouse_quality(fact_orders: DataFrame,
                      dim_customers: DataFrame) -> list[Q.CheckResult]:
    """warehouse_dag.py:462-488: current-row count + orphan FK check."""
    current = _current(dim_customers)
    return [
        Q.check_row_count(current, 1, "dim_customers_current"),
        Q.check_referential(
            fact_orders, current,
            "customer_key", "customer_key", "fact_orders→dim_customers"),
    ]


# -------------------------------------------------------------- analytics


def build_customer_metrics(dim_customers: DataFrame, fact_orders: DataFrame,
                           as_of: str = AS_OF_DATE) -> DataFrame:
    """analytics_dag.py:44-69: per-customer rollup + churn tiers."""
    dim = _current(dim_customers)
    as_of_c = F.lit(as_of).cast("date")
    last_date = key_date(F.max("order_date_key"))
    return (
        dim.join(fact_orders, "customer_key", "left")
        .groupBy("customer_id", "customer_key", "customer_segment")
        .agg(
            F.count("order_id").alias("total_orders"),
            F.coalesce(F.sum("total_amount"),
                       F.lit(0).cast("decimal(12,2)")).alias("lifetime_value"),
            F.coalesce(F.avg("total_amount"),
                       F.lit(0).cast("decimal(12,2)")).alias("avg_order_value"),
            F.min(key_date(F.col("order_date_key"))).alias("first_order_date"),
            last_date.alias("last_order_date"),
            days_between(last_date, as_of_c).alias("days_since_last_order"),
            churn_risk(last_date, as_of_c).alias("churn_risk"),
        )
        .drop("customer_key")
    )


def build_product_metrics(dim_products: DataFrame, fact_items: DataFrame,
                          inventory_staged: DataFrame) -> DataFrame:
    """analytics_dag.py:85-122 with the CTE total_inventory (A6) and the
    PG truncating integer division (P21, §7.4.4)."""
    dimp = _current(dim_products)
    total_inv = (inventory_staged.groupBy("product_id")
                 .agg(F.sum("current_stock").alias("total_stock")))
    sales = (fact_items.groupBy("product_key")
             .agg(F.sum("quantity").alias("units_sold"),
                  F.sum("total_price").alias("total_revenue"),
                  F.sum("item_profit").alias("total_profit"),
                  F.countDistinct("order_id").alias("order_count")))
    return (
        dimp.join(sales, "product_key", "left")
        .join(total_inv, "product_id", "left")
        .select(
            "product_id", "product_name", "category", "brand",
            "profit_margin",
            F.coalesce("units_sold", F.lit(0)).alias("units_sold"),
            F.coalesce(F.col("total_revenue"), F.lit(0).cast("decimal(12,2)"))
             .alias("total_revenue"),
            F.coalesce(F.col("total_profit"), F.lit(0).cast("decimal(12,2)"))
             .alias("total_profit"),
            F.coalesce("order_count", F.lit(0)).alias("order_count"),
            F.coalesce("total_stock", F.lit(0)).alias("total_stock"),
            stock_turnover(F.coalesce("units_sold", F.lit(0)),
                           F.coalesce("total_stock", F.lit(0)))
            .cast("int").alias("stock_turnover"),
        )
    )


def build_daily_sales(fact_orders: DataFrame) -> DataFrame:
    """analytics_dag.py:150-163 (incl. new_customers = 0 placeholder)."""
    return (
        fact_orders
        .groupBy(key_date(F.col("order_date_key")).alias("sales_date"))
        # order_id is fact_orders' upsert key, so its plain count is
        # its distinct count, without the Expand that a second distinct
        # aggregate plans (it doubles every fact row)
        .agg(F.count("order_id").alias("total_orders"),
             F.sum("total_amount").alias("total_revenue"),
             F.avg("total_amount").alias("avg_order_value"),
             F.countDistinct("customer_key").alias("unique_customers"))
        .withColumn("new_customers", F.lit(0))
    )


def build_monthly_trends(daily_sales: DataFrame) -> DataFrame:
    """analytics_dag.py:191-208."""
    return (
        daily_sales
        .groupBy(F.year("sales_date").alias("year"),
                 F.month("sales_date").alias("month"))
        .agg(F.sum("total_orders").alias("total_orders"),
             F.sum("total_revenue").alias("total_revenue"),
             F.sum("unique_customers").alias("customer_visits"))
        .orderBy("year", "month")
    )


def build_customer_acquisition(dim_customers: DataFrame,
                               fact_orders: DataFrame) -> DataFrame:
    """analytics_dag.py:236-268: first-order CTE (A6) with the
    first_order_value = MIN(total_amount) quirk (§7.4.5)."""
    dim = _current(dim_customers)
    first_order = (
        fact_orders.groupBy("customer_key")
        .agg(F.min(key_date(F.col("order_date_key"))).alias("first_order_date"),
             F.min("total_amount").alias("first_order_value"))
    )
    reg, first = F.col("registration_date"), F.col("first_order_date")
    return (
        dim.join(first_order, "customer_key", "left")
        .select(
            "customer_id", "registration_date", "first_order_date",
            "first_order_value",
            days_between(reg, first).alias("days_to_first_purchase"),
            acquisition_bucket(reg, first).alias("acquisition_bucket"),
        )
    )


def build_campaign_attribution(daily_sales: DataFrame,
                               campaigns_staged: DataFrame) -> DataFrame:
    """analytics_dag.py:296-316 (J7 BETWEEN range join; campaign side
    broadcast).  ``pipeline_dag`` runs it as the one soft-fail task, per
    the reference (§7.4.5)."""
    joined = range_join(daily_sales, campaigns_staged.select(
        "campaign_id", "campaign_name", "channel", "start_date", "end_date"),
        "sales_date", "start_date", "end_date")
    return (
        joined.groupBy("campaign_id", "campaign_name", "channel",
                       "start_date", "end_date")
        .agg(F.count("sales_date").alias("days_with_sales"),
             F.sum("total_revenue").alias("revenue_in_period"),
             F.avg("total_revenue").alias("avg_daily_revenue"))
    )


def build_top_products(product_metrics: DataFrame) -> DataFrame:
    """top_products view (analytics_dag.py:357-370) — distributed
    top-20 with rank over survivors (no global window)."""
    from .operators.topk import distributed_topk

    return distributed_topk(
        product_metrics.select("product_id", "product_name", "category",
                               "total_revenue", "units_sold", "order_count"),
        [F.desc("total_revenue"), F.asc("product_id")], 20,
        rank_on=F.desc("total_revenue"), rank_name="revenue_rank")


def build_customer_segmentation(customer_metrics: DataFrame) -> DataFrame:
    """customer_segmentation view (analytics_dag.py:376-384)."""
    seg = (customer_metrics.groupBy("customer_segment")
           .agg(F.count(F.lit(1)).alias("customer_count"),
                F.sum("lifetime_value").alias("total_lifetime_value"),
                F.avg("lifetime_value").alias("avg_lifetime_value")))
    return seg.withColumn("pct_of_customers", pct_of_total("customer_count"))


def build_seasonal_performance(daily_sales: DataFrame) -> DataFrame:
    """seasonal_performance view (analytics_dag.py:388-398)."""
    return (daily_sales
            .groupBy(F.quarter("sales_date").alias("quarter"))
            .agg(F.sum("total_orders").alias("total_orders"),
                 F.sum("total_revenue").alias("total_revenue"),
                 F.avg("avg_order_value").alias("avg_order_value")))


def build_acquisition_summary(customer_acquisition: DataFrame) -> DataFrame:
    """acquisition_summary view (analytics_dag.py:403-419): W2 over the
    bucket aggregate."""
    by_bucket = (customer_acquisition.groupBy("acquisition_bucket")
                 .agg(F.count(F.lit(1)).alias("customer_count"),
                      F.avg("days_to_first_purchase").alias("avg_days_to_purchase")))
    return by_bucket.withColumn("pct_of_customers",
                                pct_of_total("customer_count"))


def build_executive_summary(fact_orders: DataFrame,
                            dim_customers: DataFrame) -> DataFrame:
    """analytics_dag.py:339-352.  DOCUMENTED DEVIATION (§7.4.5): the
    reference CROSS JOINs unaggregated tables (inflating sums); we
    aggregate first — the stated intent."""
    orders_agg = fact_orders.agg(
        F.sum("total_amount").alias("total_revenue"),
        F.countDistinct("order_id").alias("total_orders"),
        F.avg("total_amount").alias("avg_order_value"))
    cust_agg = (dim_customers.filter("is_current")
                .agg(F.count(F.lit(1)).alias("total_customers")))
    return orders_agg.crossJoin(cust_agg)


# ---------------------------------------------------------------- driver


def run_pipeline(spark: SparkSession, raw: dict[str, DataFrame],
                 as_of: str = AS_OF_DATE,
                 prior: dict[str, DataFrame] | None = None) -> dict[str, DataFrame]:
    """staging → warehouse → analytics: one run of ``pipeline_dag``
    (SURVEY.md §3.2-3.3), returning the 19 tables.  ``prior`` carries
    yesterday's dims/facts for the incremental path (SCD2 + M2 upsert);
    None = initial load.  A failing task is retried once (the
    reference's ``retries: 1``), then the first failed task's error is
    raised; campaign attribution soft-fails to None like the reference."""
    runs = pipeline_dag(spark, raw, as_of, prior).run()
    for run in runs.values():
        if run.state is State.FAILED:
            raise run.error
    return pipeline_tables(runs)
