"""The analytics layer: six metric tables + business views re-expressed
over the driver fixtures (SURVEY.md §2.5 A1–A8, §2.6 W1–W2, §2.7
O1–O3, §2.2 P13–P16/P21, §2.4 J3/J7/J8).

Reference: analytics_dag.py:30-420.  Fixture mapping per FIXTURES.md
§9 (customer≙customers, orders≙orders, lineitem≙order_items,
part≙products).  Quirks replicated on purpose are flagged inline
(SURVEY.md §7.4.5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import AS_OF_DATE
from ..operators.range_join import range_join, range_join_by_expansion
from ..operators.topk import distributed_topk
from ..sources import load
from ..functions.business import (
    acquisition_bucket, acquisition_bucket_sql, churn_risk, churn_risk_sql,
    order_rollup, order_rollup_sql, pct_of_total, pct_of_total_sql,
    stock_turnover, stock_turnover_sql)
from ..functions.dates import days_between, days_between_sql
from ..functions.rounding import (davg, davg_sql, dsum, dsum_sql, lavg,
                                  lavg_sql, lsum, lsum_sql, pround,
                                  pround_sql, to_scaled_long,
                                  to_scaled_long_sql)
from .registry import query

# the orders rollup of daily_sales, monthly_trends and seasonal_performance
_ORDERS = ("o_orderkey", "o_totalprice", "o_custkey")
_ROLLUP_SQL = order_rollup_sql(*_ORDERS)


@query(
    "daily_sales",
    oracle=f"""
    SELECT CAST(o_orderdate AS DATE) AS sales_date,
           {_ROLLUP_SQL},
           0 AS new_customers
    FROM orders
    GROUP BY CAST(o_orderdate AS DATE)
    """,
    covers=("A1", "A2", "P4"),
    bench=True,
)
def daily_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """analytics.daily_sales (analytics_dag.py:150-163): per-day order
    counts / revenue / AOV / distinct customers.  ``new_customers = 0``
    replicates the reference's placeholder (analytics_dag.py:160,
    SURVEY.md §7.4.5)."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy(F.col("o_orderdate").cast("date").alias("sales_date"))
        .agg(*order_rollup(*_ORDERS))
        .withColumn("new_customers", F.lit(0))
    )


_AS_OF_SQL = f"DATE '{AS_OF_DATE}'"
_LAST_SQL = "CAST(max(o.o_orderdate) AS DATE)"


@query(
    "customer_metrics",
    oracle=f"""
    SELECT c.c_custkey AS customer_id,
           c.c_mktsegment AS customer_segment,
           count(o.o_orderkey) AS total_orders,
           count(DISTINCT CASE WHEN o.o_orderstatus = 'F' THEN o.o_orderkey END)
             AS completed_orders,
           {pround_sql(f"coalesce({lsum_sql('o.o_totalprice')}, 0)")} AS total_spent,
           {pround_sql(f"coalesce({lavg_sql('o.o_totalprice')}, 0)")} AS avg_order_value,
           CAST(min(o.o_orderdate) AS DATE) AS first_order_date,
           CAST(max(o.o_orderdate) AS DATE) AS last_order_date,
           {days_between_sql(_LAST_SQL, _AS_OF_SQL)} AS days_since_last_order,
           {churn_risk_sql(_LAST_SQL, _AS_OF_SQL)} AS churn_risk
    FROM customer c
    LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey, c.c_mktsegment
    """,
    covers=("A1", "A3", "A4", "A8", "J3", "P14", "P15", "P16", "P18"),
    bench=True,
)
def customer_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """analytics.customer_metrics (analytics_dag.py:44-69): left join
    keeps order-less customers (J3), COALESCE-on-empty-group (A4),
    conditional distinct count (A3), churn tiers via searched CASE on
    days-since-last-order against the pinned as_of date (P15/P16,
    §7.4.1)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    as_of = F.lit(AS_OF_DATE).cast("date")
    # fact-side pre-aggregation before the join: the orders table never
    # travels, only one row per customer-with-orders does.  No explicit
    # broadcast hint — o_agg is customer-grain, so it scales with the
    # probe side; both inputs are customer-keyed and AQE picks
    # broadcast only while the aggregate actually fits.
    o_agg = (
        o.groupBy("o_custkey")
        .agg(
            F.count("o_orderkey").alias("_n"),
            # count, not countDistinct (r12, guide §2.3): o_orderkey is
            # the orders PRIMARY KEY (unique globally, hence within any
            # o_custkey group; the key-shifted scaled fixtures preserve
            # it), so every non-null CASE value is already distinct and
            # the two aggregates are equal — while countDistinct made
            # Spark plan a second exchange at (custkey, orderkey) grain
            # where partial aggregation compressed nothing.  The oracle
            # keeps its count(DISTINCT ...) spelling; the hash match is
            # the per-fixture proof of the equality.
            F.count(
                F.when(F.col("o_orderstatus") == "F", F.col("o_orderkey"))
            ).alias("_done"),
            F.sum(to_scaled_long(F.col("o_totalprice"))).alias("_spent_c"),
            F.count("o_totalprice").alias("_np"),
            F.min(F.col("o_orderdate").cast("date")).alias("_first"),
            F.max(F.col("o_orderdate").cast("date")).alias("_last"),
        )
    )
    return (
        c.join(o_agg, c.c_custkey == o_agg.o_custkey, "left")
        .select(
            F.col("c_custkey").alias("customer_id"),
            F.col("c_mktsegment").alias("customer_segment"),
            F.coalesce(F.col("_n"), F.lit(0)).alias("total_orders"),
            F.coalesce(F.col("_done"), F.lit(0)).alias("completed_orders"),
            pround(F.coalesce(F.col("_spent_c") / F.lit(100.0), F.lit(0)), 2)
             .alias("total_spent"),
            pround(F.coalesce(F.col("_spent_c") / F.lit(100.0) / F.col("_np"),
                              F.lit(0)), 2).alias("avg_order_value"),
            F.col("_first").alias("first_order_date"),
            F.col("_last").alias("last_order_date"),
            days_between(F.col("_last"), as_of).cast("int")
             .alias("days_since_last_order"),
            churn_risk(F.col("_last"), as_of).alias("churn_risk"),
        )
    )


# exact Σ extendedprice·(1−discount), scale 4 (cents × percent points)
_REV4_SQL = (f"CAST(sum({to_scaled_long_sql('l.l_extendedprice')}"
             f" * (100 - {to_scaled_long_sql('l.l_discount')})) AS BIGINT)"
             f" / 10000.0")


@query(
    "product_metrics",
    oracle=f"""
    SELECT p.p_partkey AS product_id,
           p.p_brand AS brand,
           {pround_sql('p.p_retailprice')} AS retail_price,
           {pround_sql('sum(l.l_quantity)')} AS total_quantity,
           {pround_sql(_REV4_SQL)} AS total_revenue,
           count(DISTINCT l.l_orderkey) AS order_count,
           {stock_turnover_sql('sum(l.l_quantity)', 'p.p_size')} AS stock_turnover
    FROM part p
    LEFT JOIN lineitem l ON p.p_partkey = l.l_partkey
    GROUP BY p.p_partkey, p.p_brand, {pround_sql('p.p_retailprice')}, p.p_size
    """,
    covers=("A1", "A2", "A6", "A8", "J3", "P13", "P21"),
    bench=True,
)
def product_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """analytics.product_metrics (analytics_dag.py:85-122): per-product
    sales rollup with the truncating-division turnover guard
    (functions/business.stock_turnover, SURVEY.md §7.4.4); p_size
    stands in for total_stock."""
    p = load(spark, sf_dir, "part")
    li = load(spark, sf_dir, "lineitem")
    # Pre-aggregate the fact side on its own key FIRST (partial agg
    # map-side, one shuffle of partkey-grouped partials), then join the
    # per-part rollup onto the dim.  No broadcast HINT: the rollup is
    # part-grain, so it grows with |part| and a forced broadcast would
    # overflow at 100× scale; unhinted, AQE broadcasts while the
    # runtime size is small and falls back to a shuffle join that
    # reuses the groupBy's partitioning when it isn't.  The fact rows
    # never travel through the join either way.
    # order_count via size(collect_set) instead of countDistinct (r12,
    # guide §2.3): a distinct aggregate makes Spark plan TWO exchanges —
    # the first at (l_partkey, l_orderkey) grain, where partial
    # aggregation compresses almost nothing (the pair is near-unique
    # per row), so ~|lineitem| rows shuffle twice through two extra agg
    # passes.  collect_set partial-aggregates map-side like any other
    # buffer (ObjectHashAggregate), so the SAME per-part rollup runs in
    # ONE exchange — measured 64×: 3 exchanges → 2, the lineitem-side
    # shuffle 37M (pk,ok) rows → 1.8M set-partial rows / 418 MiB, query
    # 4.3 → 2.0 s (min-of-4, both leg orders); sf0.1 1.02 → 0.71 s.
    # size(collect_set(x)) == count(DISTINCT x) for the non-null
    # l_orderkey (oracle unchanged, rows MATCH pinned at sf0.01/sf0.1).
    li_agg = (
        li.groupBy("l_partkey")
        .agg(
            F.sum("l_quantity").alias("_qty"),
            F.sum(to_scaled_long(F.col("l_extendedprice"))
                  * (F.lit(100) - to_scaled_long(F.col("l_discount"))))
             .alias("_rev4"),
            # cast: size() is INT, the former countDistinct (and the
            # oracle's count(DISTINCT)) is BIGINT — keep the schema
            F.size(F.collect_set("l_orderkey")).cast("bigint")
             .alias("_orders"),
        )
    )
    return (
        p.join(li_agg, p.p_partkey == li_agg.l_partkey, "left")
        .select(
            F.col("p_partkey").alias("product_id"),
            F.col("p_brand").alias("brand"),
            pround(F.col("p_retailprice"), 2).alias("retail_price"),
            pround(F.col("_qty"), 2).alias("total_quantity"),
            pround(F.col("_rev4") / F.lit(10_000.0), 2).alias("total_revenue"),
            F.coalesce(F.col("_orders"), F.lit(0)).alias("order_count"),
            stock_turnover(F.col("_qty"), F.col("p_size"))
             .alias("stock_turnover"),
        )
    )


@query(
    "monthly_trends",
    oracle=f"""
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS order_year,
           CAST(EXTRACT(month FROM o_orderdate) AS INT) AS order_month,
           {_ROLLUP_SQL}
    FROM orders
    GROUP BY 1, 2
    """,
    covers=("A1", "A2", "P9", "O2"),
)
def monthly_trends(spark: SparkSession, sf_dir: str) -> DataFrame:
    """analytics.monthly_trends (analytics_dag.py:191-208)."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy(F.year("o_orderdate").alias("order_year"),
                  F.month("o_orderdate").alias("order_month"))
        .agg(*order_rollup(*_ORDERS))
        .orderBy("order_year", "order_month")
    )


# -- customer acquisition -------------------------------------------------

_REG_DATE_SQL = "DATE '1994-01-01' + CAST(c_custkey % 365 AS INT)"


@query(
    "customer_acquisition",
    oracle=f"""
    WITH first_order AS (
      SELECT o_custkey,
             CAST(min(o_orderdate) AS DATE) AS first_order_date,
             {pround_sql('min(o_totalprice)')} AS first_order_value
      FROM orders GROUP BY o_custkey
    )
    SELECT c.c_custkey AS customer_id,
           {_REG_DATE_SQL} AS registration_date,
           f.first_order_date,
           f.first_order_value,
           {days_between_sql(_REG_DATE_SQL, 'f.first_order_date')}
             AS days_to_first_purchase,
           {acquisition_bucket_sql(_REG_DATE_SQL, 'f.first_order_date')}
             AS acquisition_bucket
    FROM customer c LEFT JOIN first_order f ON c.c_custkey = f.o_custkey
    """,
    covers=("A6", "J3", "P15", "P16", "P17"),
)
def customer_acquisition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """analytics.customer_acquisition (analytics_dag.py:236-268): CTE
    first-order (MIN group-by — including the ``first_order_value =
    MIN(total_amount)`` quirk, analytics_dag.py:245, §7.4.5), days-to-
    first-purchase buckets.  The fixtures carry no registration_date,
    so a deterministic synthetic one is derived identically on both
    engines."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    first_order = (
        o.groupBy("o_custkey")
        .agg(F.min(F.col("o_orderdate").cast("date")).alias("first_order_date"),
             pround(F.min("o_totalprice"), 2).alias("first_order_value"))
    )
    reg = F.date_add(F.lit("1994-01-01").cast("date"),
                     (F.col("c_custkey") % 365).cast("int"))
    first = F.col("first_order_date")
    return (
        c.join(first_order, c.c_custkey == first_order.o_custkey, "left")
        .select(
            F.col("c_custkey").alias("customer_id"),
            reg.alias("registration_date"),
            F.col("first_order_date"),
            F.col("first_order_value"),
            days_between(reg, first).cast("int")
             .alias("days_to_first_purchase"),
            acquisition_bucket(reg, first).alias("acquisition_bucket"),
        )
    )


@query(
    "acquisition_summary",
    oracle=f"""
    WITH first_order AS (
      SELECT o_custkey, CAST(min(o_orderdate) AS DATE) AS first_order_date
      FROM orders GROUP BY o_custkey
    ), acq AS (
      SELECT c.c_custkey,
             {acquisition_bucket_sql(_REG_DATE_SQL, 'f.first_order_date')}
               AS acquisition_bucket,
             {days_between_sql(_REG_DATE_SQL, 'f.first_order_date')} AS days
      FROM customer c LEFT JOIN first_order f ON c.c_custkey = f.o_custkey
    )
    SELECT acquisition_bucket,
           count(*) AS customer_count,
           {pround_sql('CAST(sum(days) AS DOUBLE) / count(days)')} AS avg_days_to_purchase,
           {pct_of_total_sql('count(*)')} AS pct_of_customers
    FROM acq GROUP BY acquisition_bucket
    """,
    covers=("W2", "O3", "A1"),
)
def acquisition_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """acquisition_summary view (analytics_dag.py:403-419): bucket
    counts with percent-of-total — the W2 window-over-aggregate.
    Aggregate first, then an empty-frame window over the (tiny) bucket
    table — the scale-safe order of operations (SURVEY.md §4.2)."""
    acq = customer_acquisition(spark, sf_dir)
    by_bucket = (
        acq.groupBy("acquisition_bucket")
        .agg(F.count(F.lit(1)).alias("customer_count"),
             pround(F.sum("days_to_first_purchase").cast("double")
                    / F.count("days_to_first_purchase"), 2)
             .alias("avg_days_to_purchase"))
    )
    return by_bucket.withColumn("pct_of_customers",
                                pct_of_total("customer_count"))


# -- campaign attribution (range join) ------------------------------------

_CAMPAIGNS_SQL = """
      SELECT DISTINCT o_orderpriority AS campaign_id,
             DATE '1995-06-01' + CAST(substr(o_orderpriority, 1, 1) AS INT) * 100
               AS start_date,
             DATE '1995-06-01' + CAST(substr(o_orderpriority, 1, 1) AS INT) * 100 + 120
               AS end_date
      FROM orders
"""

_ATTRIBUTION_SQL = f"""
    WITH campaigns AS ({_CAMPAIGNS_SQL}
    ), ds AS (
      SELECT CAST(o_orderdate AS DATE) AS sales_date,
             {pround_sql(lsum_sql('o_totalprice'))} AS total_revenue
      FROM orders GROUP BY 1
    )
    SELECT c.campaign_id, c.start_date, c.end_date,
           count(ds.sales_date) AS days_with_sales,
           {pround_sql(dsum_sql('ds.total_revenue'))} AS revenue_in_period,
           {pround_sql(davg_sql('ds.total_revenue'))} AS avg_daily_revenue
    FROM ds JOIN campaigns c
      ON ds.sales_date BETWEEN c.start_date AND c.end_date
    GROUP BY c.campaign_id, c.start_date, c.end_date
"""


def _campaigns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic campaign windows derived deterministically from order
    priorities (the fixtures ship no campaign table; FIXTURES.md §9)."""
    o = load(spark, sf_dir, "orders")
    base = F.lit("1995-06-01").cast("date")
    return (
        o.select(F.col("o_orderpriority").alias("campaign_id")).distinct()
        .withColumn("start_date",
                    F.date_add(base, F.substring("campaign_id", 1, 1).cast("int") * 100))
        .withColumn("end_date", F.date_add(F.col("start_date"), 120))
    )


def _daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy(F.col("o_orderdate").cast("date").alias("sales_date"))
        .agg(pround(lsum(F.col("o_totalprice")), 2).alias("total_revenue"))
    )


def _attribution_agg(joined: DataFrame) -> DataFrame:
    return (
        joined.groupBy("campaign_id", "start_date", "end_date")
        .agg(
            F.count("sales_date").alias("days_with_sales"),
            pround(dsum(F.col("total_revenue"), 2), 2).alias("revenue_in_period"),
            pround(davg(F.col("total_revenue"), 2), 2).alias("avg_daily_revenue"),
        )
    )


@query(
    "campaign_attribution",
    oracle=_ATTRIBUTION_SQL,
    covers=("J7", "F7", "A1"),
)
def campaign_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Campaign attribution via interval-containment join
    (analytics_dag.py:296-316): sales_date BETWEEN start AND end.
    The campaign side broadcasts → BroadcastNestedLoopJoin, the right
    physical plan for a handful of campaigns (SURVEY.md §4.2)."""
    ds = _daily_revenue(spark, sf_dir)
    c = _campaigns(spark, sf_dir)
    joined = range_join(ds, c, "sales_date", "start_date", "end_date")
    return _attribution_agg(joined)


@query(
    "campaign_attribution_scalable",
    oracle=_ATTRIBUTION_SQL,
    covers=("J7",),
    bench=True,
)
def campaign_attribution_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same semantics as campaign_attribution, scale path: explode each
    campaign window into covered days and **equi-join** on the date —
    shuffle-hash joinable when both sides are huge (SURVEY.md §4.2 /
    §7.4.8).  Must hash-match the BETWEEN formulation exactly."""
    ds = _daily_revenue(spark, sf_dir)
    c = _campaigns(spark, sf_dir)
    joined = range_join_by_expansion(ds, c, "sales_date", "start_date", "end_date")
    return _attribution_agg(joined)


# -- views -----------------------------------------------------------------

@query(
    "top_products",
    oracle=f"""
    WITH product_rev AS (
      SELECT p.p_partkey AS product_id,
             p.p_name AS product_name,
             {pround_sql(_REV4_SQL)} AS total_revenue,
             {pround_sql('sum(l.l_quantity)')} AS total_quantity,
             count(DISTINCT l.l_orderkey) AS order_count
      FROM part p JOIN lineitem l ON p.p_partkey = l.l_partkey
      GROUP BY p.p_partkey, p.p_name
    ), top AS (
      SELECT * FROM product_rev ORDER BY total_revenue DESC, product_id LIMIT 20
    )
    SELECT *, CAST(rank() OVER (ORDER BY total_revenue DESC) AS INT) AS revenue_rank
    FROM top
    """,
    covers=("W1", "O1", "A1"),
    bench=True,
)
def top_products(spark: SparkSession, sf_dir: str) -> DataFrame:
    """top_products view (analytics_dag.py:357-370): revenue rank +
    top 20.  The reference's global RANK() window is replaced by
    distributed top-k (TakeOrderedAndProject) with the rank computed
    over the 20 survivors — no single-partition window at scale
    (SURVEY.md §4.2).  product_id tiebreak keeps the row set
    deterministic."""
    p = load(spark, sf_dir, "part")
    li = load(spark, sf_dir, "lineitem")
    # fact-side pre-aggregation (one shuffle on l_partkey), then the
    # part-grain rollup joins the part names — unhinted for the same
    # reason as product_metrics: the rollup scales with |part|, so AQE
    # decides broadcast vs shuffle from the runtime size instead of a
    # hint that would force an oversized broadcast at 100×.
    li_agg = (
        li.groupBy("l_partkey")
        .agg(
            pround(F.sum(to_scaled_long(F.col("l_extendedprice"))
                         * (F.lit(100) - to_scaled_long(F.col("l_discount"))))
                   / F.lit(10_000.0), 2).alias("total_revenue"),
            pround(F.sum("l_quantity"), 2).alias("total_quantity"),
            # one exchange, as in product_metrics: a distinct aggregate
            # adds a second at (l_partkey, l_orderkey) grain
            F.size(F.collect_set("l_orderkey")).cast("bigint")
             .alias("order_count"),
        )
    )
    rev = (
        li_agg.join(p, li_agg.l_partkey == p.p_partkey)
        .select(F.col("p_partkey").alias("product_id"),
                F.col("p_name").alias("product_name"),
                "total_revenue", "total_quantity", "order_count")
    )
    return distributed_topk(
        rev, [F.desc("total_revenue"), F.asc("product_id")], 20,
        rank_on=F.desc("total_revenue"), rank_name="revenue_rank",
    ).withColumn("revenue_rank", F.col("revenue_rank").cast("int"))


@query(
    "customer_segmentation",
    oracle=f"""
    WITH per_customer AS (
      SELECT c.c_custkey, c.c_mktsegment,
             coalesce({dsum_sql('o.o_totalprice', 4)}, 0) AS spent
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey, c.c_mktsegment
    )
    SELECT c_mktsegment AS customer_segment,
           count(*) AS customer_count,
           {pround_sql(dsum_sql('spent', 4))} AS total_lifetime_value,
           {pround_sql(davg_sql('spent', 4))} AS avg_lifetime_value,
           {pct_of_total_sql('count(*)')} AS pct_of_customers
    FROM per_customer GROUP BY c_mktsegment
    """,
    covers=("A1", "A4", "J3", "W2"),
)
def customer_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer_segmentation view (analytics_dag.py:376-384): per-
    segment CLV rollup + percent-of-total (two-phase: customer-grain
    aggregate, then segment aggregate, then the empty-frame window over
    ≤ a handful of segment rows)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    per_customer = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(F.coalesce(dsum(F.col("o_totalprice"), 4), F.lit(0))
             .alias("spent"))
    )
    seg = (
        per_customer.groupBy(F.col("c_mktsegment").alias("customer_segment"))
        .agg(
            F.count(F.lit(1)).alias("customer_count"),
            pround(dsum(F.col("spent"), 4), 2).alias("total_lifetime_value"),
            pround(davg(F.col("spent"), 4), 2).alias("avg_lifetime_value"),
        )
    )
    return seg.withColumn("pct_of_customers", pct_of_total("customer_count"))


@query(
    "seasonal_performance",
    oracle=f"""
    SELECT CAST(EXTRACT(quarter FROM o_orderdate) AS INT) AS quarter,
           {_ROLLUP_SQL}
    FROM orders GROUP BY 1
    """,
    covers=("A1", "A2", "P9", "O2"),
)
def seasonal_performance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """seasonal_performance view (analytics_dag.py:388-398): quarter
    rollup (the reference reads quarter from dim_time; quarter() is the
    equivalent smart-key-free derivation)."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy(F.quarter("o_orderdate").alias("quarter"))
        .agg(*order_rollup(*_ORDERS))
    )


@query(
    "executive_summary",
    oracle=f"""
    SELECT * FROM
      (SELECT {pround_sql(lsum_sql('o_totalprice'))} AS total_revenue,
              count(*) AS total_orders,
              {pround_sql(lavg_sql('o_totalprice'))} AS avg_order_value
       FROM orders)
    CROSS JOIN
      (SELECT count(*) AS total_customers FROM customer)
    CROSS JOIN
      (SELECT count(DISTINCT o_custkey) AS active_customers
       FROM orders
       WHERE CAST(o_orderdate AS DATE) >= DATE '{AS_OF_DATE}' - 730)
    """,
    covers=("J8", "A2", "A7", "P16"),
)
def executive_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """executive_summary view (analytics_dag.py:339-352): CROSS JOIN of
    single-purpose aggregates.  DOCUMENTED DEVIATION (SURVEY.md
    §7.4.5): the reference crosses *unaggregated* tables and then
    aggregates, inflating sums; we aggregate first — the stated intent
    — and record the choice here and in the oracle."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    as_of = F.lit(AS_OF_DATE).cast("date")
    orders_agg = o.agg(
        pround(lsum(F.col("o_totalprice")), 2).alias("total_revenue"),
        F.count(F.lit(1)).alias("total_orders"),
        pround(lavg(F.col("o_totalprice")), 2).alias("avg_order_value"),
    )
    customers_agg = c.agg(F.count(F.lit(1)).alias("total_customers"))
    active = (
        o.filter(F.col("o_orderdate").cast("date") >= F.date_sub(as_of, 730))
        .agg(F.countDistinct("o_custkey").alias("active_customers"))
    )
    return orders_agg.crossJoin(customers_agg).crossJoin(active)
