"""Fact builds: surrogate-key resolution, multi-way joins, keyed upsert
(SURVEY.md §2.4 J1–J4, §2.8 M2, §2.2 P12/P13/P20, §2.1 S5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.dates import date_key, date_key_sql
from ..operators.upsert import keyed_upsert
from ..sources import load
from ..functions.rounding import pround, pround_sql
from .registry import query


def _customer_dim_with_keys(customer: DataFrame) -> DataFrame:
    """P20 surrogate keys: row_number over the natural key.

    The reference relies on SERIAL (insertion-order); row_number over
    an explicit ordering is the reproducible Spark equivalent
    (SURVEY.md §7.4.7).  A global window is fine for dims (they
    broadcast); for a billion-row dim use zipWithIndex-style ranged
    ids instead.
    """
    w = Window.orderBy("c_custkey")
    return customer.withColumn("customer_key", F.row_number().over(w))


@query(
    "fact_orders_build",
    oracle=f"""
    WITH dim AS (
      SELECT c_custkey, c_mktsegment,
             CAST(row_number() OVER (ORDER BY c_custkey) AS INT) AS customer_key
      FROM customer
      WHERE c_acctbal >= 0
    )
    SELECT o.o_orderkey AS order_id,
           d.customer_key,
           d.c_mktsegment AS customer_segment,
           {date_key_sql('o.o_orderdate')} AS order_date_key,
           {pround_sql('o.o_totalprice')} AS total_amount,
           {pround_sql('o.o_totalprice * 0.15 / 1.15')} AS tax_amount,
           {pround_sql('o.o_totalprice / 1.15')} AS net_amount,
           1 AS total_items
    FROM orders o
    JOIN dim d ON o.o_custkey = d.c_custkey
    """,
    covers=("J1", "J4", "P8", "P12", "P13", "P20", "S5"),
)
def fact_orders_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fact_orders (warehouse_dag.py:202-227): resolve the customer
    surrogate key (J1 broadcast lookup with composite predicate J4 —
    the dim is pre-filtered, letting Catalyst keep the join equi/
    broadcast), derive the smart date key (P8), order economics (P12,
    the 15% tax back-out mirrors generate_data.py:210), and replicate
    the `total_items = 1` hardcode quirk (warehouse_dag.py:224,
    SURVEY.md §7.4.5)."""
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    dim = _customer_dim_with_keys(customer.filter(F.col("c_acctbal") >= 0))
    return (
        orders.join(F.broadcast(dim), orders.o_custkey == dim.c_custkey)
        .select(
            F.col("o_orderkey").alias("order_id"),
            F.col("customer_key"),
            F.col("c_mktsegment").alias("customer_segment"),
            date_key("o_orderdate").alias("order_date_key"),
            pround(F.col("o_totalprice"), 2).alias("total_amount"),
            pround(F.col("o_totalprice") * 0.15 / 1.15, 2).alias("tax_amount"),
            pround(F.col("o_totalprice") / 1.15, 2).alias("net_amount"),
            F.lit(1).alias("total_items"),
        )
    )


@query(
    "fact_lineitem_build",
    oracle=f"""
    SELECT l.l_orderkey AS order_id,
           l.l_linenumber AS line_number,
           o.o_orderstatus AS order_status,
           c.c_mktsegment AS customer_segment,
           p.p_brand AS brand,
           s.s_name AS supplier_name,
           {date_key_sql('o.o_orderdate')} AS order_date_key,
           {pround_sql('l.l_quantity')} AS quantity,
           {pround_sql('l.l_extendedprice * (1 - l.l_discount)')} AS net_revenue,
           {pround_sql('l.l_extendedprice * (1 - l.l_discount)'
                       ' - l.l_quantity * p.p_retailprice * 0.6')}
             AS item_profit
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN part p     ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    """,
    covers=("J2", "P12", "P13"),
    bench=True,
)
def fact_lineitem_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fact_order_items (warehouse_dag.py:247-273): the widest join —
    items→orders→customers→products(→suppliers), item profit math
    ((price−cost)·qty with cost ≈ 60% of retail, generate_data.py:119).

    Physical shape: lineitem↔orders shuffle on orderkey; every dim
    broadcasts.  One shuffle total regardless of scale.
    """
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    part = load(spark, sf_dir, "part")
    supplier = load(spark, sf_dir, "supplier")
    net = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .select(
            F.col("l_orderkey").alias("order_id"),
            F.col("l_linenumber").alias("line_number"),
            F.col("o_orderstatus").alias("order_status"),
            F.col("c_mktsegment").alias("customer_segment"),
            F.col("p_brand").alias("brand"),
            F.col("s_name").alias("supplier_name"),
            date_key("o_orderdate").alias("order_date_key"),
            pround(F.col("l_quantity"), 2).alias("quantity"),
            pround(net, 2).alias("net_revenue"),
            pround(net - F.col("l_quantity") * F.col("p_retailprice") * 0.6, 2)
             .alias("item_profit"),
        )
    )


@query(
    "fact_orders_upsert",
    oracle=f"""
    WITH old AS (
      SELECT o_orderkey AS order_id, {pround_sql('o_totalprice')} AS total_amount,
             'old' AS batch_flag
      FROM orders WHERE o_orderdate < TIMESTAMP '2001-01-01'
    ), batch AS (
      SELECT o_orderkey AS order_id, {pround_sql('o_totalprice')} AS total_amount,
             'batch' AS batch_flag
      FROM orders WHERE o_orderdate >= TIMESTAMP '2000-07-01'
    )
    SELECT * FROM old WHERE order_id NOT IN (SELECT order_id FROM batch)
    UNION ALL
    SELECT * FROM batch
    """,
    covers=("M2", "J6"),
)
def fact_orders_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2 keyed DELETE+INSERT (warehouse_dag.py:202-227): the daily
    batch replaces any fact row sharing its order_id — idempotent
    re-load.  The overlap window (2000-07-01..2000-12-31 exists in
    both sides) proves batch rows win."""
    orders = load(spark, sf_dir, "orders")

    def slice_(pred, flag):
        return orders.filter(pred).select(
            F.col("o_orderkey").alias("order_id"),
            pround(F.col("o_totalprice"), 2).alias("total_amount"),
            F.lit(flag).alias("batch_flag"),
        )

    old = slice_(F.col("o_orderdate") < F.lit("2001-01-01").cast("timestamp"), "old")
    batch = slice_(F.col("o_orderdate") >= F.lit("2000-07-01").cast("timestamp"), "batch")
    return keyed_upsert(old, batch, "order_id")
