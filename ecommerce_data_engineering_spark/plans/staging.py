"""Staging-layer queries: cleaning transforms + the DQ suite
(SURVEY.md §2.2 P1–P5, §2.9 Q2–Q5, §2.3 F2/F3).

The reference cleans with pandas in the staging DAG (staging_dag.py:
59-60, 102-106, 141-145) and validates with scalar SELECTs
(staging_dag.py:239-245).  Both map to single-pass Catalyst
expressions here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.cleaning import clean_string, coerce_date, coerce_numeric, fill_unknown
from ..sources import load
from ..functions.rounding import dsum, dsum_sql, pround, pround_sql
from .registry import query


@query(
    "clean_customer_strings",
    oracle="""
    SELECT c_custkey AS customer_id,
           lower(trim(c_name)) AS clean_name,
           coalesce(c_mktsegment, 'Unknown') AS segment,
           CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS acctbal
    FROM customer
    """,
    covers=("P1", "P2", "P7"),
)
def clean_customer_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 lower+trim (staging_dag.py:59), P2 fillna→'Unknown'
    (staging_dag.py:60), P7 explicit decimal cast (kept exact through
    the decimal domain, surfaced as double — fixture-facing outputs
    stay double so value hashes align, SURVEY.md §7.4.6)."""
    c = load(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").alias("customer_id"),
        clean_string("c_name").alias("clean_name"),
        fill_unknown("c_mktsegment").alias("segment"),
        F.col("c_acctbal").cast("decimal(12,2)").cast("double").alias("acctbal"),
    )


@query(
    "coerce_event_props",
    oracle="""
    SELECT event_id,
           CAST(ts AS DATE) AS event_date,
           TRY_CAST(regexp_extract(props, '([0-9]+)', 1) AS INT) AS k_value
    FROM events
    WHERE TRY_CAST(regexp_extract(props, '([0-9]+)', 1) AS INT) IS NOT NULL
      AND ts IS NOT NULL
    """,
    covers=("P3", "P4", "P5", "F3"),
)
def coerce_event_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 numeric coercion (invalid→NULL via try_cast — pandas
    to_numeric(errors='coerce'), staging_dag.py:102-103), P4 date
    coercion, P5 drop-null-rows (dropna, staging_dag.py:106)."""
    e = load(spark, sf_dir, "events")
    k = coerce_numeric(F.regexp_extract("props", r"([0-9]+)", 1), "int")
    return (
        e.select(
            "event_id",
            coerce_date(F.col("ts")).alias("event_date"),
            k.alias("k_value"),
        )
        .na.drop(subset=["k_value", "event_date"])
    )


@query(
    "dq_summary",
    oracle=f"""
    SELECT
      (SELECT count(*) FROM orders)                                          AS orders_rows,
      (SELECT count(*) FROM customer WHERE c_name IS NULL)                   AS null_name_count,
      (SELECT count(*) FROM customer WHERE c_acctbal <= 0)                   AS nonpos_acctbal_count,
      (SELECT count(*) FROM orders o LEFT JOIN customer c
         ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL)             AS orphan_orders,
      (SELECT count(*) FROM lineitem l LEFT JOIN orders o
         ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL)          AS orphan_lineitems,
      (SELECT {pround_sql(dsum_sql('o_totalprice', 4))} FROM orders) AS total_revenue
    """,
    covers=("Q2", "Q3", "Q4", "Q5", "Q6", "A7", "J6", "J8", "F2", "F3"),
)
def dq_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole per-DAG validation task as one row: row counts (Q2),
    null counts (Q3), business rule (Q4), orphan-FK anti-joins (Q5),
    aggregate sanity (Q6) — crossed scalars (J8 shape).

    Each scalar is an independent one-row aggregate; the cross joins
    are literal 1×1 — no data movement concern at any scale.
    """
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    lineitem = load(spark, sf_dir, "lineitem")

    orders_rows = orders.agg(F.count(F.lit(1)).alias("orders_rows"))
    null_names = customer.filter(F.col("c_name").isNull()).agg(
        F.count(F.lit(1)).alias("null_name_count"))
    nonpos = customer.filter(F.col("c_acctbal") <= 0).agg(
        F.count(F.lit(1)).alias("nonpos_acctbal_count"))
    orphan_o = (orders.join(customer.select("c_custkey"),
                            orders.o_custkey == F.col("c_custkey"), "left_anti")
                .agg(F.count(F.lit(1)).alias("orphan_orders")))
    orphan_l = (lineitem.join(orders.select("o_orderkey"),
                              lineitem.l_orderkey == F.col("o_orderkey"), "left_anti")
                .agg(F.count(F.lit(1)).alias("orphan_lineitems")))
    revenue = orders.agg(pround(dsum(F.col("o_totalprice"), 4), 2).alias("total_revenue"))

    return (orders_rows.crossJoin(null_names).crossJoin(nonpos)
            .crossJoin(orphan_o).crossJoin(orphan_l).crossJoin(revenue))
