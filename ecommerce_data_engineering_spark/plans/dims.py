"""Dimension builds: dim_time + SCD Type 2 merges
(SURVEY.md §2.2 P8–P11/P17–P20, §2.5 A5, §2.8 M1/M4).

The SCD2 queries synthesize a deterministic dim/staging pair from the
``customer`` fixture (the driver ships no mutation stream), so both
Spark and the DuckDB oracle derive the merge input from the same
parquet — the merge itself is the generic operator in
operators/scd2.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import AS_OF_DATE
from ..functions.dates import (calendar_columns, calendar_columns_sql,
                               date_key, date_key_sql)
from ..operators.scd2 import OPEN_EXPIRY, scd2_merge
from ..operators.upsert import insert_if_absent
from ..sources import load
from .registry import query

# Deterministic synthetic mutation knobs shared by Spark + oracle:
#   dim  = customers with custkey % 11 != 3           (the "known" rows)
#   stg  = all customers; segment := 'VIP'   when custkey % 7 == 0
#                         segment := NULL    when custkey % 13 == 0
# → new rows (key%11==3), changed rows (key%7==0), NULL-change rows
#   (key%13==0 — must NOT register as changed under null-unsafe `!=`,
#   replicating warehouse_dag.py:47-49 exactly; SURVEY.md §7.4.3).
_DIM_FILTER = "c_custkey % 11 <> 3"
_STG_SEGMENT = """
    CASE WHEN c_custkey % 13 = 0 THEN NULL
         WHEN c_custkey % 7 = 0 THEN 'VIP'
         ELSE c_mktsegment END
"""


@query(
    "dim_time_from_orders",
    oracle=f"""
    SELECT DISTINCT CAST(o_orderdate AS DATE) AS full_date,
           {date_key_sql('o_orderdate')} AS time_key,
           {calendar_columns_sql('o_orderdate')}
    FROM orders
    """,
    covers=("A5", "P8", "P9", "P10", "P11"),
)
def dim_time_from_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dim_time built from distinct order dates (warehouse_dag.py:
    160-180): smart yyyyMMdd key (P8), PG-semantics DOW 0=Sunday (P9 —
    Spark dayofweek shifted by −1), day/month names (P10, unpadded),
    weekend flag (P11)."""
    o = load(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return (
        o.select(d.cast("date").alias("full_date"),
                 date_key(d).alias("time_key"), *calendar_columns(d))
        .distinct()
    )


@query(
    "dim_time_insert_if_absent",
    oracle=f"""
    WITH existing AS (
      SELECT DISTINCT {date_key_sql('o_orderdate')} AS time_key,
             'existing' AS row_source
      FROM orders WHERE EXTRACT(year FROM o_orderdate) < 2000
    ), incoming AS (
      SELECT DISTINCT {date_key_sql('o_orderdate')} AS time_key
      FROM orders
    )
    SELECT time_key, row_source FROM existing
    UNION ALL
    SELECT i.time_key, 'inserted' AS row_source
    FROM incoming i
    WHERE i.time_key NOT IN (SELECT time_key FROM existing)
    """,
    covers=("M4", "F6", "J6"),
)
def dim_time_insert_if_absent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 insert-if-absent (ON CONFLICT DO NOTHING + NOT IN guard,
    warehouse_dag.py:179-180) → left-anti + union.  NOT IN here is
    null-safe because the key is derived non-null (SURVEY.md F6 note)."""
    o = load(spark, sf_dir, "orders")
    keys = o.select(date_key("o_orderdate").alias("time_key"))
    existing = (keys.filter(F.col("time_key") < 20000101).distinct()
                .withColumn("row_source", F.lit("existing")))
    incoming = keys.distinct().withColumn("row_source", F.lit("inserted"))
    return insert_if_absent(existing, incoming, "time_key")


def _scd2_inputs(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    c = load(spark, sf_dir, "customer")
    dim = (
        c.filter(F.expr(_DIM_FILTER))
        .select(
            F.col("c_custkey").alias("customer_id"),
            F.col("c_mktsegment").alias("customer_segment"),
            F.col("c_nationkey").alias("nation_key"),
            F.lit("1995-01-01").cast("date").alias("effective_date"),
            F.lit(OPEN_EXPIRY).cast("date").alias("expiry_date"),
            F.lit(True).alias("is_current"),
        )
    )
    staging = c.select(
        F.col("c_custkey").alias("customer_id"),
        F.expr(_STG_SEGMENT).alias("customer_segment"),
        F.col("c_nationkey").alias("nation_key"),
    )
    return dim, staging


@query(
    "scd2_customer_merge",
    oracle=f"""
    WITH dim AS (
      SELECT c_custkey AS customer_id, c_mktsegment AS customer_segment,
             c_nationkey AS nation_key,
             DATE '1995-01-01' AS effective_date,
             DATE '9999-12-31' AS expiry_date,
             TRUE AS is_current
      FROM customer WHERE {_DIM_FILTER}
    ), staging AS (
      SELECT c_custkey AS customer_id,
             {_STG_SEGMENT} AS customer_segment,
             c_nationkey AS nation_key
      FROM customer
    ), changed AS (
      SELECT d.customer_id
      FROM dim d JOIN staging s ON d.customer_id = s.customer_id
      WHERE d.customer_segment <> s.customer_segment    -- null-unsafe on purpose
         OR d.nation_key       <> s.nation_key
    ), unchanged AS (
      SELECT * FROM dim WHERE customer_id NOT IN (SELECT customer_id FROM changed)
    ), closed AS (
      SELECT customer_id, customer_segment, nation_key, effective_date,
             DATE '{AS_OF_DATE}' - 1 AS expiry_date, FALSE AS is_current
      FROM dim WHERE customer_id IN (SELECT customer_id FROM changed)
    ), new_versions AS (
      SELECT s.customer_id, s.customer_segment, s.nation_key,
             DATE '{AS_OF_DATE}' AS effective_date,
             DATE '9999-12-31' AS expiry_date, TRUE AS is_current
      FROM staging s
      WHERE s.customer_id NOT IN (SELECT customer_id FROM unchanged)
    )
    SELECT * FROM unchanged
    UNION ALL SELECT * FROM closed
    UNION ALL SELECT * FROM new_versions
    """,
    covers=("M1", "J5", "J6", "J9", "F5", "F6", "F8", "P17", "P18", "P19"),
)
def scd2_customer_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 2 merge (warehouse_dag.py:31-92) as a 4-way union
    rewrite: history ∪ unchanged ∪ closed(expiry=as_of−1) ∪
    new_versions(effective=as_of).  Change detection uses null-unsafe
    `!=` exactly like the reference (a staged NULL is silently "no
    change") — SURVEY.md §7.4.3."""
    dim, staging = _scd2_inputs(spark, sf_dir)
    return scd2_merge(
        dim, staging, natural_key="customer_id",
        tracked=["customer_segment", "nation_key"], as_of_date=AS_OF_DATE,
    )


@query(
    "scd2_change_detection",
    oracle=f"""
    WITH dim AS (
      SELECT c_custkey AS customer_id, c_mktsegment AS customer_segment,
             c_nationkey AS nation_key
      FROM customer WHERE {_DIM_FILTER}
    ), staging AS (
      SELECT c_custkey AS customer_id,
             {_STG_SEGMENT} AS customer_segment,
             c_nationkey AS nation_key
      FROM customer
    )
    SELECT d.customer_id,
           d.customer_segment AS old_segment,
           s.customer_segment AS new_segment
    FROM dim d JOIN staging s ON d.customer_id = s.customer_id
    WHERE d.customer_segment <> s.customer_segment
       OR d.nation_key       <> s.nation_key
    """,
    covers=("J9", "F8"),
)
def scd2_change_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The change-detection join in isolation (warehouse_dag.py:44-49):
    self-referential staging↔dim lookup with OR-of-`!=` predicate.
    NULL-segment staged rows must be absent from the output (3-valued
    logic — the fidelity trap)."""
    dim, staging = _scd2_inputs(spark, sf_dir)
    d, s = dim.alias("d"), staging.alias("s")
    return (
        d.join(s, F.col("d.customer_id") == F.col("s.customer_id"))
        .filter(
            (F.col("d.customer_segment") != F.col("s.customer_segment"))
            | (F.col("d.nation_key") != F.col("s.nation_key"))
        )
        .select(
            F.col("d.customer_id").alias("customer_id"),
            F.col("d.customer_segment").alias("old_segment"),
            F.col("s.customer_segment").alias("new_segment"),
        )
    )
