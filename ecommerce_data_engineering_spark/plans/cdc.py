"""Snapshot CDC as a driver-checked query.

The two snapshots are derived deterministically from the ``customer``
fixture so DuckDB can rebuild both sides and the full classification
is hash-verified: v2 deletes every 100th key, rewrites the segment of
every 7th, shifts the balance of every 13th, and inserts a negated-key
row for every 97th (custkeys are positive at every sf, so a negative
insert key can never collide with a real one) — exercising all three
change types plus the dropped "unchanged" majority in one query.

Reference parity: the reference has no CDC (its staging_dag.py:30-33
re-ships whole tables per refresh); this is an engine extension that
makes the same warehouse refreshable incrementally downstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.rounding import (pround, pround_sql, to_scaled_long,
                                  to_scaled_long_sql)
from ..operators.cdc import incremental_agg_refresh, snapshot_diff
from ..sources import load
from .registry import query

_CDC_ORACLE = f"""
WITH v1 AS (
  SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
), v2 AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 7 = 0 THEN 'MACHINERY'
              ELSE c_mktsegment END AS c_mktsegment,
         CASE WHEN c_custkey % 13 = 0 THEN c_acctbal + 10.0
              ELSE c_acctbal END AS c_acctbal
  FROM customer WHERE c_custkey % 100 <> 0
  UNION ALL
  SELECT -c_custkey, 'NEW', 0.0
  FROM customer WHERE c_custkey % 97 = 0
), j AS (
  SELECT COALESCE(v1.c_custkey, v2.c_custkey) AS c_custkey,
         CASE WHEN v1.c_custkey IS NULL THEN 'insert'
              WHEN v2.c_custkey IS NULL THEN 'delete'
              WHEN (v1.c_mktsegment IS DISTINCT FROM v2.c_mktsegment)
                OR (v1.c_acctbal   IS DISTINCT FROM v2.c_acctbal)
              THEN 'update' END AS change,
         v1.c_mktsegment AS before_segment,
         v2.c_mktsegment AS after_segment,
         v1.c_acctbal AS b_bal, v2.c_acctbal AS a_bal
  FROM v1 FULL OUTER JOIN v2 ON v1.c_custkey = v2.c_custkey
)
SELECT c_custkey, change, before_segment, after_segment,
       {pround_sql('b_bal')} AS before_acctbal,
       {pround_sql('a_bal')} AS after_acctbal
FROM j WHERE change IS NOT NULL
"""


@query("snapshot_cdc_diff", oracle=_CDC_ORACLE, covers=("M2", "J6"),
       bench=True)
def snapshot_cdc_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed diff between two deterministic snapshots of ``customer``
    via :func:`..operators.cdc.snapshot_diff` — one co-partitioned
    full-outer join classifying insert/delete/update and discarding
    the unchanged majority in-stage."""
    base = load(spark, sf_dir, "customer")
    v1 = base.select("c_custkey", "c_mktsegment", "c_acctbal")
    v2 = (base.filter(F.col("c_custkey") % 100 != 0)
          .select(
              "c_custkey",
              F.when(F.col("c_custkey") % 7 == 0, F.lit("MACHINERY"))
               .otherwise(F.col("c_mktsegment")).alias("c_mktsegment"),
              F.when(F.col("c_custkey") % 13 == 0, F.col("c_acctbal") + 10.0)
               .otherwise(F.col("c_acctbal")).alias("c_acctbal"))
          .unionByName(
              base.filter(F.col("c_custkey") % 97 == 0)
              .select((-F.col("c_custkey")).alias("c_custkey"),
                      F.lit("NEW").alias("c_mktsegment"),
                      F.lit(0.0).alias("c_acctbal"))))
    diff = snapshot_diff(v1, v2, ["c_custkey"],
                         ["c_mktsegment", "c_acctbal"])
    return diff.select(
        "c_custkey", "change",
        F.col("before.c_mktsegment").alias("before_segment"),
        F.col("after.c_mktsegment").alias("after_segment"),
        pround(F.col("before.c_acctbal")).alias("before_acctbal"),
        pround(F.col("after.c_acctbal")).alias("after_acctbal"))


_BAL_C = to_scaled_long_sql("c_acctbal")
# the exact per-group balance sum, from the scaled-long cents
_BAL_SUM_SQL = "CAST(sum(bal_c) AS BIGINT) / 100.0"

# the oracle recomputes the per-segment aggregate FROM SCRATCH over the
# v2 snapshot — the Spark side must land on the identical state having
# only touched the v1 aggregate plus the diff, which is exactly the
# incremental-maintenance contract being verified
_INC_ORACLE = f"""
WITH v2 AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 7 = 0 THEN 'MACHINERY'
              ELSE c_mktsegment END AS c_mktsegment,
         {_BAL_C} + CASE WHEN c_custkey % 13 = 0 THEN 1000 ELSE 0 END
           AS bal_c
  FROM customer WHERE c_custkey % 100 <> 0
  UNION ALL
  SELECT -c_custkey, 'NEW', 0
  FROM customer WHERE c_custkey % 97 = 0
)
SELECT c_mktsegment AS segment,
       count(*) AS n_customers,
       {pround_sql(_BAL_SUM_SQL)} AS total_acctbal,
       {pround_sql(f"{_BAL_SUM_SQL} / count(*)")} AS avg_acctbal
FROM v2 GROUP BY c_mktsegment
"""


@query("cdc_incremental_metrics", oracle=_INC_ORACLE, covers=("M2", "A1"),
       bench=True)
def cdc_incremental_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: refresh a per-segment
    (count, exact-cents sum) metric table from the v1→v2 CDC diff via
    :func:`..operators.cdc.incremental_agg_refresh` — O(|aggregate| +
    |changes|), fact table untouched — and prove the refreshed state
    equals a from-scratch recompute of v2 (the oracle).  The fixture
    mutations exercise every delta path: deletes (every 100th key),
    balance updates (13th), group-MOVING updates (7th switches
    segment: one group debited, another credited), and inserts into a
    brand-new group ('NEW', exercising a group born from the diff)."""
    base = load(spark, sf_dir, "customer")
    bal_c = to_scaled_long(F.col("c_acctbal"))
    v1 = base.select("c_custkey", "c_mktsegment", bal_c.alias("bal_c"))
    v2 = (base.filter(F.col("c_custkey") % 100 != 0)
          .select(
              "c_custkey",
              F.when(F.col("c_custkey") % 7 == 0, F.lit("MACHINERY"))
               .otherwise(F.col("c_mktsegment")).alias("c_mktsegment"),
              (bal_c + F.when(F.col("c_custkey") % 13 == 0, F.lit(1000))
                        .otherwise(F.lit(0))).alias("bal_c"))
          .unionByName(
              base.filter(F.col("c_custkey") % 97 == 0)
              .select((-F.col("c_custkey")).alias("c_custkey"),
                      F.lit("NEW").alias("c_mktsegment"),
                      F.lit(0).cast("bigint").alias("bal_c"))))
    prev = (v1.groupBy("c_mktsegment")
            .agg(F.sum("bal_c").alias("bal_c"),
                 F.count(F.lit(1)).alias("n")))
    diff = snapshot_diff(v1, v2, ["c_custkey"], ["c_mktsegment", "bal_c"])
    refreshed = incremental_agg_refresh(prev, diff, ["c_mktsegment"],
                                        ["bal_c"], count_col="n")
    return refreshed.select(
        F.col("c_mktsegment").alias("segment"),
        F.col("n").alias("n_customers"),
        pround(F.col("bal_c") / F.lit(100.0), 2).alias("total_acctbal"),
        pround(F.col("bal_c") / F.lit(100.0) / F.col("n"), 2)
            .alias("avg_acctbal"))
