"""Driver-visible entries for the full e-commerce pipeline
(pipeline.py over the seeded synthetic source — SURVEY.md §3).

These are rows-only checks: the generator + multi-stage pipeline is
deterministic Spark code but not expressible as a single ANSI SQL
statement, so the driver records the weaker check (per contract);
the structural invariants are asserted in tests/test_pipeline.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..functions.business import churn_risk_sql
from ..functions.dates import days_between_sql
from ..pipeline import run_pipeline
from ..sources.synthetic import generate_ecommerce
from .registry import query

# The pipeline-output memo hangs off the SparkSession OBJECT — the
# same rationale as sources/readers._relation_cache: two sessions can
# share one application (``newSession()``, the external driver session)
# with DIFFERENT SQLConfs, and a DataFrame resolves against the session
# that created it, so an applicationId-keyed module global would hand
# session B frames pinned to session A's conf and outlive both.
_CACHE_ATTR = "_egraft_pipeline_cache"


# The ONE pipeline scale: the closed-form oracle constants below (125
# customers, 600 orders, the 365-date window) are derived from it, and
# the flag queries regenerate the source at the SAME scale — changing
# it requires re-deriving those oracle literals in the same edit.
PIPELINE_SCALE = 0.05

# customer i's segment: the generator's (sources/synthetic.customers)
# with staging's 'Unknown' fill (stage_customers)
_SEGMENT_SQL = """COALESCE(CASE WHEN i % 97 = 0 THEN NULL
                         WHEN i % 10 < 2 THEN 'Premium'
                         WHEN i % 10 < 8 THEN 'Regular'
                         ELSE 'Budget' END, 'Unknown')"""
_AS_OF = "2024-07-09"
_AS_OF_SQL = f"DATE '{_AS_OF}'"
# the source's 600 orders: order j is customer (j*31)%125's, dated
# 2024-07-08 − (j%365)
_ORDERS_CTE = """o AS (
      SELECT (j * 31) % 125 AS c,
             DATE '2024-07-08' - CAST(j % 365 AS INT) AS order_date
      FROM generate_series(0, 599) t(j)
    )"""


def _matches(col: str, ref: Column) -> Column:
    """1 where ``col`` equals ``ref`` exactly (NULLs equal), else 0."""
    return F.col(col).eqNullSafe(ref).cast("int")


def _tables(spark: SparkSession) -> dict[str, DataFrame]:
    tables = getattr(spark, _CACHE_ATTR, None)
    if tables is None:
        tables = run_pipeline(spark, generate_ecommerce(spark, scale=PIPELINE_SCALE),
                              as_of=_AS_OF)
        setattr(spark, _CACHE_ATTR, tables)
    return tables


@query(
    "pipeline_dim_customers_scd2",
    # The synthetic source is a pure function of the row id and the
    # pipeline's initial SCD2 load is deterministic, so the whole dim
    # has a closed form DuckDB can rebuild from generate_series: the
    # generator's column expressions (sources/synthetic.customers),
    # staging's email lower+trim / segment fill (stage_customers), the
    # initial-load SCD2 literals, and first-sight surrogate keys
    # (row_number over customer_id ≡ id+1).  Full row-level hash check
    # for S8+M1 instead of the r2 rows-only record.
    oracle=f"""
    WITH g AS (
      SELECT CAST(i AS BIGINT) AS i FROM generate_series(0, 124) AS t(i)
    )
    SELECT printf('CUST_%06d', i) AS customer_id,
           'First' || CAST(i % 997 AS VARCHAR) || ' ' ||
             'Last' || CAST(i % 499 AS VARCHAR) AS full_name,
           lower(trim(CASE WHEN i % 17 = 0
                           THEN printf('  FIRST.LAST%d@GMAIL.COM  ', i)
                           ELSE printf('first.last%d@gmail.com', i) END))
             AS email,
           {_SEGMENT_SQL} AS customer_segment,
           CASE WHEN i % 5 = 0 THEN 'Dhaka'
                WHEN i % 5 = 1 THEN 'Chittagong'
                WHEN i % 5 = 2 THEN 'Sylhet'
                WHEN i % 5 = 3 THEN 'Rajshahi'
                ELSE 'Khulna' END AS city,
           'Bangladesh' AS country,
           DATE '2022-07-08' + CAST(i % 730 AS INTEGER) AS registration_date,
           {_AS_OF_SQL} AS effective_date,
           DATE '9999-12-31' AS expiry_date,
           TRUE AS is_current,
           CAST(i + 1 AS INTEGER) AS customer_key
    FROM g
    """,
    covers=("M1", "S8"))
def pipeline_dim_customers_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 customer dimension from the full staging→warehouse build
    (sf_dir unused — the synthetic source is self-contained).  The
    oracle is the initial load's closed form over generate_series —
    generator, staging cleaners, SCD2 literals, and surrogate keys all
    verified row-for-row."""
    return _tables(spark)["dim_customers"]


# Why the two money-bearing pipeline tables CANNOT value-hash their
# money columns: the synthetic generator mirrors the reference's float
# math with double→decimal casts (tax = (subtotal−discount)·0.15 cast
# to DECIMAL(10,2)), and that cast's rounding is ENGINE-DEFINED on
# knife-edge doubles — measured: Spark rounds the shortest decimal
# representation half-up (143.92499999999998 → 143.92), DuckDB yields
# 143.93 on the identical double.  No portable SQL expresses "Spark's
# cast".  r5 contract (the approx_distinct_users pattern, VERDICT r4
# #3): the money columns leave the OUTPUT and become Spark-computed
# exact-equality flags against an independent recompute — the
# generator is a pure function of the row id, so regenerating the
# source and aggregating it DIRECTLY (no staging, no SCD2 join, no
# surrogate keys, no fact build) must reproduce the pipeline's sums
# bit-for-bit inside Spark, where both sides share one cast
# semantics.  A pipeline stage that dropped/duplicated a row or
# corrupted a money value flips the flag and fails the driver
# hash-compare.  Every non-money column keeps a full closed-form
# generate_series oracle, like the SCD2 dim above.
@query(
    "pipeline_customer_metrics",
    # scale=0.05 → 125 customers (ids 0..124) and the 600 orders of
    # _ORDERS_CTE; pipeline as_of = 2024-07-09.  Every
    # customer has ≥1 order (31 ⊥ 125 and 600 ≥ 125), so the
    # order-less tier never appears; the CASE still mirrors it.
    oracle=f"""
    WITH {_ORDERS_CTE}, agg AS (
      SELECT c, count(*) AS total_orders,
             min(order_date) AS first_order_date,
             max(order_date) AS last_order_date
      FROM o GROUP BY c
    )
    SELECT printf('CUST_%06d', i) AS customer_id,
           {_SEGMENT_SQL} AS customer_segment,
           COALESCE(total_orders, 0) AS total_orders,
           first_order_date, last_order_date,
           {days_between_sql('last_order_date', _AS_OF_SQL)}
             AS days_since_last_order,
           {churn_risk_sql('last_order_date', _AS_OF_SQL)} AS churn_risk,
           CAST(1 AS INT) AS ltv_matches_source,
           CAST(1 AS INT) AS aov_matches_source
    FROM (SELECT CAST(i AS BIGINT) AS i
          FROM generate_series(0, 124) t(i)) g
    LEFT JOIN agg ON agg.c = g.i
    """,
    covers=("A1", "S8"))
def pipeline_customer_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """analytics.customer_metrics out of the end-to-end pipeline with
    DECIMAL money preserved internally (the reference's own schema).
    Output per the r5 contract: closed-form-verifiable columns plus
    ``ltv_matches_source`` / ``aov_matches_source`` — Spark-computed
    exact decimal equality of the pipeline's lifetime_value /
    avg_order_value against a direct aggregate of the regenerated
    source orders (see module comment)."""
    t = _tables(spark)["customer_metrics"]
    src = generate_ecommerce(spark, scale=PIPELINE_SCALE)["orders"]
    ref = (src.groupBy("customer_id")
           .agg(F.sum("total_amount").alias("_ltv"),
                F.avg("total_amount").alias("_aov")))
    j = t.join(ref, "customer_id", "left")
    zero = F.lit(0).cast("decimal(12,2)")
    return j.select("customer_id", "customer_segment", "total_orders",
                    "first_order_date", "last_order_date",
                    "days_since_last_order", "churn_risk",
                    _matches("lifetime_value", F.coalesce("_ltv", zero))
                    .alias("ltv_matches_source"),
                    _matches("avg_order_value", F.coalesce("_aov", zero))
                    .alias("aov_matches_source"))


@query(
    "pipeline_daily_sales",
    oracle=f"""
    WITH {_ORDERS_CTE}
    SELECT order_date AS sales_date,
           count(*) AS total_orders,
           CAST(count(DISTINCT c) AS BIGINT) AS unique_customers,
           CAST(0 AS INT) AS new_customers,
           CAST(1 AS INT) AS revenue_matches_source,
           CAST(1 AS INT) AS aov_matches_source
    FROM o GROUP BY order_date
    """,
    covers=("A1", "S8"))
def pipeline_daily_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """analytics.daily_sales out of the end-to-end pipeline.  Output
    per the r5 contract: closed-form-verifiable columns plus
    ``revenue_matches_source`` / ``aov_matches_source`` exact-equality
    flags against the regenerated-source aggregate (see module
    comment).  total_orders is the pipeline's countDistinct(order_id);
    the oracle's count(*) is the same number because order ids are
    unique by construction."""
    t = _tables(spark)["daily_sales"]
    src = generate_ecommerce(spark, scale=PIPELINE_SCALE)["orders"]
    ref = (src.groupBy(F.col("order_date").alias("sales_date"))
           .agg(F.sum("total_amount").alias("_rev"),
                F.avg("total_amount").alias("_aov")))
    j = t.join(ref, "sales_date", "left")
    return j.select("sales_date", "total_orders", "unique_customers",
                    "new_customers",
                    _matches("total_revenue", F.col("_rev"))
                    .alias("revenue_matches_source"),
                    _matches("avg_order_value", F.col("_aov"))
                    .alias("aov_matches_source"))
