"""The reference's analytics rules (analytics_dag.py:44-419), each
defined once per engine: a Column form and its DuckDB SQL twin
(``*_sql``).  The pipeline, the registered plans and their oracles all
call these; no other package file spells a churn tier or an
acquisition bucket (tests/test_business_rules.py, which also checks
each pair returns the same rows on edge inputs).
"""

from __future__ import annotations

import operator

from pyspark.sql import Column, Window, functions as F

from .dates import days_between, days_between_sql
from .rounding import lavg, lavg_sql, lsum, lsum_sql, pround, pround_sql

# (label when the date is NULL, (comparison, days, label) arms tried in
# order, label otherwise) — a searched CASE over a day count (P15)
_CHURN = ("No Orders", ((">", 365, "High"), (">", 180, "Medium")), "Low")
_ACQUISITION = ("Never Purchased",
                (("<=", 7, "First Week"), ("<=", 30, "First Month")),
                "After Month")
_OPS = {">": operator.gt, "<=": operator.le}


def _tier(rule, missing: Column, days: Column) -> Column:
    none, arms, rest = rule
    out = F.when(missing.isNull(), F.lit(none))
    for op, bound, label in arms:
        out = out.when(_OPS[op](days, bound), F.lit(label))
    return out.otherwise(F.lit(rest))


def _tier_sql(rule, missing: str, days: str) -> str:
    none, arms, rest = rule
    whens = " ".join(f"WHEN {days} {op} {bound} THEN '{label}'"
                     for op, bound, label in arms)
    return f"CASE WHEN {missing} IS NULL THEN '{none}' {whens} ELSE '{rest}' END"


def churn_risk(last_order: Column, as_of: Column) -> Column:
    """Churn tier by days from the last order to ``as_of``
    (analytics_dag.py:44-69): High past a year, Medium past 180 days."""
    return _tier(_CHURN, last_order, days_between(last_order, as_of))


def churn_risk_sql(last_order: str, as_of: str) -> str:
    """DuckDB twin of :func:`churn_risk`."""
    return _tier_sql(_CHURN, last_order, days_between_sql(last_order, as_of))


def acquisition_bucket(registered: Column, first_order: Column) -> Column:
    """Days from registration to the first order, bucketed
    (analytics_dag.py:236-268): within a week, a month, or later."""
    return _tier(_ACQUISITION, first_order,
                 days_between(registered, first_order))


def acquisition_bucket_sql(registered: str, first_order: str) -> str:
    """DuckDB twin of :func:`acquisition_bucket`."""
    return _tier_sql(_ACQUISITION, first_order,
                     days_between_sql(registered, first_order))


def pct_of_total(col: str, *partition: str) -> Column:
    """W2: ``col`` as a percent of its sum over ``partition`` (over all
    rows when none), :func:`pround`-ed to 2 decimals — a window over an
    aggregate, so run it on the grouped result."""
    total = F.sum(col).over(Window.partitionBy(*partition))
    return pround(F.col(col) * 100.0 / total, 2)


def pct_of_total_sql(expr: str, *partition: str) -> str:
    """DuckDB twin of :func:`pct_of_total`."""
    over = f"PARTITION BY {', '.join(partition)}" if partition else ""
    return pround_sql(f"{expr} * 100.0 / sum({expr}) OVER ({over})")


def stock_turnover(units: Column, stock: Column) -> Column:
    """Units sold per unit of stock, BIGINT, 0 unless stock > 0
    (analytics_dag.py:114-117, P21).  PG integer division truncates
    toward zero, as Spark's double→bigint cast does; floor() would
    differ on a negative ``units`` (returns, corrections)."""
    return (F.when(stock > 0, (units / stock).cast("bigint"))
            .otherwise(F.lit(0).cast("bigint")))


def stock_turnover_sql(units: str, stock: str) -> str:
    """DuckDB twin of :func:`stock_turnover`.  DuckDB's cast rounds
    (CAST(-3.5 AS BIGINT) = -4), so truncation is explicit."""
    return (f"CASE WHEN {stock} > 0 THEN CAST(trunc({units} / {stock}) AS BIGINT)"
            f" ELSE 0 END")


def order_rollup(order_key: str, amount: str, customer: str) -> list[Column]:
    """Per-group order count, exact revenue and average order value
    (2 decimals), and distinct customers (analytics_dag.py:150-208)."""
    return [
        # a plain count of the orders PRIMARY KEY equals its distinct
        # count (the oracle's count(DISTINCT) proves it per fixture) and
        # avoids the Expand that two different distinct aggregates plan,
        # which doubles every orders row before the first exchange
        F.count(order_key).alias("total_orders"),
        pround(lsum(F.col(amount)), 2).alias("total_revenue"),
        pround(lavg(F.col(amount)), 2).alias("avg_order_value"),
        F.countDistinct(customer).alias("unique_customers"),
    ]


def order_rollup_sql(order_key: str, amount: str, customer: str) -> str:
    """DuckDB twin of :func:`order_rollup`, as a select list."""
    return (f"count(DISTINCT {order_key}) AS total_orders, "
            f"{pround_sql(lsum_sql(amount))} AS total_revenue, "
            f"{pround_sql(lavg_sql(amount))} AS avg_order_value, "
            f"count(DISTINCT {customer}) AS unique_customers")
