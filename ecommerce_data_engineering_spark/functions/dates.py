"""PG-compatible date rules (SURVEY.md §2.2 P8–P11, P16), each defined
once per engine: a Column form and its DuckDB SQL twin (``*_sql``).  No
other package file spells the ``yyyyMMdd`` key format or a day
difference (tests/test_business_rules.py).

The reference computes dim_time columns with PostgreSQL EXTRACT/TO_CHAR
(warehouse_dag.py:166-177).  Spark's equivalents differ in two places
(SURVEY.md §7.4.2) — both normalized here so Spark output matches the
PG/DuckDB semantics the oracle uses:

- ``dayofweek``: Spark 1=Sunday..7=Saturday vs PG/DuckDB DOW
  0=Sunday..6=Saturday → shifted by −1.
- ``weekofyear``: both Spark and PG/DuckDB EXTRACT(week) are ISO-8601
  week numbers; no shift needed (verified on year boundaries in tests).
- ``TO_CHAR(d,'Day')`` blank-pads to 9 chars in PG; we standardize on
  the *unpadded* name (DuckDB ``dayname`` behavior) and document the
  deviation — the DDL truncates to VARCHAR(10) anyway (init.sql:195).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def date_key(col: Column | str) -> Column:
    """Smart int key yyyyMMdd — TO_CHAR(d,'YYYYMMDD')::INTEGER
    (warehouse_dag.py:166,214)."""
    return F.date_format(col, "yyyyMMdd").cast("int")


def date_key_sql(expr: str) -> str:
    """DuckDB twin of :func:`date_key`."""
    return f"CAST(strftime({expr}, '%Y%m%d') AS INT)"


def key_date(key: Column) -> Column:
    """The DATE a :func:`date_key` names."""
    return F.to_date(key.cast("string"), "yyyyMMdd")


def days_between(start: Column | str, end: Column | str) -> Column:
    """Whole days from ``start`` to ``end`` (PG ``end - start`` on
    dates), INT."""
    return F.datediff(end, start)


def days_between_sql(start: str, end: str) -> str:
    """DuckDB twin of :func:`days_between`."""
    return f"CAST(date_diff('day', {start}, {end}) AS INT)"


def calendar_columns(d: Column) -> list[Column]:
    """dim_time's calendar attributes of the date ``d``
    (warehouse_dag.py:166-177, P9-P11): PG DOW 0=Sunday, unpadded
    English day/month names, ISO week, weekend = DOW in (0, 6)."""
    dow = (F.dayofweek(d) - F.lit(1)).cast("int")
    return [
        dow.alias("day_of_week"),
        F.date_format(d, "EEEE").alias("day_name"),
        F.dayofmonth(d).alias("day_of_month"),
        F.dayofyear(d).alias("day_of_year"),
        F.weekofyear(d).alias("week_of_year"),
        F.month(d).alias("month"),
        F.date_format(d, "MMMM").alias("month_name"),
        F.quarter(d).alias("quarter"),
        F.year(d).alias("year"),
        dow.isin(0, 6).alias("is_weekend"),
    ]


def calendar_columns_sql(expr: str) -> str:
    """DuckDB twin of :func:`calendar_columns`, as a select list."""
    def part(p: str) -> str:
        return f"CAST(EXTRACT({p} FROM {expr}) AS INT)"
    return ", ".join([
        f"{part('dow')} AS day_of_week",
        f"dayname({expr}) AS day_name",
        f"{part('day')} AS day_of_month",
        f"{part('doy')} AS day_of_year",
        f"{part('week')} AS week_of_year",
        f"{part('month')} AS month",
        f"monthname({expr}) AS month_name",
        f"{part('quarter')} AS quarter",
        f"{part('year')} AS year",
        f"EXTRACT(dow FROM {expr}) IN (0, 6) AS is_weekend",
    ])
