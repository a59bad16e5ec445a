"""Interval-containment (range/theta) join (SURVEY.md §2.4 J7).

The reference's campaign attribution joins daily sales into campaign
windows with ``sales_date BETWEEN start_date AND end_date``
(analytics_dag.py:316).  Spark has no native range join, so two
physical strategies are provided:

1. ``range_join`` — plain theta join.  Catalyst executes it as a
   BroadcastNestedLoopJoin when one side is small (the reference's 25
   campaigns — perfect).  O(|L|·|R|) if neither side broadcasts: do NOT
   use this form when both sides are large.

2. ``range_join_by_expansion`` — explode each interval into one row per
   covered day (``sequence(start, end)``), then **equi-join** on the
   date.  Shuffle-hash/sort-merge joinable, partition-prunable, linear
   in (rows × interval length) — the 100 TB-safe form (SURVEY.md §4.2).
   Amplification = avg interval days; for month-long campaigns that is
   ~30×, far cheaper than a nested-loop cross product at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def range_join(left: DataFrame, right: DataFrame, point_col: str,
               start_col: str, end_col: str, how: str = "inner") -> DataFrame:
    """``left`` rows whose ``point_col`` falls in ``right``'s
    (broadcast) interval."""
    r = F.broadcast(right)
    cond = (left[point_col] >= r[start_col]) & (left[point_col] <= r[end_col])
    return left.join(r, cond, how)


def range_join_by_expansion(left: DataFrame, right: DataFrame, point_col: str,
                            start_col: str, end_col: str,
                            how: str = "inner") -> DataFrame:
    """Same result as ``range_join`` for date-grain points, via
    interval→day explosion + equi-join (scale path).

    Inverted intervals (end < start) match NOTHING, as under BETWEEN:
    F.sequence would otherwise auto-negate its step and generate the
    reversed day range, silently matching points the predicate form
    (and the DuckDB oracle) reject."""
    right = right.filter(F.col(start_col) <= F.col(end_col))
    exploded = right.withColumn(
        point_col,
        F.explode(F.sequence(F.col(start_col).cast("date"),
                             F.col(end_col).cast("date"))),
    )
    return left.withColumn(point_col, F.col(point_col).cast("date")) \
               .join(exploded, point_col, how)
