"""Window-function & multidimensional-aggregate coverage beyond the
reference surface (the reference uses only W1 global rank and W2
percent-of-total — SURVEY.md §2.6): moving frames, LAG deltas, NTILE,
ROLLUP, pivot, exact percentiles, approximate distinct.

All windows are date- or key-partitioned/ordered with unique ordering
columns → deterministic, oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.rounding import dsum, dsum_sql, pround, pround_sql
from ..sources import load
from .registry import query

_DAILY_CTE = f"""
    daily AS (
      SELECT CAST(o_orderdate AS DATE) AS sales_date,
             {dsum_sql('o_totalprice', 4)} AS revenue
      FROM orders GROUP BY 1
    )
"""


def _daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return (o.groupBy(F.col("o_orderdate").cast("date").alias("sales_date"))
            .agg(dsum(F.col("o_totalprice"), 4).alias("revenue")))


_LAST_7_ROWS = "ORDER BY sales_date ROWS BETWEEN 6 PRECEDING AND CURRENT ROW"


@query(
    "rolling_7day_revenue",
    oracle=f"""
    WITH {_DAILY_CTE}
    SELECT sales_date,
           {pround_sql('revenue')} AS revenue,
           {pround_sql(dsum_sql('revenue', over=_LAST_7_ROWS))} AS revenue_7d,
           CAST(count(*) OVER ({_LAST_7_ROWS}) AS INT) AS days_in_window
    FROM daily
    """,
    covers=("EXT-window",),
)
def rolling_7day_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving frame (ROWS BETWEEN 6 PRECEDING): trailing-7-row revenue.

    Scale note: a single unpartitioned ordered window — at 100 TB the
    daily table is one row per day (≤ tens of thousands of rows after
    its own distributed aggregation), so the window input is tiny by
    construction; the heavy work happened in the groupBy below it.
    Window sums use exact decimal (same policy as groupBy sums)."""
    w = Window.orderBy("sales_date").rowsBetween(-6, 0)
    return (_daily(spark, sf_dir)
            .select(
                "sales_date",
                pround(F.col("revenue"), 2).alias("revenue"),
                pround(F.sum(F.col("revenue").cast("decimal(18,2)")).over(w)
                       .cast("double"), 2).alias("revenue_7d"),
                F.count(F.lit(1)).over(w).cast("int").alias("days_in_window"),
            ))


@query(
    "month_over_month_delta",
    oracle=f"""
    WITH monthly AS (
      SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS y,
             CAST(EXTRACT(month FROM o_orderdate) AS INT) AS m,
             {dsum_sql('o_totalprice', 4)} AS revenue
      FROM orders GROUP BY 1, 2
    )
    SELECT y, m,
           {pround_sql('revenue')} AS revenue,
           {pround_sql('coalesce(revenue - lag(revenue) OVER (ORDER BY y, m), 0)')}
             AS mom_delta
    FROM monthly
    """,
    covers=("EXT-window",),
)
def month_over_month_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG over month sequence → month-over-month revenue delta."""
    o = load(spark, sf_dir, "orders")
    monthly = (o.groupBy(F.year("o_orderdate").alias("y"),
                         F.month("o_orderdate").alias("m"))
               .agg(dsum(F.col("o_totalprice"), 4).alias("revenue")))
    w = Window.orderBy("y", "m")
    return monthly.select(
        "y", "m",
        pround(F.col("revenue"), 2).alias("revenue"),
        pround(F.coalesce(F.col("revenue") - F.lag("revenue").over(w), F.lit(0)), 2)
         .alias("mom_delta"),
    )


@query(
    "customer_value_quartiles",
    oracle=f"""
    WITH spent AS (
      SELECT o_custkey, {dsum_sql('o_totalprice', 4)} AS total
      FROM orders GROUP BY 1
    )
    SELECT o_custkey AS customer_id,
           {pround_sql('total')} AS total_spent,
           CAST(ntile(4) OVER (ORDER BY total DESC, o_custkey) AS INT) AS value_quartile
    FROM spent
    """,
    covers=("EXT-window",),
)
def customer_value_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE(4) value segmentation (exact-decimal total → unambiguous
    ordering; custkey tiebreak)."""
    o = load(spark, sf_dir, "orders")
    spent = (o.groupBy("o_custkey")
             .agg(dsum(F.col("o_totalprice"), 4).alias("total")))
    w = Window.orderBy(F.desc("total"), F.asc("o_custkey"))
    return spent.select(
        F.col("o_custkey").alias("customer_id"),
        pround(F.col("total"), 2).alias("total_spent"),
        F.ntile(4).over(w).cast("int").alias("value_quartile"),
    )


@query(
    "revenue_rollup",
    oracle=f"""
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS order_year,
           CAST(EXTRACT(quarter FROM o_orderdate) AS INT) AS order_quarter,
           {pround_sql(dsum_sql('o_totalprice', 4))} AS revenue,
           count(*) AS n_orders
    FROM orders
    GROUP BY ROLLUP (CAST(EXTRACT(year FROM o_orderdate) AS INT),
                     CAST(EXTRACT(quarter FROM o_orderdate) AS INT))
    """,
    covers=("EXT-rollup",),
    bench=True,
)
def revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (year, quarter) — subtotals + grand total (NULL markers
    match ANSI).

    r5: pre-aggregate at the finest (year, quarter) grain FIRST, then
    ROLLUP over the tiny aggregate.  A direct ``o.rollup(...)`` puts
    Spark's Expand operator on the FACT side — every order row is
    emitted 3× (detail / year subtotal / grand total) before the
    partial aggregate, which tripled the per-row cost and made this
    the worst scaling ratio in the r5 parallel-decode table (2.5× per
    10× data).  Decimal sums are associative, so summing the per-grain
    exact sums is bit-identical to summing the rows; Expand now runs
    over |year×quarter| rows (~30) instead of |orders|, and the only
    fact-side work is one ordinary map-side-combined groupBy — the
    rewrite that matters at 100 TB, where 3× the fact rows through
    Expand is 3× the scan-side CPU."""
    o = load(spark, sf_dir, "orders")
    grain = (o.groupBy(F.year("o_orderdate").alias("order_year"),
                       F.quarter("o_orderdate").alias("order_quarter"))
             .agg(F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
                  .alias("_rev"),
                  F.count(F.lit(1)).alias("_n")))
    return (grain.rollup("order_year", "order_quarter")
            .agg(pround(F.sum("_rev").cast("double"), 2).alias("revenue"),
                 # coalesce: on an EMPTY orders table the rollup still
                 # emits one grand-total row where sum(_n) is NULL but
                 # count(*) — the pre-rewrite form and the oracle —
                 # is 0; revenue stays NULL on both engines
                 F.coalesce(F.sum("_n"), F.lit(0)).alias("n_orders")))


@query(
    "event_type_pivot",
    oracle="""
    SELECT CAST(ts AS DATE) AS event_date,
           count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
           count(CASE WHEN event_type = 'view' THEN 1 END) AS view,
           count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
           count(CASE WHEN event_type = 'error' THEN 1 END) AS error
    FROM events GROUP BY 1
    """,
    covers=("EXT-pivot",),
)
def event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot event_type → columns (fixed value list → no extra pass;
    ANSI-portable as conditional counts)."""
    e = load(spark, sf_dir, "events")
    return (e.groupBy(F.col("ts").cast("date").alias("event_date"))
            .pivot("event_type", ["click", "view", "purchase", "error"])
            .count()
            .na.fill(0, ["click", "view", "purchase", "error"]))


@query(
    "order_value_percentiles",
    oracle=f"""
    SELECT o_orderstatus AS order_status,
           {pround_sql('quantile_cont(o_totalprice, 0.5)')} AS median_value,
           {pround_sql('quantile_cont(o_totalprice, 0.9)')} AS p90_value,
           count(*) AS n_orders
    FROM orders GROUP BY o_orderstatus
    """,
    covers=("EXT-percentile",),
)
def order_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per status (Spark percentile ≙
    DuckDB quantile_cont: both sort and linearly interpolate)."""
    o = load(spark, sf_dir, "orders")
    return (o.groupBy(F.col("o_orderstatus").alias("order_status"))
            .agg(pround(F.percentile("o_totalprice", 0.5), 2).alias("median_value"),
                 pround(F.percentile("o_totalprice", 0.9), 2).alias("p90_value"),
                 F.count(F.lit(1)).alias("n_orders")))


@query(
    "order_value_percentiles_approx",
    oracle=f"""
    SELECT o_orderstatus AS order_status,
           {pround_sql('quantile_cont(o_totalprice, 0.5)')} AS median_value,
           {pround_sql('quantile_cont(o_totalprice, 0.9)')} AS p90_value,
           count(*) AS n_orders,
           CAST(1 AS INT) AS within_rank_eps
    FROM orders GROUP BY o_orderstatus
    """,
    covers=("EXT-percentile", "EXT-approx"),
)
def order_value_percentiles_approx(spark: SparkSession, sf_dir: str) \
        -> DataFrame:
    """Quantile-sketch percentiles per status (percentile_approx, the
    Greenwald–Khanna-style mergeable sketch) — the 100 TB path: exact
    ``percentile`` materializes every group's full value set on one
    reducer, while the sketch is one pass, bounded memory
    (O(1/ε·log εN) per group), and merges associatively across
    partitions.

    Verification contract (r5, the ``approx_distinct_users`` pattern —
    VERDICT r4 #3): accuracy=10000 → GK rank error ε ≤ 1/10000.  Emit
    the EXACT interpolated percentiles plus a Spark-computed
    ``within_rank_eps`` flag measuring the guarantee GK actually
    states — the sketch's returned value, being a real data element,
    must occupy a RANK within ε·n of the target rank.  A second pass
    counts elements strictly-below / at-or-below each sketch value
    (its exact rank interval) and checks that interval intersects
    [q·n − ε·n − 2, q·n + ε·n + 2] (±2 ranks of slack for the
    engine's target-rank rounding; value-band checks against
    interpolated quantiles are knife-edged for small groups where
    ε·n < 1 rank).  The oracle computes the exact values and literal
    1, so a sketch breaching its bound fails the driver hash-compare.
    The raw estimates stay out of the output (sketch internals are
    not cross-engine stable).  An exact-rank pytest twin lives at
    tests/test_properties.py."""
    o = load(spark, sf_dir, "orders")
    acc, eps = F.lit(10_000), 1.0 / 10_000
    status = F.col("o_orderstatus").alias("order_status")
    approx = (o.groupBy(status)
              .agg(F.percentile_approx(
                  "o_totalprice", F.array(F.lit(0.5), F.lit(0.9)), acc)
                  .alias("_a")))
    ranks = (o.join(F.broadcast(approx),
                    F.col("o_orderstatus") == approx["order_status"])
             .groupBy("order_status")
             .agg(F.count(F.lit(1)).alias("_n"),
                  *[f
                    for i, q in ((0, "50"), (1, "90"))
                    for f in (
                        F.count_if(F.col("o_totalprice") < F.col("_a")[i])
                        .alias(f"_lt{q}"),
                        F.count_if(F.col("o_totalprice") <= F.col("_a")[i])
                        .alias(f"_le{q}"))]))

    def _ok(q: float, lt: str, le: str):
        target = F.lit(q) * F.col("_n")
        slack = F.lit(eps) * F.col("_n") + F.lit(2.0)
        return ((F.col(lt) + 1 <= target + slack)
                & (F.col(le) >= target - slack))

    within = F.coalesce(
        (_ok(0.5, "_lt50", "_le50") & _ok(0.9, "_lt90", "_le90"))
        .cast("int"), F.lit(0))
    exact = (o.groupBy(status)
             .agg(pround(F.percentile("o_totalprice", 0.5), 2)
                  .alias("median_value"),
                  pround(F.percentile("o_totalprice", 0.9), 2)
                  .alias("p90_value"),
                  F.count(F.lit(1)).alias("n_orders")))
    flags = ranks.select("order_status", within.alias("within_rank_eps"))
    return exact.join(F.broadcast(flags), "order_status").select(
        "order_status", "median_value", "p90_value", "n_orders",
        "within_rank_eps")


@query(
    "approx_distinct_users",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(1 AS INT) AS within_5pct
    FROM events GROUP BY event_type
    """,
    covers=("EXT-approx",),
)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct-user estimate per event type — the
    scale-path alternative to exact countDistinct (A2): one pass, no
    expand, bounded memory.

    Verification contract (restructured r4 — r3's raw-estimate output
    was permanently unverifiable, the one `no_oracle` driver row): emit
    the exact count plus a Spark-computed ``within_5pct`` flag asserting
    |approx − exact| / exact ≤ 0.05 (rsd=0.02, so 5 % is a comfortable
    deterministic margin); the oracle computes the exact count and
    literal 1.  If the HLL estimate ever strays past the bound, the flag
    flips to 0 and the driver's hash-compare FAILS — the row now
    *verifies* the approximation instead of merely running it.  The raw
    estimate itself stays out of the output (cross-engine HLL values
    can never hash-match).  An error-bound pytest twin lives at
    tests/test_properties.py."""
    e = load(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
        F.count_distinct("user_id").alias("exact_users"),
        F.count(F.lit(1)).alias("n_events"),
    )
    # greatest(exact,1): an all-NULL-user event_type has exact_users=0
    # and a bare division would yield NULL, diverging from the oracle's
    # literal 1 (ADVICE r4); approx is also 0 there, so the ratio is 0.
    # coalesce: keep the flag non-null under any future NULL leakage.
    # Margin note: 5 % ~ 2.5 sigma at rsd=0.02 — deterministic for a
    # given fixture, but a regenerated fixture could legitimately land
    # outside; if the driver ever flags this row, widen before debugging.
    within = F.coalesce(
        (F.abs(F.col("approx_users") - F.col("exact_users"))
         / F.greatest(F.col("exact_users"), F.lit(1))
         <= F.lit(0.05)).cast("int"),
        F.lit(0))
    return agg.select("event_type", "exact_users", "n_events",
                      within.alias("within_5pct"))


@query(
    "unpivot_monthly_metrics",
    oracle=f"""
    WITH monthly AS (
      SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS y,
             CAST(EXTRACT(month FROM o_orderdate) AS INT) AS m,
             CAST(count(*) AS DOUBLE) AS n_orders,
             CAST(count(DISTINCT o_custkey) AS DOUBLE) AS n_customers,
             {dsum_sql('o_totalprice', 4)} AS revenue
      FROM orders GROUP BY 1, 2
    )
    SELECT y, m, 'n_orders' AS metric, {pround_sql('n_orders')} AS value FROM monthly
    UNION ALL
    SELECT y, m, 'n_customers', {pround_sql('n_customers')} FROM monthly
    UNION ALL
    SELECT y, m, 'revenue', {pround_sql('revenue')} FROM monthly
    """,
    covers=("EXT-pivot",),
)
def unpivot_monthly_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide → long): DataFrame.unpivot / melt — the inverse of
    event_type_pivot; metric columns become (metric, value) rows in one
    JVM Expand pass (the oracle spells the portable UNION ALL form)."""
    o = load(spark, sf_dir, "orders")
    monthly = (o.groupBy(F.year("o_orderdate").alias("y"),
                         F.month("o_orderdate").alias("m"))
               .agg(F.count(F.lit(1)).cast("double").alias("n_orders"),
                    F.countDistinct("o_custkey").cast("double").alias("n_customers"),
                    dsum(F.col("o_totalprice"), 4).alias("revenue")))
    return (monthly.unpivot(["y", "m"],
                            ["n_orders", "n_customers", "revenue"],
                            "metric", "value")
            .select("y", "m", "metric", pround(F.col("value"), 2).alias("value")))
