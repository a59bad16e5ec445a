"""Benchmark / multi-join queries over the driver's TPC-H-ish fixtures.

These are the headline bench queries (``QuerySpec.bench``) and the
widest join exercises (SURVEY.md §2.4 J1–J4).  Plans are checked with
``.explain``: filters land in PushedFilters, dims go broadcast, aggs
are partial+final.

Numeric policy (functions/rounding.py): monetary aggregates are exact
and surfaced as double (order-independent, engine-independent) — hot
aggregations use the scaled-long fast path (integer cents summed as
BIGINT, ~3x cheaper than decimal in codegen, bit-identical output);
decimal forms remain for decimal-typed surfaces.  Quantities are
integer-valued doubles whose sums are already exact; averages are
spelled exact-sum ÷ count on both engines (never the engine's avg(),
whose accumulation strategy is unspecified).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.rounding import (dsum, dsum_sql, lsum_sql, lsum_wide,
                                  lsum_wide_sql, pround, pround_expr,
                                  pround_sql, to_scaled_long,
                                  to_scaled_long_sql, wide_split,
                                  wide_total)
from ..sources import load
from .registry import query

# exact decimal forms of the lineitem money expressions
_DEC_EP = 'CAST(l_extendedprice AS DECIMAL(18,4))'
_DEC_DISC = 'CAST(1 - l_discount AS DECIMAL(8,4))'


def _dec_ep():
    return F.col("l_extendedprice").cast("decimal(18,4)")


def _dec_disc():
    return (F.lit(1) - F.col("l_discount")).cast("decimal(8,4)")


# Scaled-long exact forms (functions/rounding.lsum rationale): integer
# cents / percent points stay in codegen's primitive-long fast lane —
# measured ~3x cheaper than the decimal forms with bit-identical
# output (sum as exact BIGINT, one correctly-rounded division at the
# end, same bits on both engines).  The hot bench aggregations use
# these; the decimal forms remain for decimal-typed surfaces.
_EP_C = to_scaled_long_sql("l_extendedprice")    # cents
_DISC_P = to_scaled_long_sql("l_discount")       # percent points
_TAX_P = to_scaled_long_sql("l_tax")


def _ep_c():
    return to_scaled_long(F.col("l_extendedprice"))


def _disc_p():
    return to_scaled_long(F.col("l_discount"))


def _tax_p():
    return to_scaled_long(F.col("l_tax"))


def sum_disc_price():
    """Exact Σ extendedprice·(1−discount) in scaled-long space.

    hi/lo split sum (rounding.lsum_wide): the scale-4 product term is
    ~1e9 per row, so a single BIGINT sum aborts (ANSI) or wraps at
    ~9e9 rows per group — under the 100 TB target's per-nation group
    sizes.  The split form cannot overflow until ~9e12 rows per group;
    exactness holds to 2^53 scaled units, deterministic (bit-identical
    cross-engine) beyond."""
    return lsum_wide(_ep_c() * (F.lit(100) - _disc_p()), 4)


SUM_DISC_PRICE_SQL = lsum_wide_sql(f"{_EP_C} * (100 - {_DISC_P})", 4)


@query(
    "pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {pround_sql('sum(l_quantity)')} AS sum_qty,
           {pround_sql(lsum_sql('l_extendedprice'))} AS sum_base_price,
           {pround_sql(SUM_DISC_PRICE_SQL)} AS sum_disc_price,
           {pround_sql(lsum_wide_sql(
               f"{_EP_C} * (100 - {_DISC_P}) * (100 + {_TAX_P})", 6))}
             AS sum_charge,
           {pround_sql('sum(l_quantity) / count(*)')} AS avg_qty,
           {pround_sql(f"{lsum_sql('l_extendedprice')} / count(*)")} AS avg_price,
           {pround_sql(f"{lsum_sql('l_discount')} / count(*)", 4)} AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    covers=("S1", "A1", "P12", "P13", "F2"),
    bench=True,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary — the flagship query.

    Scan + pushed filter + 8 partial/final aggregates over 2 group
    keys.  One shuffle total (map-side partial agg); the shipdate
    predicate reaches the parquet scan (PushedFilters).
    """
    li = load(spark, sf_dir, "lineitem")
    n = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            pround(F.sum("l_quantity"), 2).alias("sum_qty"),
            pround(F.sum(_ep_c()) / F.lit(100.0), 2).alias("sum_base_price"),
            pround(sum_disc_price(), 2).alias("sum_disc_price"),
            pround(lsum_wide(_ep_c() * (F.lit(100) - _disc_p())
                             * (F.lit(100) + _tax_p()), 6), 2)
             .alias("sum_charge"),
            pround(F.sum("l_quantity") / n, 2).alias("avg_qty"),
            pround(F.sum(_ep_c()) / F.lit(100.0) / n, 2).alias("avg_price"),
            pround(F.sum(_disc_p()) / F.lit(100.0) / n, 4).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


@query(
    "revenue_by_nation",
    oracle=f"""
    SELECT n.n_name AS nation,
           CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS order_year,
           {pround_sql(SUM_DISC_PRICE_SQL)} AS revenue,
           count(DISTINCT o.o_orderkey) AS n_orders
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey  = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name, CAST(EXTRACT(year FROM o.o_orderdate) AS INT)
    """,
    covers=("J1", "J2", "A2", "P9"),
    bench=True,
)
def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-way join (TPC-H Q5 shape): big×big on orderkey, dims broadcast.

    lineitem pre-aggregates on the join key BEFORE the shuffle (r12,
    guide §2.3): per-order hi/lo split partial sums travel instead of
    raw line rows — at 64× the dominant exchange drops from 38M rows /
    ~1.1 GB to 9.6M rows / ~0.23 GB — and, because the join is then
    1:1 on the orders PK, ``countDistinct(o_orderkey)`` becomes a plain
    ``count(*)`` per group (an order with no lineitems drops from the
    inner join in BOTH shapes, so the counts are identical; the oracle
    keeps its count(DISTINCT ...) spelling and the hash match is the
    per-fixture proof).  The revenue recombination sums the SAME exact
    hi/lo BIGINT totals in the same order of operations as the direct
    lsum_wide — integer addition is associative, so the final double
    is bit-identical (rows MATCH pinned at sf0.01/sf0.1)."""
    li, orders, customer, nation, region = (
        load(spark, sf_dir, t) for t in
        ("lineitem", "orders", "customer", "nation", "region"))
    asia = region.filter(F.col("r_name") == "ASIA")
    hi, lo = wide_split(_ep_c() * (F.lit(100) - _disc_p()))
    li_agg = li.groupBy("l_orderkey").agg(F.sum(hi).alias("_hi"),
                                          F.sum(lo).alias("_lo"))
    rev = wide_total(F.sum("_hi"), F.sum("_lo"), 4)
    return (
        li_agg.join(orders, li_agg.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(asia), nation.n_regionkey == asia.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"),
                 F.year("o_orderdate").alias("order_year"))
        .agg(
            pround(rev, 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@query(
    "top_revenue_orders",
    oracle=f"""
    SELECT l.l_orderkey AS order_key,
           {pround_sql(SUM_DISC_PRICE_SQL)} AS revenue,
           CAST(o.o_orderdate AS DATE) AS order_date,
           o.o_orderpriority AS order_priority
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING' AND o.o_orderdate >= TIMESTAMP '1996-01-01'
    GROUP BY l.l_orderkey, CAST(o.o_orderdate AS DATE), o.o_orderpriority
    ORDER BY revenue DESC, order_key
    LIMIT 10
    """,
    covers=("O1", "J2", "F1", "F2"),
    bench=True,
)
def top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: filtered 3-way join → top-10 revenue orders.

    Executes as TakeOrderedAndProject — per-partition top-k then a
    driver merge, no global sort (the 100 TB-safe top-k form).
    Deterministic under ties: exact decimal revenue + order_key
    tiebreak.

    The revenue aggregate runs BELOW the join (r12, guide §2.3
    "aggregate before you shuffle"): the group keys are l_orderkey plus
    order-grain columns functionally dependent on it, so the per-group
    sum IS the per-orderkey sum — computing it before the orderkey join
    lets the map-side partial aggregation combine each order's ~4 line
    rows before the exchange (measured 64×: the lineitem shuffle drops
    from 38M raw rows / ~0.9 GB to 11M partial rows / 338 MiB), and the
    join's other side shrinks to the date+segment-filtered orders,
    which AQE then broadcasts while small (1.6M rows at 64×) and
    shuffle-joins beyond — the exact arithmetic (lsum_wide split sum,
    pround after the total) and the result rows are unchanged (oracle
    identical; row-for-row MATCH pinned at sf0.01/sf0.1 before the
    swap)."""
    li, orders, customer = (load(spark, sf_dir, t)
                            for t in ("lineitem", "orders", "customer"))
    building = customer.filter(F.col("c_mktsegment") == "BUILDING")
    li_rev = (li.groupBy("l_orderkey")
              .agg(pround(sum_disc_price(), 2).alias("revenue")))
    orders_f = (
        orders
        .filter(F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        .join(F.broadcast(building), orders.o_custkey == building.c_custkey))
    return (
        li_rev.join(orders_f, li_rev.l_orderkey == orders_f.o_orderkey)
        .select(
            F.col("l_orderkey").alias("order_key"),
            "revenue",
            F.col("o_orderdate").cast("date").alias("order_date"),
            F.col("o_orderpriority").alias("order_priority"),
        )
        .orderBy(F.desc("revenue"), F.asc("order_key"))
        .limit(10)
    )


@query(
    "order_priority_check",
    oracle="""
    SELECT o.o_orderpriority AS order_priority,
           count(*) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-04-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
    GROUP BY o.o_orderpriority
    """,
    covers=("F5", "J5", "A1"),
)
def order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS subquery → left-semi join."""
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    big_items = li.filter(F.col("l_quantity") > 45).select("l_orderkey").distinct()
    return (
        orders.filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp")))
        .join(big_items, orders.o_orderkey == big_items.l_orderkey, "left_semi")
        .groupBy(F.col("o_orderpriority").alias("order_priority"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@query(
    "promo_revenue_share",
    oracle=f"""
    SELECT CAST(EXTRACT(year FROM l.l_shipdate) AS INT) AS ship_year,
           {pround_sql(f'''CAST(sum(CASE WHEN p.p_type LIKE 'PROMO%'
                 THEN {_DEC_EP} * {_DEC_DISC} END) AS DOUBLE)
                 * 100.0 / CAST(sum({_DEC_EP} * {_DEC_DISC}) AS DOUBLE)''', 4)}
             AS promo_share
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY CAST(EXTRACT(year FROM l.l_shipdate) AS INT)
    """,
    covers=("A3", "P15", "J1"),
)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional aggregate over a join (CASE WHEN
    inside SUM, no ELSE → nulls ignored), part side broadcast."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    rev = _dec_ep() * _dec_disc()
    promo = F.when(F.col("p_type").startswith("PROMO"), rev)
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.year("l_shipdate").alias("ship_year"))
        .agg(pround(F.sum(promo).cast("double") * 100.0 /
                    F.sum(rev).cast("double"), 4).alias("promo_share"))
    )


@query(
    "nation_market_share",
    oracle=f"""
    WITH rev AS (
      SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS order_year,
             n.n_name AS nation,
             {_DEC_EP} * {_DEC_DISC} AS volume
      FROM lineitem l
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n   ON c.c_nationkey = n.n_nationkey
    )
    SELECT order_year,
           {pround_sql('''CAST(sum(CASE WHEN nation = 'CHINA' THEN volume END)
                 AS DOUBLE) * 100.0 / CAST(sum(volume) AS DOUBLE)''', 4)}
             AS china_share_pct
    FROM rev GROUP BY order_year
    """,
    covers=("A3", "J2", "P15"),
)
def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of global revenue per year —
    conditional aggregate over a 4-way join, all dims broadcast."""
    li, orders, customer, nation = (
        load(spark, sf_dir, t) for t in ("lineitem", "orders", "customer", "nation"))
    vol = _dec_ep() * _dec_disc()
    joined = (li.join(orders, li.l_orderkey == orders.o_orderkey)
              .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
              .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey))
    return (joined.groupBy(F.year("o_orderdate").alias("order_year"))
            .agg(pround(
                F.sum(F.when(F.col("n_name") == "CHINA", vol)).cast("double")
                * 100.0 / F.sum(vol).cast("double"), 4)
                .alias("china_share_pct")))


@query(
    "customer_order_histogram",
    oracle="""
    WITH per_customer AS (
      SELECT c.c_custkey, count(o.o_orderkey) AS n_orders
      FROM customer c
      LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    )
    SELECT n_orders, count(*) AS n_customers
    FROM per_customer GROUP BY n_orders
    """,
    covers=("J3", "A1"),
)
def customer_order_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: double aggregation — orders-per-customer with a
    join-side filter (non-urgent only), then the distribution of that
    count.  The join predicate must stay in the JOIN (not WHERE): a
    WHERE would drop order-less customers from the left join."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT")
    per_customer = (
        customer.join(F.broadcast(
            orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("_n"))),
            customer.c_custkey == F.col("o_custkey"), "left")
        .select(F.coalesce(F.col("_n"), F.lit(0)).alias("n_orders"))
    )
    return per_customer.groupBy("n_orders").agg(
        F.count(F.lit(1)).alias("n_customers"))


@query(
    "sql_api_revenue_by_status",
    oracle=f"""
    SELECT o_orderstatus AS order_status,
           count(*) AS n_orders,
           {pround_sql(dsum_sql('o_totalprice', 4))} AS total_revenue
    FROM orders
    GROUP BY o_orderstatus
    """,
    covers=("S6", "A1"),
)
def sql_api_revenue_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pure-SQL entry point (SURVEY.md §3.4): register the scan as
    a temp view, express the query as SQL text — Catalyst produces the
    same plan as the DataFrame API.  Demonstrates the engine's second
    query surface."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("sql_api_orders")
    return spark.sql(f"""
        SELECT o_orderstatus AS order_status,
               count(*) AS n_orders,
               {pround_expr(dsum_sql('o_totalprice', 4))} AS total_revenue
        FROM sql_api_orders
        GROUP BY o_orderstatus
    """)


@query(
    "important_part_stock",
    oracle=f"""
    SELECT l_partkey AS part_key,
           {pround_sql('sum(l_quantity)')} AS total_qty
    FROM lineitem
    GROUP BY l_partkey
    HAVING sum(l_quantity) > (
      SELECT sum(l_quantity) * 0.001 FROM lineitem)
    """,
    covers=("A1", "F2"),
)
def important_part_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: HAVING against a global-scalar subquery —
    groups kept only above a fraction of the global total.  The scalar
    aggregates once and broadcasts as a literal-ish 1-row cross join."""
    li = load(spark, sf_dir, "lineitem")
    threshold = li.agg((F.sum("l_quantity") * 0.001).alias("__t"))
    return (li.groupBy(F.col("l_partkey").alias("part_key"))
            .agg(F.sum("l_quantity").alias("__q"))
            .crossJoin(F.broadcast(threshold))
            .filter(F.col("__q") > F.col("__t"))
            .select("part_key", pround(F.col("__q"), 2).alias("total_qty")))


@query(
    "small_quantity_revenue",
    oracle=f"""
    WITH part_avg AS (
      SELECT l_partkey, sum(l_quantity) / count(*) AS avg_qty
      FROM lineitem GROUP BY l_partkey
    )
    SELECT {pround_sql(f"{dsum_sql('l.l_extendedprice', 4)} / 7.0")} AS avg_yearly
    FROM lineitem l JOIN part_avg pa ON l.l_partkey = pa.l_partkey
    WHERE l.l_quantity < 0.5 * pa.avg_qty
    """,
    covers=("A6", "J9", "F2"),
)
def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar subquery (per-part average)
    decorrelated into an aggregate self-join — the standard Catalyst
    rewrite, expressed explicitly so the plan is one agg + one join."""
    li = load(spark, sf_dir, "lineitem")
    part_avg = (li.groupBy("l_partkey")
                .agg((F.sum("l_quantity") / F.count(F.lit(1))).alias("avg_qty")))
    return (li.join(F.broadcast(part_avg), "l_partkey")
            .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
            .agg(pround(dsum(F.col("l_extendedprice"), 4) / 7.0, 2)
                 .alias("avg_yearly")))


@query(
    "customer_set_ops",
    oracle="""
    WITH building AS (
      SELECT DISTINCT o_custkey FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE c.c_mktsegment = 'BUILDING'
    ), urgent AS (
      SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    )
    SELECT 'both' AS cohort, count(*) AS n FROM
      (SELECT o_custkey FROM building INTERSECT SELECT o_custkey FROM urgent)
    UNION ALL
    SELECT 'building_only', count(*) FROM
      (SELECT o_custkey FROM building EXCEPT SELECT o_custkey FROM urgent)
    """,
    covers=("M5",),
)
def customer_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT set operators (beyond the reference's
    surface): cohort overlap counts."""
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    building = (orders.join(
        F.broadcast(customer.filter(F.col("c_mktsegment") == "BUILDING")),
        orders.o_custkey == customer.c_custkey)
        .select("o_custkey").distinct())
    urgent = (orders.filter(F.col("o_orderpriority") == "1-URGENT")
              .select("o_custkey").distinct())
    both = building.intersect(urgent).agg(F.count(F.lit(1)).alias("n")) \
        .withColumn("cohort", F.lit("both"))
    only = building.exceptAll(urgent).agg(F.count(F.lit(1)).alias("n")) \
        .withColumn("cohort", F.lit("building_only"))
    return both.unionByName(only).select("cohort", "n")


@query(
    "top_return_customers",
    oracle=f"""
    SELECT c.c_custkey AS customer_id, c.c_name AS customer_name,
           {pround_sql(SUM_DISC_PRICE_SQL)} AS revenue_lost,
           n.n_name AS nation
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1998-01-01'
      AND o.o_orderdate <  TIMESTAMP '1999-01-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue_lost DESC, customer_id
    LIMIT 20
    """,
    covers=("O1", "J2", "F1"),
)
def top_return_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer, top 20 —
    filter + 4-way join + agg + distributed top-k."""
    li, orders, customer, nation = (
        load(spark, sf_dir, t) for t in ("lineitem", "orders", "customer", "nation"))
    returned = li.filter(F.col("l_returnflag") == "R")
    in98 = orders.filter(
        (F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp")))
    return (
        returned.join(in98, returned.l_orderkey == in98.o_orderkey)
        .join(F.broadcast(customer), in98.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy(F.col("c_custkey").alias("customer_id"),
                 F.col("c_name").alias("customer_name"),
                 F.col("n_name").alias("nation"))
        .agg(pround(sum_disc_price(), 2)
             .alias("revenue_lost"))
        .select("customer_id", "customer_name", "revenue_lost", "nation")
        .orderBy(F.desc("revenue_lost"), F.asc("customer_id"))
        .limit(20)
    )


@query(
    "shipmode_priority_buckets",
    oracle="""
    SELECT l_linestatus AS line_status,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_priority_lines,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_priority_lines
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY l_linestatus
    """,
    covers=("A3", "F4", "P15"),
)
def shipmode_priority_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: IN-list bucketing inside conditional sums."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.filter((F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
                  & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp")))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(F.col("l_linestatus").alias("line_status"))
        .agg(F.sum(F.when(high, 1).otherwise(0)).alias("high_priority_lines"),
             F.sum(F.when(~high, 1).otherwise(0)).alias("low_priority_lines"))
    )


@query(
    "disjunctive_predicate_revenue",
    oracle=f"""
    SELECT {pround_sql(SUM_DISC_PRICE_SQL)} AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
             AND l.l_quantity BETWEEN 1 AND 20)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
             AND l.l_quantity BETWEEN 10 AND 35)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 50
             AND l.l_quantity BETWEEN 20 AND 50)
    """,
    covers=("F2", "F4", "J1"),
)
def disjunctive_predicate_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-conjunctions across both join sides —
    Catalyst pushes the common partkey equi-condition into the join and
    evaluates the disjunction post-join."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")

    def leg(brand, slo, shi, qlo, qhi):
        return ((F.col("p_brand") == brand)
                & F.col("p_size").between(slo, shi)
                & F.col("l_quantity").between(qlo, qhi))

    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(leg("Brand#1", 1, 15, 1, 20)
                | leg("Brand#2", 10, 30, 10, 35)
                | leg("Brand#3", 20, 50, 20, 50))
        .agg(pround(sum_disc_price(), 2)
             .alias("revenue"))
    )


@query(
    "forecast_revenue_change",
    oracle=f"""
    SELECT {pround_sql('''CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                 * CAST(l_discount AS DECIMAL(8,4))) AS DOUBLE)''')}
             AS potential_revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    covers=("F2", "A1", "P12"),
)
def forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-aggregate — every predicate
    pushes to parquet; zero joins, one shuffle-free partial+final agg."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter((F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
                  & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
                  & F.col("l_discount").between(0.05, 0.07)
                  & (F.col("l_quantity") < 24))
        .agg(pround(F.sum(F.col("l_extendedprice").cast("decimal(18,4)")
                          * F.col("l_discount").cast("decimal(8,4)"))
                    .cast("double"), 2).alias("potential_revenue"))
    )


@query(
    "volume_between_nations",
    oracle=f"""
    SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
           CAST(EXTRACT(year FROM l.l_shipdate) AS INT) AS ship_year,
           {pround_sql(SUM_DISC_PRICE_SQL)} AS volume
    FROM lineitem l
    JOIN orders o    ON l.l_orderkey = o.o_orderkey
    JOIN customer c  ON o.o_custkey = c.c_custkey
    JOIN nation cn   ON c.c_nationkey = cn.n_nationkey
    JOIN supplier s  ON l.l_suppkey = s.s_suppkey
    JOIN nation sn   ON s.s_nationkey = sn.n_nationkey
    WHERE cn.n_name <> sn.n_name
    GROUP BY cn.n_name, sn.n_name, CAST(EXTRACT(year FROM l.l_shipdate) AS INT)
    """,
    covers=("J2", "F8"),
)
def volume_between_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: 6-way join with the nation dim joined TWICE
    (customer side + supplier side) under different aliases, cross-
    nation trade only."""
    li, orders, customer, supplier, nation = (
        load(spark, sf_dir, t)
        for t in ("lineitem", "orders", "customer", "supplier", "nation"))
    cn = nation.select(F.col("n_nationkey").alias("cn_key"),
                       F.col("n_name").alias("cust_nation"))
    sn = nation.select(F.col("n_nationkey").alias("sn_key"),
                       F.col("n_name").alias("supp_nation"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(cn), customer.c_nationkey == F.col("cn_key"))
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(sn), supplier.s_nationkey == F.col("sn_key"))
        .filter(F.col("cust_nation") != F.col("supp_nation"))
        .groupBy("cust_nation", "supp_nation",
                 F.year("l_shipdate").alias("ship_year"))
        .agg(pround(sum_disc_price(), 2)
             .alias("volume"))
    )


@query(
    "product_profit_by_nation",
    oracle=f"""
    SELECT sn.n_name AS nation,
           CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS order_year,
           {pround_sql(f'''CAST(sum({_DEC_EP} * {_DEC_DISC}
                 - CAST(l.l_quantity AS DECIMAL(18,4))
                   * CAST(p.p_retailprice * 0.6 AS DECIMAL(18,4))) AS DOUBLE)''')}
             AS profit
    FROM lineitem l
    JOIN part p     ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    WHERE p.p_name LIKE '%a%'
    GROUP BY sn.n_name, CAST(EXTRACT(year FROM o.o_orderdate) AS INT)
    """,
    covers=("J2", "P12"),
)
def product_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit (revenue − synthetic supply cost) per
    supplier nation per year, LIKE-filtered parts."""
    li, part, supplier, nation, orders = (
        load(spark, sf_dir, t)
        for t in ("lineitem", "part", "supplier", "nation", "orders"))
    cost = (F.col("l_quantity").cast("decimal(18,4)")
            * (F.col("p_retailprice") * 0.6).cast("decimal(18,4)"))
    return (
        li.join(F.broadcast(part.filter(F.col("p_name").like("%a%"))),
                li.l_partkey == part.p_partkey)
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(F.col("n_name").alias("nation"),
                 F.year("o_orderdate").alias("order_year"))
        .agg(pround(F.sum(_dec_ep() * _dec_disc() - cost).cast("double"), 2)
             .alias("profit"))
    )


@query(
    "top_supplier",
    oracle=f"""
    WITH supplier_rev AS (
      SELECT l_suppkey,
             CAST(sum({_DEC_EP} * {_DEC_DISC}) AS DOUBLE) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        AND l_shipdate <  TIMESTAMP '1998-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey AS supplier_key, s.s_name AS supplier_name,
           {pround_sql('r.total_rev')} AS total_revenue
    FROM supplier_rev r JOIN supplier s ON r.l_suppkey = s.s_suppkey
    WHERE r.total_rev = (SELECT max(total_rev) FROM supplier_rev)
    """,
    covers=("A6", "A7", "J1"),
)
def top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: revenue view + scalar-max subquery (keeps ties,
    unlike LIMIT 1) — exact decimal revenue makes the equality safe."""
    li = load(spark, sf_dir, "lineitem")
    supplier = load(spark, sf_dir, "supplier")
    rev = (li.filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-04-01").cast("timestamp")))
        .groupBy("l_suppkey")
        .agg(F.sum(_dec_ep() * _dec_disc()).cast("double").alias("total_rev")))
    mx = rev.agg(F.max("total_rev").alias("__mx"))
    return (rev.crossJoin(F.broadcast(mx))
            .filter(F.col("total_rev") == F.col("__mx"))
            .join(F.broadcast(supplier), rev.l_suppkey == supplier.s_suppkey)
            .select(F.col("s_suppkey").alias("supplier_key"),
                    F.col("s_name").alias("supplier_name"),
                    pround(F.col("total_rev"), 2).alias("total_revenue")))


@query(
    "supplier_part_counts",
    oracle="""
    SELECT p.p_brand AS brand, p.p_type AS part_type,
           count(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM part p JOIN lineitem l ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#45'
      AND p.p_type NOT LIKE 'MEDIUM%'
      AND l.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type
    """,
    covers=("A2", "F6", "J6"),
)
def supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct supplier counts with NOT-IN exclusion
    — expressed as a left-anti join (the NOT IN set has non-null keys,
    so anti-join is exactly equivalent; SURVEY F6's null hazard note)."""
    part = load(spark, sf_dir, "part")
    li = load(spark, sf_dir, "lineitem")
    supplier = load(spark, sf_dir, "supplier")
    bad = supplier.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(bad, li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(part.filter(
            (F.col("p_brand") != "Brand#45")
            & ~F.col("p_type").like("MEDIUM%"))),
            li.l_partkey == part.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"),
                 F.col("p_type").alias("part_type"))
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "large_volume_customers",
    oracle=f"""
    WITH big_orders AS (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey HAVING sum(l_quantity) > 250
    )
    SELECT c.c_custkey AS customer_id, c.c_name AS customer_name,
           o.o_orderkey AS order_key,
           CAST(o.o_orderdate AS DATE) AS order_date,
           {pround_sql('o.o_totalprice')} AS total_price
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_orderkey IN (SELECT l_orderkey FROM big_orders)
    """,
    covers=("F5", "J5", "A1"),
)
def large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: IN over a grouped-HAVING subquery → semi join
    against the aggregated key set."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    big = (li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("q"))
           .filter(F.col("q") > 250).select("l_orderkey"))
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey, "left_semi")
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .select(F.col("c_custkey").alias("customer_id"),
                F.col("c_name").alias("customer_name"),
                F.col("o_orderkey").alias("order_key"),
                F.col("o_orderdate").cast("date").alias("order_date"),
                pround(F.col("o_totalprice"), 2).alias("total_price"))
    )


@query(
    "min_cost_supplier",
    oracle=f"""
    WITH supply AS (
      SELECT l.l_partkey, l.l_suppkey,
             min(l.l_extendedprice / l.l_quantity) AS unit_cost
      FROM lineitem l WHERE l.l_quantity > 0
      GROUP BY l.l_partkey, l.l_suppkey
    ), best AS (
      SELECT l_partkey, min(unit_cost) AS best_cost FROM supply GROUP BY l_partkey
    )
    SELECT s.l_partkey AS part_key, s.l_suppkey AS supplier_key,
           {pround_sql('s.unit_cost')} AS unit_cost,
           sup.s_name AS supplier_name,
           n.n_name AS nation
    FROM supply s
    JOIN best b ON s.l_partkey = b.l_partkey AND s.unit_cost = b.best_cost
    JOIN supplier sup ON s.l_suppkey = sup.s_suppkey
    JOIN nation n ON sup.s_nationkey = n.n_nationkey
    """,
    covers=("A6", "J9", "J2"),
)
def min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: min-per-group correlated subquery → aggregate +
    equality self-join (keeps ties, the Q2 semantics), enriched through
    dims.  unit_cost division is IEEE-identical on both engines (same
    two operands), so the equality join is safe."""
    li = load(spark, sf_dir, "lineitem")
    supplier = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    supply = (li.filter(F.col("l_quantity") > 0)
              .groupBy("l_partkey", "l_suppkey")
              .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity"))
                   .alias("unit_cost")))
    best = supply.groupBy(F.col("l_partkey").alias("bk")).agg(
        F.min("unit_cost").alias("best_cost"))
    return (
        supply.join(best, (supply.l_partkey == best.bk)
                    & (supply.unit_cost == best.best_cost))
        .join(F.broadcast(supplier), supply.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .select(F.col("l_partkey").alias("part_key"),
                F.col("l_suppkey").alias("supplier_key"),
                pround(F.col("unit_cost"), 2).alias("unit_cost"),
                F.col("s_name").alias("supplier_name"),
                F.col("n_name").alias("nation"))
    )


@query(
    "suppliers_with_excess_stock",
    oracle="""
    SELECT s.s_suppkey AS supplier_key, s.s_name AS supplier_name
    FROM supplier s
    WHERE s.s_suppkey IN (
      SELECT l_suppkey FROM lineitem l
      WHERE l.l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'a%')
      GROUP BY l_suppkey
      HAVING sum(l_quantity) > 100
    )
    """,
    covers=("F5", "J5"),
)
def suppliers_with_excess_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: nested IN-subqueries → chained semi joins
    (part-name filter inside, grouped-HAVING threshold outside)."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    supplier = load(spark, sf_dir, "supplier")
    a_parts = part.filter(F.col("p_name").like("a%")).select("p_partkey")
    heavy = (li.join(a_parts, li.l_partkey == a_parts.p_partkey, "left_semi")
             .groupBy("l_suppkey").agg(F.sum("l_quantity").alias("q"))
             .filter(F.col("q") > 100).select("l_suppkey"))
    return (supplier.join(heavy, supplier.s_suppkey == heavy.l_suppkey,
                          "left_semi")
            .select(F.col("s_suppkey").alias("supplier_key"),
                    F.col("s_name").alias("supplier_name")))


@query(
    "late_only_suppliers",
    oracle="""
    SELECT l.l_suppkey AS supplier_key, count(*) AS n_late_lines
    FROM lineitem l
    WHERE l.l_linestatus = 'F'
      AND EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_orderkey = l.l_orderkey AND o.o_orderstatus = 'F')
      AND NOT EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = l.l_orderkey
                        AND l2.l_suppkey <> l.l_suppkey
                        AND l2.l_linestatus = 'O')
    GROUP BY l.l_suppkey
    """,
    covers=("F5", "F6", "J5", "J6"),
)
def late_only_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: EXISTS + NOT EXISTS with correlated conditions
    → a semi join and an anti join against tailored key sets."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    finished = li.filter(F.col("l_linestatus") == "F")
    f_orders = orders.filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    # anti condition: some OTHER supplier on the same order has an open line
    open_lines = (li.filter(F.col("l_linestatus") == "O")
                  .select(F.col("l_orderkey").alias("ok"),
                          F.col("l_suppkey").alias("sk")))
    base = (finished
            .join(f_orders, finished.l_orderkey == f_orders.o_orderkey,
                  "left_semi"))
    bad = base.alias("b").join(
        open_lines,
        (F.col("b.l_orderkey") == open_lines.ok)
        & (F.col("b.l_suppkey") != open_lines.sk),
        "left_semi")
    keep = base.exceptAll(bad)
    return (keep.groupBy(F.col("l_suppkey").alias("supplier_key"))
            .agg(F.count(F.lit(1)).alias("n_late_lines")))


@query(
    "dormant_high_balance_customers",
    oracle=f"""
    WITH avg_bal AS (
      SELECT {dsum_sql('c_acctbal', 4)} / count(*) AS threshold
      FROM customer WHERE c_acctbal > 0
    )
    SELECT c.c_nationkey AS nation_key,
           count(*) AS n_customers,
           {pround_sql(dsum_sql('c.c_acctbal', 4))} AS total_balance
    FROM customer c, avg_bal
    WHERE c.c_acctbal > avg_bal.threshold
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c.c_nationkey
    """,
    covers=("F6", "J6", "A7"),
)
def dormant_high_balance_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar-average threshold + NOT EXISTS
    (order-less customers) → cross-joined scalar + anti join."""
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    threshold = (customer.filter(F.col("c_acctbal") > 0)
                 .agg((dsum(F.col("c_acctbal"), 4) / F.count(F.lit(1)))
                      .alias("threshold")))
    return (
        customer.crossJoin(F.broadcast(threshold))
        .filter(F.col("c_acctbal") > F.col("threshold"))
        .join(orders.select("o_custkey"),
              customer.c_custkey == F.col("o_custkey"), "left_anti")
        .groupBy(F.col("c_nationkey").alias("nation_key"))
        .agg(F.count(F.lit(1)).alias("n_customers"),
             pround(dsum(F.col("c_acctbal"), 4), 2).alias("total_balance"))
    )
