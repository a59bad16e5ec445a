"""functions/business.py and functions/dates.py: each analytics rule
returns the same rows in its Column form and its DuckDB twin on the
edge inputs of the rule, no other package file spells one, and the
dashboard plans built from them equal their former inline forms."""

from __future__ import annotations

import datetime
import pathlib
import re
import struct

import duckdb
import pytest
from pyspark.sql import functions as F

from ecommerce_data_engineering_spark import AS_OF_DATE
from ecommerce_data_engineering_spark.functions import business as B
from ecommerce_data_engineering_spark.functions import dates as D
from ecommerce_data_engineering_spark.functions.rounding import (
    lavg, lsum, pround, to_scaled_long)

DAY = datetime.timedelta(days=1)
AS_OF = datetime.date(2024, 1, 1)
AS_OF_SQL = f"DATE '{AS_OF}'"


def _bits(v):
    return None if v is None else struct.pack("<d", float(v))


def _duck(rows, schema: str, select: str, tail: str = "") -> list[tuple]:
    """``SELECT select FROM t tail`` over ``rows`` loaded as table t."""
    con = duckdb.connect()
    con.execute(f"CREATE TABLE t ({schema})")
    con.executemany(f"INSERT INTO t VALUES ({', '.join('?' * len(rows[0]))})",
                    rows)
    return con.execute(f"SELECT {select} FROM t {tail}").fetchall()


def _tuples(rows) -> list[tuple]:
    return [tuple(r) for r in rows]


def test_churn_risk_forms_agree(spark):
    ago = [None, 0, 180, 181, 365, 366]
    rows = [(i, None if d is None else AS_OF - d * DAY)
            for i, d in enumerate(ago)]
    last, as_of = F.col("last"), F.lit(str(AS_OF)).cast("date")
    got = (spark.createDataFrame(rows, "i int, last date").orderBy("i")
           .select(D.days_between(last, as_of), B.churn_risk(last, as_of))
           .collect())
    want = _duck(rows, "i INT, last DATE",
                 f"{D.days_between_sql('last', AS_OF_SQL)}, "
                 f"{B.churn_risk_sql('last', AS_OF_SQL)}", "ORDER BY i")
    assert _tuples(got) == want
    assert [r[0] for r in want] == ago
    assert [r[1] for r in want] == ["No Orders", "Low", "Low", "Medium",
                                    "Medium", "High"]


def test_acquisition_bucket_forms_agree(spark):
    after = [None, 0, 7, 8, 30, 31]
    reg = datetime.date(2023, 12, 20)
    rows = [(i, reg, None if d is None else reg + d * DAY)
            for i, d in enumerate(after)]
    r, f = F.col("reg"), F.col("first")
    got = (spark.createDataFrame(rows, "i int, reg date, first date")
           .orderBy("i")
           .select(D.days_between(r, f), B.acquisition_bucket(r, f))
           .collect())
    want = _duck(rows, "i INT, reg DATE, first DATE",
                 f"{D.days_between_sql('reg', 'first')}, "
                 f"{B.acquisition_bucket_sql('reg', 'first')}", "ORDER BY i")
    assert _tuples(got) == want
    assert [r[0] for r in want] == after
    assert [r[1] for r in want] == ["Never Purchased", "First Week",
                                    "First Week", "First Month",
                                    "First Month", "After Month"]


def test_pct_of_total_forms_agree(spark):
    # group a: 1 of 800 is 0.125 %; group b: 1 of 20000 is 0.005 %
    # (1/200) — both half-way at 2 decimals; group c: 1 of 8
    rows = [(0, "a", 1), (1, "a", 799), (2, "b", 1), (3, "b", 19999),
            (4, "c", 1), (5, "c", 7)]
    df = spark.createDataFrame(rows, "i int, g string, n bigint")
    got = (df.select("i", B.pct_of_total("n", "g"), B.pct_of_total("n"))
           .orderBy("i").collect())
    want = _duck(rows, "i INT, g VARCHAR, n BIGINT",
                 f"i, {B.pct_of_total_sql('n', 'g')}, "
                 f"{B.pct_of_total_sql('n')}", "ORDER BY i")
    assert [[_bits(v) for v in r] for r in got] == \
        [[_bits(v) for v in r] for r in want]
    # half-way percents round half up, as pround does
    assert [r[1] for r in want[:5:2]] == [0.13, 0.01, 12.5]


def test_stock_turnover_forms_agree(spark):
    rows = [(0, -7.0, 2), (1, 7.0, 2), (2, 5.0, 0), (3, None, 3),
            (4, 9.0, -1), (5, 6.0, 3), (6, 0.0, 4)]
    got = (spark.createDataFrame(rows, "i int, units double, stock bigint")
           .orderBy("i")
           .select(B.stock_turnover(F.col("units"), F.col("stock")))
           .collect())
    want = _duck(rows, "i INT, units DOUBLE, stock BIGINT",
                 B.stock_turnover_sql("units", "stock"), "ORDER BY i")
    assert _tuples(got) == want
    assert [r[0] for r in want] == [-3, 3, 0, None, 0, 2, 0]
    # the truncation is what the twin adds: DuckDB's bare cast rounds
    assert duckdb.sql("SELECT CAST(-7.0 / 2 AS BIGINT)").fetchone() == (-4,)


def test_order_rollup_forms_agree(spark):
    # per group: cents summing to a half-cent average, a repeat customer
    rows = [(0, 1, 0.01, 7), (0, 2, 0.02, 7), (0, 3, 10.25, 8),
            (1, 4, 1.05, 9), (1, 5, 2.10, 9), (2, 6, None, 3)]
    got = (spark.createDataFrame(
                rows, "k int, o_orderkey bigint, o_totalprice double, "
                      "o_custkey bigint")
           .groupBy("k")
           .agg(*B.order_rollup("o_orderkey", "o_totalprice", "o_custkey"))
           .orderBy("k").collect())
    want = _duck(rows, "k INT, o_orderkey BIGINT, o_totalprice DOUBLE, "
                       "o_custkey BIGINT",
                 "k, " + B.order_rollup_sql("o_orderkey", "o_totalprice",
                                            "o_custkey"),
                 "GROUP BY k ORDER BY k")
    assert [[_bits(v) if isinstance(v, float) else v for v in r]
            for r in got] == \
        [[_bits(v) if isinstance(v, float) else v for v in r] for r in want]
    assert want[0][1:] == (3, 10.28, 3.43, 2)


def test_date_rules_forms_agree(spark):
    days = [datetime.date(*d) for d in [
        (1999, 12, 31), (2000, 1, 1), (2020, 12, 31), (2021, 1, 1),
        (2021, 1, 3), (2021, 1, 4), (2024, 2, 29), (2024, 12, 30)]]
    rows = list(enumerate(days))
    d = F.col("d")
    got = (spark.createDataFrame(rows, "i int, d date").orderBy("i")
           .select(D.date_key(d), D.key_date(D.date_key(d)),
                   *D.calendar_columns(d))
           .collect())
    want = _duck(rows, "i INT, d DATE",
                 f"{D.date_key_sql('d')}, d, {D.calendar_columns_sql('d')}",
                 "ORDER BY i")
    assert _tuples(got) == want
    assert want[0][0] == 19991231


PACKAGE = pathlib.Path(__file__).resolve().parents[1] / \
    "ecommerce_data_engineering_spark"
RESPELLINGS = {
    # rule: (its home, the spelling no other package file may carry)
    "tier_labels": ("functions/business.py",
                    r"[\"'](?:No Orders|High|Medium|Low|Never Purchased"
                    r"|First Week|First Month|After Month)[\"']"),
    "date_key_format": ("functions/dates.py", r"%Y%m%d|[\"']yyyyMMdd[\"']"),
    "day_difference": ("functions/dates.py", r"date_?diff"),
}


@pytest.mark.parametrize("rule", sorted(RESPELLINGS))
def test_no_rule_spelled_outside_its_home(rule):
    """Scans whole files, docstrings included (as the rounding guard in
    tests/test_rounding.py does); reports the line each match is on."""
    home, spelling = RESPELLINGS[rule]
    pattern = re.compile(spelling)
    hits = []
    for p in sorted(PACKAGE.rglob("*.py")):
        rel = p.relative_to(PACKAGE).as_posix()
        if rel == home:
            continue
        text = p.read_text()
        lines = text.splitlines()
        for m in pattern.finditer(text):
            i = text.count("\n", 0, m.start())
            hits.append(f"{rel}:{i + 1}: {lines[i].strip()}")
    assert not hits, f"{rule} spelled outside {home}:\n" + "\n".join(hits)
    assert pattern.search((PACKAGE / home).read_text()), rule


# ----- the dashboard plans against their former inline forms --------------

def _daily_sales_ref(spark, sf_dir):
    from ecommerce_data_engineering_spark.sources import load
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy(F.col("o_orderdate").cast("date").alias("sales_date"))
        .agg(
            F.count("o_orderkey").alias("total_orders"),
            pround(lsum(F.col("o_totalprice")), 2).alias("total_revenue"),
            pround(lavg(F.col("o_totalprice")), 2).alias("avg_order_value"),
            F.countDistinct("o_custkey").alias("unique_customers"),
        )
        .withColumn("new_customers", F.lit(0))
    )


def _customer_metrics_ref(spark, sf_dir):
    from ecommerce_data_engineering_spark.sources import load
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    as_of = F.lit(AS_OF_DATE).cast("date")
    o_agg = (
        o.groupBy("o_custkey")
        .agg(
            F.count("o_orderkey").alias("_n"),
            F.count(
                F.when(F.col("o_orderstatus") == "F", F.col("o_orderkey"))
            ).alias("_done"),
            F.sum(to_scaled_long(F.col("o_totalprice"))).alias("_spent_c"),
            F.count("o_totalprice").alias("_np"),
            F.min(F.col("o_orderdate").cast("date")).alias("_first"),
            F.max(F.col("o_orderdate").cast("date")).alias("_last"),
        )
    )
    days_since = F.datediff(as_of, F.col("_last"))
    return (
        c.join(o_agg, c.c_custkey == o_agg.o_custkey, "left")
        .select(
            F.col("c_custkey").alias("customer_id"),
            F.col("c_mktsegment").alias("customer_segment"),
            F.coalesce(F.col("_n"), F.lit(0)).alias("total_orders"),
            F.coalesce(F.col("_done"), F.lit(0)).alias("completed_orders"),
            pround(F.coalesce(F.col("_spent_c") / F.lit(100.0), F.lit(0)), 2)
             .alias("total_spent"),
            pround(F.coalesce(F.col("_spent_c") / F.lit(100.0) / F.col("_np"),
                              F.lit(0)), 2).alias("avg_order_value"),
            F.col("_first").alias("first_order_date"),
            F.col("_last").alias("last_order_date"),
            days_since.cast("int").alias("days_since_last_order"),
            F.when(F.col("_last").isNull(), F.lit("No Orders"))
             .when(days_since > 365, F.lit("High"))
             .when(days_since > 180, F.lit("Medium"))
             .otherwise(F.lit("Low")).alias("churn_risk"),
        )
    )


def _product_metrics_floor_ref(spark, sf_dir):
    from ecommerce_data_engineering_spark.sources import load
    p = load(spark, sf_dir, "part")
    li = load(spark, sf_dir, "lineitem")
    li_agg = (
        li.groupBy("l_partkey")
        .agg(
            F.sum("l_quantity").alias("_qty"),
            F.sum(to_scaled_long(F.col("l_extendedprice"))
                  * (F.lit(100) - to_scaled_long(F.col("l_discount"))))
             .alias("_rev4"),
            F.size(F.collect_set("l_orderkey")).cast("bigint")
             .alias("_orders"),
        )
    )
    return (
        p.join(li_agg, p.p_partkey == li_agg.l_partkey, "left")
        .select(
            F.col("p_partkey").alias("product_id"),
            F.col("p_brand").alias("brand"),
            pround(F.col("p_retailprice"), 2).alias("retail_price"),
            pround(F.col("_qty"), 2).alias("total_quantity"),
            pround(F.col("_rev4") / F.lit(10_000.0), 2).alias("total_revenue"),
            F.coalesce(F.col("_orders"), F.lit(0)).alias("order_count"),
            F.when(F.col("p_size") > 0,
                   F.floor(F.col("_qty") / F.col("p_size")).cast("bigint"))
             .otherwise(F.lit(0).cast("bigint")).alias("stock_turnover"),
        )
    )


@pytest.mark.parametrize("q, ref", [("daily_sales", _daily_sales_ref),
                                    ("customer_metrics", _customer_metrics_ref)])
def test_dashboard_plan_equals_inline_form(spark, sf_dir, q, ref):
    from ecommerce_data_engineering_spark.plans import REGISTRY
    assert REGISTRY[q].fn(spark, sf_dir).sameSemantics(ref(spark, sf_dir))


def test_product_metrics_differs_from_floor_form_in_turnover_only(spark, sf_dir):
    """Truncation replaces floor() in stock_turnover; every other
    column keeps its plan, and on the fixture (no negative quantity)
    the rows are equal."""
    from ecommerce_data_engineering_spark.plans import REGISTRY
    new = REGISTRY["product_metrics"].fn(spark, sf_dir)
    ref = _product_metrics_floor_ref(spark, sf_dir)
    assert not new.sameSemantics(ref)
    # optimized plans: the pruned turnover leaves no trace there
    a, b = (df.drop("stock_turnover")._jdf.queryExecution().optimizedPlan()
            for df in (new, ref))
    assert a.sameResult(b)
    assert new.exceptAll(ref).count() == 0 and ref.exceptAll(new).count() == 0
