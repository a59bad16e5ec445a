"""functions/rounding.py: every rounding and exact-sum rule returns the
same bits in its Column, Spark SQL and DuckDB spellings, and no other
package file spells one."""

from __future__ import annotations

import pathlib
import re
import struct

import duckdb
import pytest
from pyspark.sql import Window, functions as F

from ecommerce_data_engineering_spark.functions import rounding as R

HALF_WAY = [
    52298.924999999996,        # Spark round → .92, DuckDB round → .93
    0.005, 0.125, 1.005, 1.115, 2.675, 8.345, 10.235, 1234.565,
    -0.005, -0.125, -1.005, -2.5, -2.675, -52298.924999999996,
    2 ** 53 / 100, (2 ** 53 + 2) / 100, 2 ** 52 / 100 + 0.005,
    0.0, -0.0, None,
]
# Spark's floor returns BIGINT: the forms agree while |x|·10ⁿ < 2⁶³
DIGITS = (0, 2, 4)


def _bits(v):
    return None if v is None else struct.pack("<d", float(v))


def _duck(rows, schema: str, exprs: list[str], tail: str) -> list[tuple]:
    """``SELECT exprs FROM t tail`` over ``rows`` loaded as table t."""
    con = duckdb.connect()
    con.execute(f"CREATE TABLE t ({schema})")
    con.executemany(f"INSERT INTO t VALUES ({', '.join('?' * len(rows[0]))})",
                    rows)
    return con.execute(f"SELECT {', '.join(exprs)} FROM t {tail}").fetchall()


def test_pround_forms_bit_equal(spark):
    rows = list(enumerate(HALF_WAY))
    df = spark.createDataFrame(rows, "i int, x double")
    x = F.col("x")
    spark_rows = df.orderBy("i").select(
        *[R.pround(x, d) for d in DIGITS],
        *[F.expr(R.pround_expr("x", d)) for d in DIGITS],
        R.half_up(x).cast("double"), R.to_scaled_long(x)).collect()
    duck_rows = _duck(rows, "i INT, x DOUBLE", [
        *[R.pround_sql("x", d) for d in DIGITS],
        R.half_up_sql("x"), R.to_scaled_long_sql("x")], "ORDER BY i")
    n = len(DIGITS)
    for v, s, d in zip(HALF_WAY, spark_rows, duck_rows):
        for k in range(n):
            assert _bits(s[k]) == _bits(s[n + k]) == _bits(d[k]), (v, k)
        assert _bits(s[2 * n]) == _bits(d[n]), v
        assert s[2 * n + 1] == d[n + 1], v
    # the known half-way case: Spark's round() gives .92, DuckDB's .93
    assert spark_rows[0][1] == 52298.93
    # a negative half-way value rounds toward +∞, not away from zero
    assert spark_rows[HALF_WAY.index(-2.5)][0] == -2.0


def test_sum_forms_bit_equal(spark):
    """dsum/davg/lsum/lavg and their DuckDB twins on one batch of
    exact-cent money (repeated keys, negatives, a NULL), plain and
    windowed."""
    import random

    rng = random.Random(14)
    rows = [(i, i % 5, rng.randint(-10 ** 9, 10 ** 9) / 100.0)
            for i in range(3000)]
    rows[7] = (7, 2, None)
    df = spark.createDataFrame(rows, "i int, k int, x double")
    x = F.col("x")
    got = (df.groupBy("k")
           .agg(R.dsum(x), R.dsum(x, 4), R.davg(x), R.lsum(x), R.lavg(x))
           .orderBy("k").collect())
    want = _duck(rows, "i INT, k INT, x DOUBLE", [
        "k", R.dsum_sql("x"), R.dsum_sql("x", 4), R.davg_sql("x"),
        R.lsum_sql("x"), R.lavg_sql("x")], "GROUP BY k ORDER BY k")
    assert [[_bits(v) for v in r] for r in got] == \
        [[_bits(v) for v in r] for r in want]
    # exact: the decimal and scaled-long paths agree with each other
    assert all(r[1] == r[2] == r[4] and r[3] == r[5] for r in got)

    w = Window.partitionBy("k").orderBy("i")
    got_w = (df.select("i", F.sum(x.cast("decimal(18,2)")).over(w)
                       .cast("double")).orderBy("i").collect())
    want_w = _duck(rows, "i INT, k INT, x DOUBLE", [
        "i", R.dsum_sql("x", over="PARTITION BY k ORDER BY i")], "ORDER BY i")
    assert [_bits(r[1]) for r in got_w] == [_bits(r[1]) for r in want_w]


PACKAGE = pathlib.Path(__file__).resolve().parents[1] / \
    "ecommerce_data_engineering_spark"
HOME = "functions/rounding.py"
RESPELLINGS = {
    # x·10ⁿ + ½ before a floor, as Column, Spark SQL or DuckDB text
    "half_up_snap": r"\+\s*(?:F\.lit\(\s*)?0?\.5(?:[dD]|\b)",
    # sum(CAST(x AS DECIMAL(p,s))): DuckDB's exact decimal sum
    "duckdb_decimal_sum": r"sum\(\s*CAST\((?:[^()]|\([^()]*\))*?\s+AS\s+"
                          r"DECIMAL\([^)]*\)\)\s*\)",
    # F.sum(x.cast("decimal(p,s)")).cast("double"): the Column dsum
    "column_decimal_sum": r"F\.sum\((?:[^()]|\([^()]*\))*?\.cast\(\s*f?"
                          r"[\"']decimal\([^)]*\)[\"']\)\)\s*"
                          r"\.cast\(\s*[\"']double[\"']\)",
    # the hi/lo split of a wide scaled-long sum: wide_split/wide_total
    "wide_split": r"_WIDE_SPLIT",
}


@pytest.mark.parametrize("rule", sorted(RESPELLINGS))
def test_no_rule_spelled_outside_rounding_module(rule):
    """Scans whole files, docstrings included, so a spelling split over
    lines is caught; reports the line each match starts on."""
    pattern = re.compile(RESPELLINGS[rule])
    hits = []
    for p in sorted(PACKAGE.rglob("*.py")):
        rel = p.relative_to(PACKAGE).as_posix()
        if rel == HOME:
            continue
        text = p.read_text()
        lines = text.splitlines()
        for m in pattern.finditer(text):
            i = text.count("\n", 0, m.start())
            hits.append(f"{rel}:{i + 1}: {lines[i].strip()}")
    assert not hits, f"{rule} spelled outside {HOME}:\n" + "\n".join(hits)
    assert pattern.search((PACKAGE / HOME).read_text()), rule


# One hour, one user, one session: every value is under half a cent,
# so each rounds to 0.00 at DECIMAL(18,2) while the exact sum is 0.01.
SUB_CENT_EVENTS = [
    (0, "2024-01-01 00:01:00", 7, "purchase", 0.004),
    (1, "2024-01-01 00:02:00", 7, "purchase", 0.004),
    (2, "2024-01-01 00:03:00", 7, "purchase", 0.004),
    (3, "2024-01-01 00:04:00", 7, "view", 0.0134),
    (4, "2024-01-01 00:05:00", 7, "view", 0.0134),
]


@pytest.fixture()
def sub_cent_dir(tmp_path):
    """events, orders, customer and lineitem parquet whose money values
    carry sub-cent digits (the fixtures hold whole cents only)."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    ts = [datetime.datetime.fromisoformat(r[1]) for r in SUB_CENT_EVENTS]
    tables = {
        "events": {"event_id": [r[0] for r in SUB_CENT_EVENTS],
                   "ts": pa.array(ts, pa.timestamp("us")),
                   "user_id": [r[2] for r in SUB_CENT_EVENTS],
                   "event_type": [r[3] for r in SUB_CENT_EVENTS],
                   "value": [r[4] for r in SUB_CENT_EVENTS],
                   "props": ['{"k": 1}'] * len(SUB_CENT_EVENTS)},
        "orders": {"o_orderkey": [1, 2, 3], "o_custkey": [1, 1, 1],
                   "o_orderstatus": ["O"] * 3,
                   "o_totalprice": [0.004] * 3,
                   "o_orderdate": pa.array(ts[:3], pa.timestamp("us")),
                   "o_orderpriority": ["1-URGENT"] * 3},
        "customer": {"c_custkey": [1], "c_name": ["c1"],
                     "c_nationkey": pa.array([1], pa.int32()),
                     "c_acctbal": [1.0], "c_mktsegment": ["BUILDING"]},
        "lineitem": {"l_orderkey": [1]},
    }
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), str(tmp_path / f"{name}.parquet"))
    return str(tmp_path)


@pytest.mark.parametrize("q", ["events_hourly_rollup", "events_sessionization",
                               "events_session_window_native", "dq_summary"])
def test_money_sums_use_the_oracle_scale(spark, sub_cent_dir, q):
    """The Spark side sums money at its oracle's DECIMAL(18,4): summed
    at DECIMAL(18,2), each sub-cent value would round to a cent first
    and the answer would change."""
    import duckdb

    from ecommerce_data_engineering_spark.plans import REGISTRY
    from .oracle import compare

    con = duckdb.connect()
    for t in ("events", "orders", "customer", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{sub_cent_dir}/{t}.parquet'")
    oracle = REGISTRY[q].oracle
    want = con.execute(oracle).fetchdf()
    at_cents = con.execute(
        oracle.replace("DECIMAL(18,4)", "DECIMAL(18,2)")).fetchdf()
    assert not want.equals(at_cents), "fixture does not tell the scales apart"
    assert compare(REGISTRY[q].fn(spark, sub_cent_dir), want, q) == []


def test_stream_rollup_equals_batch_at_sub_cent_values(spark, sub_cent_dir):
    from ecommerce_data_engineering_spark.plans import REGISTRY
    from ecommerce_data_engineering_spark.streaming import (
        run_stream_to_memory, stream_hourly_rollup)

    streamed = run_stream_to_memory(
        stream_hourly_rollup(spark, sub_cent_dir), "sub_cent_rollup")
    batch = (REGISTRY["events_hourly_rollup"].fn(spark, sub_cent_dir)
             .select("window_start", "event_type", "n_events", "total_value"))
    assert sorted(streamed.collect()) == sorted(batch.collect())
    assert {r.total_value for r in batch.collect()} == {0.01, 0.03}
