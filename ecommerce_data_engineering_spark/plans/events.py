"""Event analytics over the events fixture — the batch equivalents of
the streaming pipelines in ``streaming/`` (SURVEY.md §2.11: the
reference has no streaming; this is the declared extension surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..sources import load
from ..functions.business import pct_of_total, pct_of_total_sql
from ..functions.rounding import (davg, davg_sql, dsum, dsum_sql, pround,
                                  pround_sql)
from .registry import query


@query(
    "events_hourly_rollup",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           count(*) AS n_events,
           {pround_sql(dsum_sql('value', 4))} AS total_value,
           {pround_sql(davg_sql('value', 4))} AS avg_value,
           count(DISTINCT user_id) AS unique_users
    FROM events
    GROUP BY 1, 2
    """,
    covers=("A1", "A2"),
    bench=True,
)
def events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation in batch form: the exact query the
    Structured Streaming pipeline (streaming/events.py) runs
    incrementally — date_trunc is the batch spelling of
    window(ts, '1 hour').start."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.date_trunc("hour", "ts").alias("window_start"),
                  "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            pround(dsum(F.col("value"), 4), 2).alias("total_value"),
            pround(davg(F.col("value"), 4), 2).alias("avg_value"),
            F.countDistinct("user_id").alias("unique_users"),
        )
    )


@query(
    "events_sessionization",
    oracle=f"""
    WITH gaps AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                    OR lag(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS is_new_session
      FROM events
      WHERE user_id IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts, value,
             sum(is_new_session) OVER
               (PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM gaps
    )
    SELECT user_id,
           CAST(session_seq AS INT) AS session_seq,
           count(*) AS n_events,
           min(ts) AS session_start,
           max(ts) AS session_end,
           {pround_sql(dsum_sql('value', 4))} AS session_value
    FROM sessions
    GROUP BY user_id, CAST(session_seq AS INT)
    """,
    covers=("W1",),
    bench=True,
)
def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-minute inactivity gap via lag + cumulative
    sum — the batch twin of streaming session_window(ts, '30 minutes').

    Windows are partitioned by user_id, so the work distributes across
    users; anonymous (NULL) users are excluded — at 100 TB the NULL key
    would be one giant hot partition (the clickstream skew trap,
    SURVEY.md §7.4.8)."""
    e = load(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    gaps = e.withColumn(
        "is_new_session",
        F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), F.lit(1)).otherwise(F.lit(0)),
    )
    wsum = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    sessions = gaps.withColumn(
        "session_seq", F.sum("is_new_session").over(wsum).cast("int"))
    return (
        sessions.groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            pround(dsum(F.col("value"), 4), 2).alias("session_value"),
        )
    )


@query(
    "event_type_daily_share",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS event_date, event_type, count(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT event_date, event_type, n,
           {pct_of_total_sql('n', 'event_date')} AS pct_of_day
    FROM daily
    """,
    covers=("W2", "A1"),
)
def event_type_daily_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total per day — W2 with a *partitioned* window (one
    partition per day), the scalable variant of the reference's
    SUM(...) OVER ()."""
    e = load(spark, sf_dir, "events")
    daily = (
        e.groupBy(F.col("ts").cast("date").alias("event_date"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return daily.withColumn("pct_of_day", pct_of_total("n", "event_date"))


@query(
    "purchase_click_asof",
    oracle="""
    WITH purchases AS (
      SELECT event_id AS purchase_id, user_id, ts FROM events
      WHERE event_type = 'purchase' AND user_id IS NOT NULL
    ), clicks AS (
      SELECT event_id AS click_id, user_id, ts FROM events
      WHERE event_type = 'click' AND user_id IS NOT NULL
    )
    SELECT p.purchase_id, p.user_id,
           p.ts AS purchase_ts,
           c.click_id, c.ts AS click_ts,
           CASE WHEN c.click_id IS NOT NULL
                THEN epoch_us(p.ts) - epoch_us(c.ts) END AS micros_since_click
    FROM purchases p ASOF LEFT JOIN clicks c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
    covers=("EXT-asof",),
)
def purchase_click_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/asof.py): each purchase attributed to the
    user's latest prior-or-simultaneous click — the union+running-last
    formulation (one shuffle, no Python), oracle-checked against
    DuckDB's native ASOF JOIN."""
    from ..operators.asof import asof_join

    e = load(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    purchases = (e.filter(F.col("event_type") == "purchase")
                 .select(F.col("event_id").alias("purchase_id"), "user_id", "ts"))
    clicks = (e.filter(F.col("event_type") == "click")
              .select(F.col("event_id").alias("click_id"), "user_id", "ts"))
    joined = asof_join(purchases, clicks, on="ts", by="user_id",
                       value_cols=["click_id"])
    return joined.select(
        "purchase_id", "user_id",
        F.col("ts").alias("purchase_ts"),
        "click_id",
        F.col("ts_right").alias("click_ts"),
        F.when(F.col("click_id").isNotNull(),
               F.unix_micros("ts") - F.unix_micros("ts_right"))
         .alias("micros_since_click"),
    )


@query(
    "event_user_enrichment",
    oracle="""
    SELECT c.c_mktsegment AS segment,
           count(*) AS n_events,
           count(DISTINCT e.user_id) AS n_users
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    covers=("J3", "EXT-skew"),
)
def event_user_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events enriched with customer attributes via the null-safe left
    join (operators/skew.null_safe_left_join): anonymous/NULL keys
    bypass the shuffle instead of piling onto one reducer — the
    clickstream skew remedy (SURVEY.md §7.4.8).  Fixture events have no
    NULL users, so the bypass leg is empty here; the synthetic
    clickstream test exercises it with 30% NULLs."""
    from ..operators.skew import null_safe_left_join

    e = load(spark, sf_dir, "events")
    c = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment")
    return (null_safe_left_join(e, c, "user_id")
            .groupBy(F.col("c_mktsegment").alias("segment"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.countDistinct("user_id").alias("n_users")))


@query(
    "events_json_props",
    oracle="""
    SELECT event_id, event_type,
           TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INT) AS k
    FROM events
    """,
    covers=("P3", "EXT-json"),
)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed JSON extraction: from_json with a declared schema (the
    Spark-native way to open semi-structured columns — schema'd, 
    codegen'd, null-safe).  The oracle reproduces the value via regexp
    so the check stays engine-portable."""
    e = load(spark, sf_dir, "events")
    return e.select(
        "event_id", "event_type",
        F.from_json("props", "k INT").getField("k").alias("k"),
    )


@query(
    "events_session_window_native",
    oracle=f"""
    WITH gaps AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                    OR lag(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS is_new_session
      FROM events
      WHERE user_id IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts, value,
             sum(is_new_session) OVER
               (PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM gaps
    )
    SELECT user_id,
           min(ts) AS session_start,
           count(*) AS n_events,
           {pround_sql(dsum_sql('value', 4))} AS session_value
    FROM sessions
    GROUP BY user_id, session_seq
    """,
    covers=("EXT-session",),
)
def events_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's native session_window(ts, '30 minutes') in batch mode —
    must produce exactly the sessions the classic lag+cumsum SQL
    builds (the oracle): same session starts, counts, and value sums.
    In streaming the same expression runs stateful with watermark
    eviction."""
    e = load(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.count(F.lit(1)).alias("n_events"),
            pround(dsum(F.col("value"), 4), 2).alias("session_value"),
        )
        .select("user_id", "session_start", "n_events", "session_value")
    )


@query(
    "events_rollup_cascade",
    oracle=f"""
    SELECT CAST(EXTRACT(year FROM ts) AS INT) AS y,
           CAST(EXTRACT(month FROM ts) AS INT) AS m,
           event_type,
           count(*) AS n_events,
           {pround_sql(dsum_sql('value', 4))} AS total_value
    FROM events GROUP BY 1, 2, 3
    """,
    covers=("EXT-rollup", "A1"),
)
def events_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution rollup cascade (the hypertable continuous-
    aggregate shape): hour → day → month, each level re-aggregating the
    one below.  The oracle aggregates the raw events directly — the
    hash match proves the cascade is lossless for additive measures
    (exact decimal sums make re-aggregation associative; non-additive
    measures like distinct users must come from sketches instead)."""
    e = load(spark, sf_dir, "events")
    hourly = (e.groupBy(F.date_trunc("hour", "ts").alias("h"), "event_type")
              .agg(F.count(F.lit(1)).alias("n"),
                   F.sum(F.col("value").cast("decimal(18,4)")).alias("v")))
    daily = (hourly.groupBy(F.date_trunc("day", "h").alias("d"), "event_type")
             .agg(F.sum("n").alias("n"), F.sum("v").alias("v")))
    monthly = (daily.groupBy(F.year("d").alias("y"), F.month("d").alias("m"),
                             "event_type")
               .agg(F.sum("n").alias("n_events"),
                    pround(F.sum("v").cast("double"), 2).alias("total_value")))
    return monthly.select("y", "m", "event_type", "n_events", "total_value")
