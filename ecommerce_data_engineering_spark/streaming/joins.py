"""Stream-stream join: click→purchase attribution as two live streams.

Structured Streaming joins two unbounded inputs by buffering each side
in watermarked state: a purchase can match clicks up to 1 hour older,
and the time-range condition + watermarks bound how long either side
is retained (without them the state grows forever — the condition IS
the retention policy).  This is the streaming twin of the batch as-of
join (operators/asof.py) with a bounded lookback window.  Its count
twin, :func:`stream_click_purchase_counts`, needs no join at all: one
windowed aggregation counts both event types per user.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .source import events_stream as _events_stream

# how much older than a purchase a click may be and still match it
LOOKBACK_MINUTES = 60


def stream_click_purchase_join(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Purchases joined to same-user clicks within the
    ``LOOKBACK_MINUTES`` window."""
    ev = _events_stream(spark, sf_dir)
    clicks = (ev.filter(F.col("event_type") == "click")
              .select(F.col("user_id").alias("c_user"),
                      F.col("event_id").alias("click_id"),
                      F.col("ts").alias("click_ts"))
              .withWatermark("click_ts", "2 hours"))
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .select(F.col("user_id").alias("p_user"),
                         F.col("event_id").alias("purchase_id"),
                         F.col("ts").alias("purchase_ts"))
                 .withWatermark("purchase_ts", "2 hours"))
    cond = (
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts")
           - F.expr(f"INTERVAL {LOOKBACK_MINUTES} MINUTES"))
    )
    return (purchases.join(clicks, cond, "inner")
            .select("purchase_id", F.col("p_user").alias("user_id"),
                    "purchase_ts", "click_id", "click_ts"))


def stream_click_purchase_counts(spark: SparkSession, sf_dir: str,
                                 window: str = "1 hour",
                                 src: DataFrame | None = None) -> DataFrame:
    """Pre-aggregated (compacted) attribution: per (user, window) click
    and purchase COUNTS — the skew-robust twin of
    :func:`stream_click_purchase_join` (VERDICT r9 #7).

    The row-pair join is output-bound under key skew by arithmetic, not
    by any store defect: a user holding c clicks and p purchases in a
    window emits c·p pair ROWS (17.3M on the skew16x fixture's hot
    key in evidence/STREAM_BENCH.json, last present at commit
    a27ea52).  When the downstream product is a statistic — pairs per
    user, conversion volume, attribution weight — materializing the
    pairs only to re-aggregate them wastes the entire emission.  This
    operator never matches rows at all: clicks and purchases collapse
    together into one count row per (user, window), so the state and
    the output are bounded by key cardinality.  The hot key becomes one
    fat count row and `n_pairs = n_clicks · n_purchases` is computed in
    O(1) from its two counts — the c·p blowup never exists anywhere in
    the pipeline.  (When individual pairs ARE the product, the row-pair
    operator remains the right tool and its throughput is output-bound
    by definition.)

    Semantics: same-window attribution — clicks and purchases are
    bucketed into tumbling ``window``s and matched within a bucket (the
    count analogue of a bounded lookback); rows with a NULL user_id are
    dropped, as the row-pair join's equi-condition drops them, and a
    (user, window) is emitted only when it holds at least one click AND
    one purchase.  The plan is one scan of the source and one windowed
    aggregation — a single stateful operator, no join state — emitted
    in append mode once the watermark closes the window.

    The watermark is that of the kept click and purchase rows (their
    max ts − 2 hours), one for both event types.  On a time-ordered
    feed that finalizes windows no later than separate per-type
    watermarks would; on a feed where one event type lags the other by
    more than 2 hours, the lagging type's rows arrive behind the
    watermark and are dropped as late.
    """
    ev = src if src is not None else _events_stream(spark, sf_dir)
    is_click = F.col("event_type") == "click"
    is_purchase = F.col("event_type") == "purchase"
    return (ev.filter((is_click | is_purchase)
                      & F.col("user_id").isNotNull())
            .withWatermark("ts", "2 hours")
            .groupBy(F.window("ts", window).alias("win"), "user_id")
            .agg(F.count_if(is_click).alias("n_clicks"),
                 F.count_if(is_purchase).alias("n_purchases"))
            .filter((F.col("n_clicks") > 0) & (F.col("n_purchases") > 0))
            .select(F.col("win.start").alias("window_start"),
                    "user_id", "n_clicks", "n_purchases",
                    (F.col("n_clicks") * F.col("n_purchases"))
                    .alias("n_pairs")))
