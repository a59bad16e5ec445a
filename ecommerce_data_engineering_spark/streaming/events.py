"""Structured Streaming over the events table (extension surface —
the reference has no streaming, SURVEY.md §2.11; this reproduces the
events_hourly_rollup batch query incrementally).

Pattern: readStream(parquet) → event-time watermark → tumbling window
aggregation → sink.  In production the source is Kafka/files-arriving;
here the fixture parquet directory drives the same query via
Trigger.AvailableNow, which is also the correctness harness: the
streamed result must equal the batch result on the same input.

Late data: the 1-hour watermark bounds state — aggregation state for
windows older than (max event time − 1 h) is evicted, which is what
lets this run forever at firehose scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.rounding import dsum, pround
from .source import drain, events_stream


def stream_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming DataFrame: hourly tumbling counts/sums per event_type.

    total_value uses the SAME exact-decimal sum + portable rounding as
    the batch twin (plans/events.events_hourly_rollup) — a raw double
    sum is order-dependent across micro-batch partials and Spark's
    ``round`` differs from ``pround`` on halfway values, either of
    which would break the streamed-equals-batch contract on a window
    whose value-sum lands on a .xx5 boundary."""
    src = events_stream(spark, sf_dir)
    return (
        src.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            pround(dsum(F.col("value"), scale=4), 2).alias("total_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type", "n_events", "total_value",
        )
    )


def run_stream_to_memory(stream_df: DataFrame, name: str,
                         timeout_s: int = 120, mode: str = "update",
                         return_progress: bool = False):
    """Drive a streaming query to completion on the available input
    (Trigger.AvailableNow) and return the materialized result.

    ``update`` is the production posture the module docstring claims:
    each micro-batch emits only the windows it changed, and the
    watermark EVICTS state for windows older than the horizon
    (tests/test_streaming.py::test_watermark_evicts_old_window_state
    pins the eviction).  ``complete`` mode — available for ad-hoc
    debugging — retains every window in the state store forever and
    must not be used for an unbounded stream.  With a single
    availableNow batch over a static fixture, update mode emits every
    window exactly once, so the memory table equals the batch result.
    With a MULTI-batch feed (maxFilesPerTrigger on the source) the
    memory table holds one row per update instead — consumers finalize
    by max-n_events per key.

    ``return_progress=True`` returns ``(result_df, recentProgress)``
    instead of the bare DataFrame — the per-batch input-rate and
    state-operator metrics a throughput measurement reads (perfbench's
    ``event_ingest`` drain)."""
    q = drain(stream_df.writeStream.outputMode(mode)
              .format("memory").queryName(name),
              f"streaming query {name!r}", timeout_s)
    spark = stream_df.sparkSession
    result = spark.sql(f"SELECT * FROM {name}")
    if return_progress:
        # recentProgress is a ring capped by
        # spark.sql.streaming.numRecentProgressUpdates (default 100): a
        # longer feed silently drops its earliest batches and
        # under-counts input rows.  Check for actual loss, not fullness:
        # the batchIds must be exactly 0..n-1 (a feed of exactly `cap`
        # batches loses nothing and passes).
        progress = list(q.recentProgress)
        batch_ids = [p["batchId"] for p in progress]
        if batch_ids != list(range(len(batch_ids))):
            raise RuntimeError(
                f"streaming query {name!r}: recentProgress batchIds "
                f"{batch_ids[:3]}..{batch_ids[-3:]} are not the "
                f"contiguous 0-based sequence — the ring buffer "
                f"(spark.sql.streaming.numRecentProgressUpdates) "
                f"dropped early batches; raise it above the "
                f"micro-batch count before trusting these metrics")
        return result, progress
    return result

