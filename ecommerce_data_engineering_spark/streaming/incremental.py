"""Incremental daily_sales — the reference's daily full-refresh
(analytics_dag.py:150-163) reproduced as a continuous aggregation.

Pattern: stream the orders feed → event-time watermark → per-day
aggregate → ``foreachBatch`` keyed upsert (M2) into a versioned
parquet rollup (sources/versioned.py): each micro-batch folds only the
days it touched and publishes atomically via a commit marker, so the
rollup stays queryable — and never partially visible — between
batches.  This is the hypertable-continuous-aggregate shape: at 100 TB
the orders feed is Kafka and the rollup is partitioned by month, but
the operator graph is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.rounding import dsum
from ..operators.upsert import keyed_upsert
from ..schemas import FIXTURES
from ..sources import versioned as V
from .source import drain


def _orders_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (spark.readStream.schema(FIXTURES["orders"])
            .option("pathGlobFilter", "orders.parquet")
            .parquet(sf_dir.rstrip("/")))


def daily_sales_incremental(spark: SparkSession, sf_dir: str,
                            rollup_path: str, checkpoint: str,
                            timeout_s: int = 180) -> DataFrame:
    """Drive the orders fixture through the streaming rollup; returns
    the final rollup table (equal to the batch daily_sales on the same
    input — asserted in tests)."""
    agg = (
        _orders_stream(spark, sf_dir)
        .withWatermark("o_orderdate", "1 day")
        .groupBy(F.col("o_orderdate").cast("date").alias("sales_date"))
        .agg(
            F.count(F.lit(1)).alias("total_orders"),
            dsum(F.col("o_totalprice"), 4).alias("total_revenue"),
            F.approx_count_distinct("o_custkey").alias("approx_customers"),
        )
    )

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        sess = batch_df.sparkSession
        batch = batch_df.cache()
        try:
            if V.current_version(sess, rollup_path) is None:
                # first batch: nothing to merge into.  A marker-less
                # root is unambiguous, so no error-string sniffing —
                # any read failure on a committed version is a real
                # failure and fails the batch (checkpoint retries,
                # accumulated rollup stays intact).
                merged = batch
            else:
                merged = keyed_upsert(V.read_current(sess, rollup_path),
                                      batch, "sales_date")
            # atomic publish: readers resolve the previous committed
            # snapshot until the new marker exists — no partial-table
            # window, and crash-before-marker leaves the old rollup
            # live (sources/versioned.py)
            V.publish_version(merged, rollup_path)
            V.vacuum(sess, rollup_path, keep=2)
        finally:
            batch.unpersist()

    drain(agg.writeStream.outputMode("update").foreachBatch(fold)
          .option("checkpointLocation", checkpoint),
          "incremental rollup", timeout_s)
    return V.read_current(spark, rollup_path)
