"""Running per-key totals as a native update-mode aggregation.

Each micro-batch folds its rows into one state row per ``event_type``
(event count plus value sum) and emits the keys it touched.  Spark
partially aggregates every input partition before the shuffle, so a
batch moves one partial per key and partition, not its rows, and no
Python worker runs.  State is one row per key forever: it is bounded by
the key cardinality, not the input volume, so no watermark is needed.

``running_value`` uses the same exact-decimal sum and portable
rounding as the hourly rollup (``functions.rounding.dsum``/``pround``):
it is exact to the cent and does not depend on how the input splits
into micro-batches or in what order their partials combine.  The
former plan folded a double running sum through
``applyInPandasWithState`` and emitted its Python ``round``, which
could differ from the batch total in the last cent.

The state schema differs from that former plan's, so a running-totals
checkpoint it wrote cannot be resumed: start from a fresh checkpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.rounding import dsum, pround
from .source import events_stream


def stream_running_totals(spark: SparkSession, sf_dir: str,
                          src: DataFrame | None = None) -> DataFrame:
    """Streaming running (event-count, value-sum) per event_type, for
    ``update`` output mode: columns ``event_type`` string,
    ``running_events`` bigint, ``running_value`` double.

    ``src`` overrides the fixture-directory source with any
    events-shaped streaming DataFrame: a paced file feed
    (``source.stream_events_dir`` with ``max_files_per_trigger``), or a
    Kafka source in production."""
    if src is None:
        src = events_stream(spark, sf_dir)
    return (src.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("running_events"),
                 pround(dsum(F.col("value"), scale=4), 2)
                 .alias("running_value")))
