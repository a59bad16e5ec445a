"""Streaming checkpoints written by ``get_spark`` sessions commit by
rename through the FileSystem-based checkpoint manager, and a stream
resumes from them.

Every micro-batch commits offset and commit log entries plus one
state-store delta per stateful partition, each as a temp file renamed
into place.  ``get_spark`` selects Spark's FileSystem-based manager,
whose local rename is one ``rename(2)`` (see the comment in
``session.py``).  The resume test drains the watermarked hourly rollup
over one file, adds a second file and drains again from the same
checkpoint: the batch ids must continue and the final windows must
equal the batch rollup of both files."""

from __future__ import annotations

import shutil
import time

import pytest
from pyspark.sql import functions as F

from ecommerce_data_engineering_spark.plans import REGISTRY
from ecommerce_data_engineering_spark.sources import load
from ecommerce_data_engineering_spark.streaming import (
    events as stream_events, stream_hourly_rollup)
from ecommerce_data_engineering_spark.streaming.source import (
    stream_events_dir)


def test_session_selects_filesystem_checkpoint_manager(spark, tmp_path):
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(str(tmp_path))
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    manager = (jvm.org.apache.spark.sql.execution.streaming.checkpointing
               .CheckpointFileManager.create(path, conf))
    assert manager.getClass().getSimpleName() == (
        "FileSystemBasedCheckpointFileManager")


def _drain(spark, feed, checkpoint, name, windows) -> list[int]:
    """One availableNow drain of the hourly rollup over ``feed``; each
    update overwrites its window's row in ``windows``.  Returns the
    drained batch ids."""
    batch_ids = []

    def keep(df, batch_id):
        batch_ids.append(batch_id)
        for r in df.collect():
            windows[(r.window_start, r.event_type)] = r

    q = (stream_hourly_rollup(spark, str(feed)).writeStream
         .outputMode("update").foreachBatch(keep)
         .option("checkpointLocation", str(checkpoint))
         .queryName(name).trigger(availableNow=True).start())
    if not q.awaitTermination(180):
        q.stop()
        raise TimeoutError(f"streaming query {name!r} did not finish")
    return batch_ids


@pytest.mark.timeout(300)
def test_stream_resumes_from_rename_committed_checkpoint(
        spark, sf_dir, tmp_path, monkeypatch):
    # the rollup streams every parquet file of the feed directory, not
    # only the fixture's events.parquet
    monkeypatch.setattr(stream_events, "events_stream",
                        lambda s, d: stream_events_dir(s, d, "*.parquet"))
    e = load(spark, sf_dir, "events")
    lo, hi = e.agg(F.min("ts"), F.max("ts")).first()
    mid = lo + (hi - lo) / 2
    feed = tmp_path / "feed"
    feed.mkdir()

    def write_single(df, name):
        stage = tmp_path / f"stage_{name}"
        df.coalesce(1).write.mode("overwrite").parquet(str(stage))
        part = next(stage.glob("part-*.parquet"))
        shutil.copy(part, feed / f"{name}.parquet")

    checkpoint = tmp_path / "checkpoint"
    windows: dict = {}
    write_single(e.filter(F.col("ts") < F.lit(mid)), "events_early")
    first = _drain(spark, feed, checkpoint, "resume_first", windows)
    time.sleep(1.1)            # file source orders files by mod time
    write_single(e.filter(F.col("ts") >= F.lit(mid)), "events_late")
    second = _drain(spark, feed, checkpoint, "resume_second", windows)

    assert first and second
    assert second[0] == first[-1] + 1, (first, second)

    # the two files split the fixture's events, so the batch rollup of
    # both is the fixture's.  The late half is after the early half's
    # watermark, so the stream dropped no row.
    assert spark.read.parquet(str(feed)).count() == e.count()
    batch = (REGISTRY["events_hourly_rollup"].fn(spark, sf_dir)
             .select("window_start", "event_type", "n_events",
                     "total_value"))
    streamed = {tuple(map(str, r)) for r in windows.values()}
    assert streamed == {tuple(map(str, r)) for r in batch.collect()}
