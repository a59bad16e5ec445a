"""Shared streaming scan of the events fixture, and the one drain of a
stream to completion (:func:`drain`).

One place owns the fixture-generation quirk: the driver testdata has
shipped ``events.ts`` both as parquet TIMESTAMP(NANOS) (read as long,
converted) and as timestamp[us] (read directly).  We sniff the batch
footer schema once per (session, path) and declare the matching stream
schema — FileStreamSource itself requires an explicit schema, so the
sniff is the only footer read and costs one driver-side metadata call.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from ..schemas import FIXTURES

# (app id, dir, glob, newest mtime) -> sniffed ts dtype; the footer
# read costs a listing + footer fetch on the driver, and four stream
# builders all route through here — memoize so it really is once per
# (session, path) as the module docstring promises.  Keyed by the
# session's applicationId, NOT id(spark): id() values are recycled
# after garbage collection, so a new session at the same address would
# silently inherit a stale sniff (ADVICE r3).  The newest-file mtime in
# the key makes regenerated fixtures (same path, new physical ts type)
# re-sniff within one long-lived session.
_TS_DTYPE_CACHE: dict[tuple[str, str, str, float], str | None] = {}


def _newest_mtime(dir_path: str, glob: str) -> float:
    import glob as globlib
    import os
    paths = globlib.glob(os.path.join(dir_path, glob)) or [dir_path]
    try:
        return max(os.path.getmtime(p) for p in paths)
    except OSError:          # non-local / vanished paths: sniff once
        return 0.0


def stream_events_dir(spark: SparkSession, dir_path: str,
                      glob: str = "*.parquet",
                      max_files_per_trigger: int | None = None) -> DataFrame:
    """Streaming DataFrame over events-shaped parquet under
    ``dir_path`` (matching ``glob``) with ``ts`` normalized to
    TIMESTAMP whatever the files stored — the footer sniff and both
    schema branches live here so every consumer (and test) follows the
    fixture's actual physical type instead of hardcoding one."""
    key = (spark.sparkContext.applicationId, dir_path, glob,
           _newest_mtime(dir_path, glob))
    if key not in _TS_DTYPE_CACHE:
        _TS_DTYPE_CACHE[key] = dict(
            spark.read.option("pathGlobFilter", glob)
            .parquet(dir_path).dtypes).get("ts")
    batch_ts = _TS_DTYPE_CACHE[key]

    def _reader(schema):
        r = spark.readStream.schema(schema).option("pathGlobFilter", glob)
        if max_files_per_trigger is not None:
            # micro-batch pacing for soak/throughput runs: each trigger
            # consumes N files instead of the whole backlog at once
            r = r.option("maxFilesPerTrigger", max_files_per_trigger)
        return r

    if batch_ts == "bigint":  # TIMESTAMP(NANOS) via legacy nanosAsLong
        schema = T.StructType([
            f if f.name != "ts" else T.StructField("ts", T.LongType())
            for f in FIXTURES["events"].fields])
        return (_reader(schema).parquet(dir_path)
                .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000"))))
    schema = T.StructType([
        f if f.name != "ts" else T.StructField("ts", T.TimestampType())
        for f in FIXTURES["events"].fields])
    return _reader(schema).parquet(dir_path)


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming DataFrame over ``{sf_dir}/events.parquet`` with ``ts``
    normalized to TIMESTAMP (UTC session), whatever the fixture stored.

    FileStreamSource wants a directory; the fixture is a single file,
    so stream the directory with a glob filter on the events table.
    """
    return stream_events_dir(spark, sf_dir.rstrip("/"), "events.parquet")


def drain(writer: DataStreamWriter, name: str, timeout_s: int) -> StreamingQuery:
    """Run ``writer`` over the input available now (Trigger.AvailableNow)
    to completion.  On timeout, stop the query (never read a sink it
    is still writing, never leak it) and raise, naming ``name``."""
    q = writer.trigger(availableNow=True).start()
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(f"{name} did not finish within {timeout_s}s")
    return q
