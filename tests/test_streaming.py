"""Structured Streaming correctness: the streamed hourly rollup must
equal the batch query on the same input (availableNow drives the
fixture parquet through the full watermark+window pipeline)."""

from __future__ import annotations

import pytest

from ecommerce_data_engineering_spark.plans import REGISTRY
from ecommerce_data_engineering_spark.streaming import (
    run_stream_to_memory, stream_hourly_rollup)


@pytest.mark.timeout(300)
def test_stream_equals_batch(spark, sf_dir):
    streamed = run_stream_to_memory(
        stream_hourly_rollup(spark, sf_dir), "hourly_stream_test")
    batch = (REGISTRY["events_hourly_rollup"].fn(spark, sf_dir)
             .select("window_start", "event_type", "n_events", "total_value"))
    s = {tuple(map(str, r)) for r in streamed.collect()}
    b = {tuple(map(str, r)) for r in batch.collect()}
    assert s == b


@pytest.mark.timeout(300)
def test_watermark_evicts_old_window_state(spark, sf_dir, tmp_path):
    """Drive TWO availableNow micro-batches (early-half file, then
    late-half file): the 1-hour watermark must drop finalized window
    state during batch 2 — numRowsRemoved > 0 and final state smaller
    than the total window count (VERDICT r01 finding 3: update mode
    actually evicts; complete mode would retain everything)."""
    import shutil
    import time
    from pyspark.sql import functions as F
    from ecommerce_data_engineering_spark.schemas import FIXTURES
    from ecommerce_data_engineering_spark.sources import load

    e = load(spark, sf_dir, "events")
    lo, hi = e.agg(F.min("ts"), F.max("ts")).first()
    mid = lo + (hi - lo) / 2
    feed = tmp_path / "feed"
    feed.mkdir()

    def write_single(df, name):
        stage = tmp_path / f"stage_{name}"
        df.coalesce(1).write.mode("overwrite").parquet(str(stage))
        part = next(stage.glob("part-*.parquet"))
        shutil.copy(part, feed / name)

    write_single(e.filter(F.col("ts") < F.lit(mid)), "f1.parquet")
    time.sleep(1.1)            # file source orders batches by mod time
    write_single(e.filter(F.col("ts") >= F.lit(mid)), "f2.parquet")

    src = (spark.readStream.schema(FIXTURES["events"])
           .option("maxFilesPerTrigger", 1).parquet(str(feed)))
    agg = (src.withWatermark("ts", "1 hour")
           .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
           .agg(F.count(F.lit(1)).alias("n_events")))
    q = (agg.writeStream.outputMode("update").format("memory")
         .queryName("evict_test").trigger(availableNow=True).start())
    q.awaitTermination(180)

    stats = [p["stateOperators"][0] for p in q.recentProgress
             if p.get("stateOperators")]
    assert len([p for p in q.recentProgress if p.get("numInputRows", 0) > 0]) >= 2
    removed = sum(s.get("numRowsRemoved", 0) for s in stats)
    assert removed > 0, stats
    n_windows = (e.groupBy(F.window("ts", "1 hour"), "event_type")
                 .count().count())
    assert stats[-1]["numRowsTotal"] < n_windows


@pytest.mark.timeout(300)
def test_stateful_running_totals(spark, sf_dir):
    """The running totals' final update per key must equal the batch
    aggregate after the whole fixture streams through: the same exact
    decimal sum and portable rounding on both sides, so equal to the
    cent."""
    from pyspark.sql import functions as F
    from ecommerce_data_engineering_spark.functions.rounding import (
        dsum, pround)
    from ecommerce_data_engineering_spark.sources import load
    from ecommerce_data_engineering_spark.streaming.stateful import (
        stream_running_totals)

    out = stream_running_totals(spark, sf_dir)
    q = (out.writeStream.outputMode("update").format("memory")
         .queryName("running_totals_test").trigger(availableNow=True).start())
    q.awaitTermination(120)
    # take the final state per key (last update wins)
    got = {r.event_type: (r.running_events, r.running_value) for r in
           spark.sql("SELECT * FROM running_totals_test").collect()}
    want = {r.event_type: (r.n, r.v) for r in
            load(spark, sf_dir, "events").groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 pround(dsum(F.col("value"), scale=4), 2).alias("v"))
            .collect()}
    assert got == want


@pytest.mark.timeout(300)
def test_running_totals_is_one_native_aggregation(spark, sf_dir, capsys):
    """Running totals are one native update-mode aggregation: every
    micro-batch reports exactly one state operator, the executed plan
    runs no Python worker, and the output schema is (string, bigint,
    double)."""
    from ecommerce_data_engineering_spark.streaming.stateful import (
        stream_running_totals)

    out = stream_running_totals(spark, sf_dir)
    assert [(f.name, f.dataType.simpleString()) for f in out.schema] == [
        ("event_type", "string"), ("running_events", "bigint"),
        ("running_value", "double")]
    q = (out.writeStream.outputMode("update").format("memory")
         .queryName("running_totals_plan").trigger(availableNow=True)
         .start())
    assert q.awaitTermination(120)
    progress = q.recentProgress
    assert progress
    assert all(len(p["stateOperators"]) == 1 for p in progress), [
        len(p["stateOperators"]) for p in progress]
    capsys.readouterr()
    q.explain()                    # the last micro-batch's executed plan
    plan = capsys.readouterr().out
    assert "StateStoreSave" in plan, plan
    for node in ("FlatMapGroupsInPandasWithState", "ArrowEvalPython",
                 "BatchEvalPython", "PythonUDF"):
        assert node not in plan, plan


@pytest.mark.timeout(300)
def test_incremental_daily_sales_equals_batch(spark, sf_dir, tmp_path):
    """The foreachBatch-upsert continuous aggregate must converge to
    the batch daily_sales on the same input (counts + exact-decimal
    revenue; distinct customers is approximate by design)."""
    from pyspark.sql import functions as F
    from ecommerce_data_engineering_spark.sources import load
    from ecommerce_data_engineering_spark.streaming.incremental import (
        daily_sales_incremental)

    rollup = daily_sales_incremental(
        spark, sf_dir, str(tmp_path / "rollup"), str(tmp_path / "ckpt"))
    got = {str(r.sales_date): (r.total_orders, round(r.total_revenue, 2))
           for r in rollup.collect()}
    want = {str(r.sales_date): (r.n, round(r.rev, 2)) for r in
            load(spark, sf_dir, "orders")
            .groupBy(F.col("o_orderdate").cast("date").alias("sales_date"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
                  .cast("double").alias("rev"))
            .collect()}
    assert got == want


@pytest.mark.timeout(300)
def test_stream_stream_join_equals_batch_interval_join(spark, sf_dir):
    """The watermarked stream-stream join must produce exactly the
    pairs the equivalent batch interval join produces."""
    from pyspark.sql import functions as F
    from ecommerce_data_engineering_spark.sources import load
    from ecommerce_data_engineering_spark.streaming.joins import (
        stream_click_purchase_join)

    out = stream_click_purchase_join(spark, sf_dir)
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("ss_join_test").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.purchase_id, r.click_id) for r in
           spark.sql("SELECT * FROM ss_join_test").collect()}

    e = load(spark, sf_dir, "events")
    clicks = (e.filter(F.col("event_type") == "click")
              .select(F.col("user_id").alias("cu"),
                      F.col("event_id").alias("click_id"),
                      F.col("ts").alias("cts")))
    purchases = (e.filter(F.col("event_type") == "purchase")
                 .select(F.col("user_id").alias("pu"),
                         F.col("event_id").alias("purchase_id"),
                         F.col("ts").alias("pts")))
    want = {(r.purchase_id, r.click_id) for r in
            purchases.join(
                clicks,
                (F.col("pu") == F.col("cu"))
                & (F.col("cts") <= F.col("pts"))
                & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 60 MINUTES")),
            ).collect()}
    assert got == want and len(want) > 0


@pytest.mark.timeout(300)
def test_stream_count_join_equals_batch_counts(spark, sf_dir):
    """The pre-aggregated count join (skew compaction, VERDICT r9 #7)
    must equal the batch per-(user, window) count join on every window
    the final watermark finalized: streamed ⊆ batch, and every batch
    window strictly before the watermark must be present (windows
    ending exactly at the watermark may emit either way)."""
    import datetime

    from pyspark.sql import functions as F
    from ecommerce_data_engineering_spark.sources import load
    from ecommerce_data_engineering_spark.streaming.joins import (
        stream_click_purchase_counts)

    out = stream_click_purchase_counts(spark, sf_dir)
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("ss_count_join_test").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(str(r.window_start), r.user_id, r.n_clicks, r.n_purchases,
            r.n_pairs) for r in
           spark.sql("SELECT * FROM ss_count_join_test").collect()}

    e = load(spark, sf_dir, "events")
    batch = (e.filter(F.col("event_type").isin("click", "purchase"))
             .groupBy(F.window("ts", "1 hour").alias("win"), "user_id")
             .agg(F.count(F.when(F.col("event_type") == "click", 1))
                  .alias("nc"),
                  F.count(F.when(F.col("event_type") == "purchase", 1))
                  .alias("np"))
             .filter((F.col("nc") > 0) & (F.col("np") > 0)
                     & F.col("user_id").isNotNull())
             .select(F.col("win.start").alias("ws"),
                     F.col("win.end").alias("we"),
                     "user_id", "nc", "np"))
    rows = batch.collect()
    all_rows = {(str(r.ws), r.user_id, r.nc, r.np, r.nc * r.np)
                for r in rows}
    wm = (e.agg(F.max("ts")).collect()[0][0]
          - datetime.timedelta(hours=2))
    must = {(str(r.ws), r.user_id, r.nc, r.np, r.nc * r.np)
            for r in rows if r.we < wm}
    assert got <= all_rows
    assert must <= got
    assert len(must) > 0  # the fixture must actually finalize windows


@pytest.mark.timeout(300)
def test_count_join_is_one_stateful_operator_over_one_scan(spark, sf_dir):
    """The count join is one windowed aggregation: every micro-batch
    reports exactly one state operator, and the plan reads each event
    once (a self-join would read the source once per side)."""
    from ecommerce_data_engineering_spark.sources import load
    from ecommerce_data_engineering_spark.streaming.joins import (
        stream_click_purchase_counts)

    _, progress = run_stream_to_memory(
        stream_click_purchase_counts(spark, sf_dir), "count_join_plan",
        mode="append", return_progress=True)
    assert progress
    assert all(len(p["stateOperators"]) == 1 for p in progress), [
        len(p["stateOperators"]) for p in progress]
    assert (sum(p["numInputRows"] for p in progress)
            == load(spark, sf_dir, "events").count())


@pytest.mark.timeout(300)
def test_count_join_emits_only_users_with_both_types(spark, tmp_path):
    """Per (user, window) the count join emits a row only when the user
    both clicked and purchased in that window; NULL users never emit.
    File 1 holds the cases, file 2 a click and a purchase hours later
    that move the watermark past them."""
    import datetime
    import os
    import time

    from ecommerce_data_engineering_spark.schemas import FIXTURES
    from ecommerce_data_engineering_spark.streaming.joins import (
        stream_click_purchase_counts)
    from ecommerce_data_engineering_spark.streaming.source import (
        stream_events_dir)

    schema = FIXTURES["events"]
    names = schema.fieldNames()
    h10 = datetime.datetime(2024, 1, 1, 10)

    def ev(i, user, etype, minute):
        row = {n: None for n in names}
        row.update(event_id=i, user_id=user, event_type=etype,
                   ts=h10 + datetime.timedelta(minutes=minute))
        return tuple(row[n] for n in names)

    first = [ev(1, 1, "click", 5), ev(2, 1, "click", 10),   # A: clicks only
             ev(3, 1, "purchase", 65),                      # A: next hour
             ev(4, 2, "click", 1), ev(5, 2, "click", 2), ev(6, 2, "click", 3),
             ev(7, 2, "purchase", 20), ev(8, 2, "purchase", 40),
             ev(9, 2, "view", 30),                          # B: not counted
             ev(10, None, "click", 15), ev(11, None, "purchase", 16)]
    later = [ev(12, 3, "click", 270), ev(13, 4, "purchase", 280)]
    feed = tmp_path / "feed"
    feed.mkdir()
    base = time.time() - 10
    for k, rows in enumerate((first, later)):
        stage = tmp_path / f"stage{k}"
        (spark.createDataFrame(rows, schema).coalesce(1)
         .write.parquet(str(stage)))
        dst = feed / f"part{k}.parquet"
        os.rename(next(stage.glob("part-*.parquet")), dst)
        os.utime(dst, (base + k, base + k))  # file 1 is read first

    src = stream_events_dir(spark, str(feed), max_files_per_trigger=1)
    result, progress = run_stream_to_memory(
        stream_click_purchase_counts(spark, "", src=src), "count_join_cases",
        mode="append", return_progress=True)
    assert len([p for p in progress if p["numInputRows"] > 0]) == 2
    got = [tuple(r) for r in result.collect()]
    assert got == [(h10, 2, 3, 2, 6)], got


@pytest.mark.timeout(300)
def test_skewed_paced_feed_streams_equal_batch(spark, tmp_path, monkeypatch):
    """Key skew on a paced multi-batch feed: one user owns a third of
    the events and a quarter have a NULL user_id.  Fed one file per
    micro-batch, the hourly rollup, the running totals and the
    click/purchase counts each equal their batch twin over the same
    files exactly.  A lone click ten hours after the rest moves the
    count join's watermark past every window that holds both types."""
    import datetime
    import os
    import random
    import time

    from pyspark.sql import functions as F
    from ecommerce_data_engineering_spark.functions.rounding import (
        dsum, pround)
    from ecommerce_data_engineering_spark.schemas import FIXTURES
    from ecommerce_data_engineering_spark.sources import load
    from ecommerce_data_engineering_spark.streaming import events
    from ecommerce_data_engineering_spark.streaming.joins import (
        stream_click_purchase_counts)
    from ecommerce_data_engineering_spark.streaming.source import (
        stream_events_dir)
    from ecommerce_data_engineering_spark.streaming.stateful import (
        stream_running_totals)

    hot, n = 1, 1200
    rng = random.Random(16)
    t0 = datetime.datetime(2024, 1, 1)
    stamps = sorted(t0 + datetime.timedelta(seconds=rng.randrange(6 * 3600))
                    for _ in range(n))
    rows = []
    for i, ts in enumerate(stamps):
        slot = i % 12                  # 3 of 12 NULL, 4 of 12 hot
        user = (None if slot < 3 else hot if slot < 7
                else rng.randint(2, 40))
        etype = rng.choices(["click", "purchase", "view", "signup"],
                            weights=[45, 20, 30, 5])[0]
        rows.append((i, ts, user, etype, rng.randrange(20_000) / 100, None))
    rows.append((n, t0 + datetime.timedelta(hours=10), 2, "click", 1.0, None))

    # the feed directory is also the batch twins' events table
    feed = tmp_path / "events.parquet"
    feed.mkdir()
    base = time.time() - 10
    for k, chunk in enumerate((rows[:400], rows[400:800], rows[800:])):
        stage = tmp_path / f"stage{k}"
        (spark.createDataFrame(chunk, FIXTURES["events"]).coalesce(1)
         .write.parquet(str(stage)))
        dst = feed / f"part{k}.parquet"
        os.rename(next(stage.glob("part-*.parquet")), dst)
        os.utime(dst, (base + k, base + k))   # files stream in time order

    def paced(*_):
        return stream_events_dir(spark, str(feed), max_files_per_trigger=1)

    def drain(df, name, mode):
        result, progress = run_stream_to_memory(
            df, name, mode=mode, return_progress=True)
        assert len([p for p in progress if p["numInputRows"] > 0]) == 3
        return result.collect()

    def final(updates, key, count):
        # update mode emits a key once per batch that touched it; its
        # last value has the largest count
        out = {}
        for r in updates:
            k = tuple(r[c] for c in key)
            if k not in out or r[count] > out[k][count]:
                out[k] = r
        return {k: tuple(r) for k, r in out.items()}

    batch_events = load(spark, str(tmp_path), "events")
    assert batch_events.count() == n + 1

    monkeypatch.setattr(events, "events_stream", paced)
    key = ("window_start", "event_type")
    got = final(drain(stream_hourly_rollup(spark, ""), "skew_hourly",
                      "update"), key, "n_events")
    want = {tuple(r[c] for c in key): tuple(r) for r in
            REGISTRY["events_hourly_rollup"].fn(spark, str(tmp_path))
            .select(*key, "n_events", "total_value").collect()}
    assert got == want

    got = final(drain(stream_running_totals(spark, "", src=paced()),
                      "skew_running", "update"),
                ("event_type",), "running_events")
    want = {(r[0],): tuple(r) for r in
            batch_events.groupBy("event_type")
            .agg(F.count(F.lit(1)),
                 pround(dsum(F.col("value"), scale=4), 2)).collect()}
    assert got == want

    got = {tuple(r) for r in drain(
        stream_click_purchase_counts(spark, "", src=paced()),
        "skew_counts", "append")}
    click = F.col("event_type") == "click"
    purchase = F.col("event_type") == "purchase"
    want = {(r.ws, r.user_id, r.nc, r.np, r.nc * r.np) for r in
            batch_events.filter(F.col("user_id").isNotNull())
            .groupBy(F.date_trunc("hour", "ts").alias("ws"), "user_id")
            .agg(F.count(F.when(click, 1)).alias("nc"),
                 F.count(F.when(purchase, 1)).alias("np"))
            .filter((F.col("nc") > 0) & (F.col("np") > 0)).collect()}
    assert got == want
    # the hot user clicked and purchased in each of the six hours
    assert sum(u == hot for _, u, *_ in got) == 6


@pytest.mark.timeout(300)
def test_streaming_dedup_drops_redelivered(spark, sf_dir, tmp_path):
    """Feed the same events file twice (simulated redelivery): the
    watermarked dropDuplicates stream must emit each event_id once."""
    import shutil
    from pyspark.sql import functions as F
    from ecommerce_data_engineering_spark.sources import load

    src_dir = tmp_path / "feed"
    src_dir.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", src_dir / "events.parquet")
    shutil.copy(f"{sf_dir}/events.parquet", src_dir / "events_redelivered.parquet")
    # the production glob matches only events.parquet; stream the test
    # dir through the same footer-sniffing source so the schema branch
    # (nanos-as-long vs micros) tracks whatever the fixtures regenerate
    # to, instead of hardcoding one era's physical type
    from ecommerce_data_engineering_spark.streaming.source import (
        stream_events_dir)
    src = stream_events_dir(spark, str(src_dir))
    dedup = (src.withWatermark("ts", "1 hour").dropDuplicates(["event_id"]))
    q = (dedup.writeStream.outputMode("append").format("memory")
         .queryName("stream_dedup_test").trigger(availableNow=True).start())
    q.awaitTermination(120)
    n = spark.sql("SELECT count(*) c FROM stream_dedup_test").collect()[0].c
    distinct_ids = spark.sql(
        "SELECT count(DISTINCT event_id) c FROM stream_dedup_test").collect()[0].c
    want = load(spark, sf_dir, "events").count()
    assert n == distinct_ids == want


@pytest.mark.timeout(300)
def test_streaming_corpus_curation_equals_batch(spark, sf_dir, tmp_path):
    """Streaming-equals-batch for the curation funnel's dedup+gate
    stages: feed the documents fixture as two files (split by doc_id,
    one micro-batch each, with the second file re-delivering some of
    the first's content), and the union of epoch outputs must equal
    the batch exact-dedup keeper set filtered by the quality gate."""
    from pyspark.sql import functions as F

    from ecommerce_data_engineering_spark.operators import dedup as D
    from ecommerce_data_engineering_spark.operators.text import gopher_gate
    from ecommerce_data_engineering_spark.sources import load
    from ecommerce_data_engineering_spark.streaming import (
        curated_corpus_incremental)

    import shutil
    import time

    docs = load(spark, sf_dir, "documents")
    cut = docs.agg(F.expr("percentile(doc_id, 0.5)")).collect()[0][0]
    src = tmp_path / "feed"
    src.mkdir()

    def write_single(df, name):
        # the file stream source consumes FILES, not Spark's parquet
        # output directories — stage then copy the lone part file
        stage = tmp_path / f"stage_{name}"
        df.coalesce(1).write.mode("overwrite").parquet(str(stage))
        shutil.copy(next(stage.glob("part-*.parquet")), src / name)

    # part 1: low doc_ids; part 2: the rest PLUS a redelivered slice of
    # part 1 (cross-batch duplicates the registry must reject); the
    # mtime gap fixes the micro-batch order so first-seen == min doc_id
    write_single(docs.filter(F.col("doc_id") <= cut), "p1.parquet")
    time.sleep(1.1)
    write_single(
        docs.filter((F.col("doc_id") > cut) | (F.col("doc_id") <= cut / 4)),
        "p2.parquet")

    out = curated_corpus_incremental(
        spark, str(src), str(tmp_path / "registry"),
        str(tmp_path / "curated"), str(tmp_path / "ckpt"))
    got = {r.doc_id for r in out.select("doc_id").collect()}

    keepers = (D.exact_dedup(docs, "text", "doc_id")
               .select(F.col("keeper_id").alias("doc_id")))
    want = {r.doc_id for r in
            docs.join(keepers, "doc_id", "left_semi")
            .filter(gopher_gate("text")).select("doc_id").collect()}
    assert got == want and len(want) > 0

    # empty feed (producer hasn't landed a file yet): 0 rows, not a
    # PATH_NOT_FOUND crash from the epoch-glob read
    empty_src = tmp_path / "empty_feed"
    empty_src.mkdir()
    none = curated_corpus_incremental(
        spark, str(empty_src), str(tmp_path / "registry0"),
        str(tmp_path / "curated0"), str(tmp_path / "ckpt0"))
    assert none.count() == 0
    # no doc admitted twice across epochs
    assert out.count() == out.select("doc_id").distinct().count()


@pytest.mark.timeout(300)
def test_streaming_corpus_recovers_from_publish_crash(spark, sf_dir,
                                                      tmp_path, monkeypatch):
    """Exactly-once under failure: crash the FIRST registry publish
    (after the epoch directory already landed), restart from the same
    checkpoint, and the recovered stream must converge to the batch
    dedup+gate result with no duplicate admissions — the epoch-dir
    overwrite + commit-marker registry make the retry idempotent."""
    import shutil
    import time

    from pyspark.sql import functions as F

    from ecommerce_data_engineering_spark.operators import dedup as D
    from ecommerce_data_engineering_spark.operators.text import gopher_gate
    from ecommerce_data_engineering_spark.sources import load, versioned
    from ecommerce_data_engineering_spark.streaming import (
        curated_corpus_incremental)

    docs = load(spark, sf_dir, "documents")
    cut = docs.agg(F.expr("percentile(doc_id, 0.5)")).collect()[0][0]
    src = tmp_path / "feed"
    src.mkdir()

    def write_single(df, name):
        stage = tmp_path / f"stage_{name}"
        df.coalesce(1).write.mode("overwrite").parquet(str(stage))
        shutil.copy(next(stage.glob("part-*.parquet")), src / name)

    write_single(docs.filter(F.col("doc_id") <= cut), "p1.parquet")
    time.sleep(1.1)
    write_single(docs.filter(F.col("doc_id") > cut), "p2.parquet")

    real_publish = versioned.publish_version
    crashed = {"n": 0}

    def crashing_publish(df, root, *a, **kw):
        if "registry" in str(root) and crashed["n"] == 0:
            crashed["n"] += 1
            raise RuntimeError("simulated crash after epoch write")
        return real_publish(df, root, *a, **kw)

    monkeypatch.setattr(versioned, "publish_version", crashing_publish)
    with pytest.raises(Exception):
        curated_corpus_incremental(
            spark, str(src), str(tmp_path / "registry"),
            str(tmp_path / "curated"), str(tmp_path / "ckpt"))
    assert crashed["n"] == 1
    monkeypatch.setattr(versioned, "publish_version", real_publish)

    out = curated_corpus_incremental(
        spark, str(src), str(tmp_path / "registry"),
        str(tmp_path / "curated"), str(tmp_path / "ckpt"))
    got = {r.doc_id for r in out.select("doc_id").collect()}
    keepers = (D.exact_dedup(docs, "text", "doc_id")
               .select(F.col("keeper_id").alias("doc_id")))
    want = {r.doc_id for r in
            docs.join(keepers, "doc_id", "left_semi")
            .filter(gopher_gate("text")).select("doc_id").collect()}
    assert got == want and len(want) > 0
    assert out.count() == out.select("doc_id").distinct().count()


@pytest.mark.timeout(300)
def test_streaming_corpus_recovers_from_post_publish_crash(
        spark, sf_dir, tmp_path, monkeypatch):
    """Exactly-once through the WORST crash window: the registry
    publish succeeds but the batch dies before Spark commits it to the
    checkpoint.  The replayed batch then finds its own content keys
    already registered; without the epoch-tagged registry it would
    compute an empty fresh set and OVERWRITE its epoch directory with
    an empty dataset (silent data loss).  With the tag, keys from the
    batch's own failed attempt are excluded from 'seen', the identical
    admitted set is recomputed, and the stream converges to the batch
    dedup+gate result."""
    import shutil
    import time

    from pyspark.sql import functions as F

    from ecommerce_data_engineering_spark.operators import dedup as D
    from ecommerce_data_engineering_spark.operators.text import gopher_gate
    from ecommerce_data_engineering_spark.sources import load, versioned
    from ecommerce_data_engineering_spark.streaming import (
        curated_corpus_incremental)

    docs = load(spark, sf_dir, "documents")
    cut = docs.agg(F.expr("percentile(doc_id, 0.5)")).collect()[0][0]
    src = tmp_path / "feed"
    src.mkdir()

    def write_single(df, name):
        stage = tmp_path / f"stage_{name}"
        df.coalesce(1).write.mode("overwrite").parquet(str(stage))
        shutil.copy(next(stage.glob("part-*.parquet")), src / name)

    write_single(docs.filter(F.col("doc_id") <= cut), "p1.parquet")
    time.sleep(1.1)
    write_single(docs.filter(F.col("doc_id") > cut), "p2.parquet")

    real_vacuum = versioned.vacuum
    crashed = {"n": 0}

    def crashing_vacuum(sess, root, *a, **kw):
        # vacuum runs AFTER publish_version in the fold: raising here
        # fails the batch in the post-publish, pre-checkpoint window
        if "registry" in str(root) and crashed["n"] == 0:
            crashed["n"] += 1
            raise RuntimeError("simulated crash after registry publish")
        return real_vacuum(sess, root, *a, **kw)

    monkeypatch.setattr(versioned, "vacuum", crashing_vacuum)
    with pytest.raises(Exception):
        curated_corpus_incremental(
            spark, str(src), str(tmp_path / "registry"),
            str(tmp_path / "curated"), str(tmp_path / "ckpt"))
    assert crashed["n"] == 1
    monkeypatch.setattr(versioned, "vacuum", real_vacuum)

    out = curated_corpus_incremental(
        spark, str(src), str(tmp_path / "registry"),
        str(tmp_path / "curated"), str(tmp_path / "ckpt"))
    got = {r.doc_id for r in out.select("doc_id").collect()}
    keepers = (D.exact_dedup(docs, "text", "doc_id")
               .select(F.col("keeper_id").alias("doc_id")))
    want = {r.doc_id for r in
            docs.join(keepers, "doc_id", "left_semi")
            .filter(gopher_gate("text")).select("doc_id").collect()}
    assert got == want and len(want) > 0
    assert out.count() == out.select("doc_id").distinct().count()


@pytest.mark.timeout(480)
def test_soak_watermark_state_plateaus_over_50_batches(spark, sf_dir,
                                                      tmp_path):
    """Sustained-load soak (VERDICT r5 #7): drive ~50 time-ordered
    micro-batches through the watermarked hourly rollup and MEASURE —
    not just configure — that the state store reaches a plateau: the
    1-hour watermark keeps evicting finalized windows, so live state
    stays a small fraction of the cumulative window count and shows no
    growth trend across the run.  This is the property that lets the
    rollup run forever at firehose scale; the two-batch eviction test
    above can't distinguish a plateau from merely slower-than-input
    growth."""
    import os
    import shutil
    from pyspark.sql import functions as F
    from ecommerce_data_engineering_spark.schemas import FIXTURES
    from ecommerce_data_engineering_spark.sources import load

    n_files = 50
    e = load(spark, sf_dir, "events")
    lo, hi = e.agg(F.min("ts"), F.max("ts")).first()
    span = (hi - lo) / n_files
    feed = tmp_path / "soak_feed"
    feed.mkdir()
    stage = tmp_path / "soak_stage"
    # one pass: a time-slice id partitions the fixture into n_files
    # contiguous slices; mod-times (not sleeps) fix the feed order
    slice_id = F.least(
        F.floor((F.col("ts").cast("double") - F.lit(lo).cast("double"))
                / F.lit(span.total_seconds())).cast("int"),
        F.lit(n_files - 1))
    (e.withColumn("slice", slice_id).repartition(1)
     .write.partitionBy("slice").mode("overwrite").parquet(str(stage)))
    n_written = 0
    for k in range(n_files):
        parts = sorted((stage / f"slice={k}").glob("part-*.parquet")) \
            if (stage / f"slice={k}").exists() else []
        for p in parts:
            dst = feed / f"f{k:03d}.parquet"
            shutil.copy(p, dst)
            os.utime(dst, (1_700_000_000 + k, 1_700_000_000 + k))
            n_written += 1
    assert n_written >= 45          # nearly every slice non-empty

    src = (spark.readStream.schema(FIXTURES["events"])
           .option("maxFilesPerTrigger", 1).parquet(str(feed)))
    agg = (src.withWatermark("ts", "1 hour")
           .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
           .agg(F.count(F.lit(1)).alias("n_events")))
    q = (agg.writeStream.outputMode("update").format("memory")
         .queryName("soak_test").trigger(availableNow=True).start())
    assert q.awaitTermination(420), "soak stream did not finish"

    prog = [p for p in q.recentProgress if p.get("stateOperators")]
    sizes = [p["stateOperators"][0]["numRowsTotal"] for p in prog]
    removed = sum(p["stateOperators"][0].get("numRowsRemoved", 0)
                  for p in prog)
    n_batches = len([p for p in q.recentProgress
                     if p.get("numInputRows", 0) > 0])
    total_groups = (e.groupBy(F.window("ts", "1 hour"), "event_type")
                    .count().count())

    assert n_batches >= 45, n_batches
    assert removed > 0.5 * total_groups, (removed, total_groups)
    # plateau, not slow growth: peak live state stays a small fraction
    # of the cumulative window count, and the last third of the run
    # never exceeds the global peak of the first two thirds (state
    # would trend UP if eviction lagged input)
    assert max(sizes) < 0.25 * total_groups, (max(sizes), total_groups)
    third = len(sizes) // 3
    assert max(sizes[-third:]) <= max(sizes[:2 * third]), sizes
    assert sizes[-1] < 0.1 * total_groups, sizes[-1]


@pytest.mark.timeout(480)
def test_soak_versioned_registry_garbage_stays_bounded(spark, sf_dir,
                                                       tmp_path):
    """Registry-side soak (VERDICT r5 #7): ~25 micro-batches of the
    streaming curation funnel each publish a new registry version; the
    per-batch vacuum(keep=2) must keep on-disk garbage BOUNDED — the
    version count after 25 publishes equals what it is after 3, instead
    of 25 directories of dead registry snapshots."""
    import shutil
    import time
    from pyspark.sql import functions as F
    from ecommerce_data_engineering_spark.sources import load
    from ecommerce_data_engineering_spark.sources import versioned as V
    from ecommerce_data_engineering_spark.streaming import (
        curated_corpus_incremental)

    n_files = 25
    docs = load(spark, sf_dir, "documents").limit(200).cache()
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    step = max(1, len(ids) // n_files)
    feed = tmp_path / "reg_feed"
    feed.mkdir()
    import os as _os
    for k in range(n_files):
        chunk = ids[k * step:(k + 1) * step]
        if not chunk:
            break
        stage = tmp_path / f"reg_stage_{k}"
        (docs.filter(F.col("doc_id").isin(chunk)).coalesce(1)
         .write.mode("overwrite").parquet(str(stage)))
        dst = feed / f"d{k:03d}.parquet"
        shutil.copy(next(stage.glob("part-*.parquet")), dst)
        _os.utime(dst, (1_700_000_000 + k, 1_700_000_000 + k))
    docs.unpersist()

    reg = tmp_path / "reg_registry"
    t0 = time.time()
    out = curated_corpus_incremental(
        spark, str(feed), str(reg), str(tmp_path / "reg_out"),
        str(tmp_path / "reg_ckpt"), timeout_s=420)
    assert out.count() > 0
    # versioned-publish garbage bounded: keep=2 plus the live marker —
    # never the ~25 versions the run published
    on_disk = sorted(int(p.name.split("=", 1)[1])
                     for p in reg.glob("v=*"))
    assert len(on_disk) <= 3, on_disk
    history = V.version_history(spark, str(reg))
    assert len(history) <= 3, history
    assert max(history) >= n_files - 1   # it really did publish ~25 times
    # the surviving registry is the complete one: every distinct
    # content key ever admitted is present in the live version
    n_keys = V.read_current(spark, str(reg)).count()
    want = (load(spark, sf_dir, "documents").limit(200)
            .select(F.md5(F.lower(F.trim(F.col("text"))))).distinct().count())
    assert n_keys == want, (n_keys, want)
    assert time.time() - t0 < 420


@pytest.mark.timeout(300)
def test_run_stream_to_memory_return_progress(spark, sf_dir):
    """The return_progress flag must hand back the memory table plus
    the query's recentProgress list: perfbench's event_ingest drain
    reads its per-batch metrics from it.  (The streaming soak script
    that first used the hook is last present at commit a27ea52.)"""
    from ecommerce_data_engineering_spark.streaming.events import (
        run_stream_to_memory, stream_hourly_rollup)

    result, progress = run_stream_to_memory(
        stream_hourly_rollup(spark, sf_dir), "progress_probe",
        return_progress=True)
    assert result.count() > 0
    assert isinstance(progress, list) and progress
    assert any(p.get("numInputRows", 0) > 0 for p in progress)
    assert any(p.get("stateOperators") for p in progress)


@pytest.mark.timeout(300)
def test_drain_timeout_stops_the_query_and_names_it(spark, sf_dir):
    """A drain that outlives its timeout stops its query (none is left
    running to write the sink) and raises a TimeoutError naming it."""
    from ecommerce_data_engineering_spark.streaming.events import (
        stream_hourly_rollup)
    from ecommerce_data_engineering_spark.streaming.source import drain

    writer = (stream_hourly_rollup(spark, sf_dir).writeStream
              .outputMode("update").format("memory")
              .queryName("drain_timeout_probe"))
    with pytest.raises(TimeoutError, match="the probe did not finish"):
        drain(writer, "the probe", 0.001)
    assert not [q for q in spark.streams.active
                if q.name == "drain_timeout_probe"]
