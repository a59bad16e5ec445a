"""Measure what bucketing actually buys on the big fact-fact join →
BUCKET_BENCH.json (VERDICT r6 #7).

`tests/test_physical.py::test_bucketed_join_has_no_shuffle` proves the
SHAPE (bucketed sort-merge join runs with zero Exchange operators);
this records the WALL-CLOCK delta at a scaled fixture so the 100 TB
layout claim carries a measured number: the orders⋈lineitem join —
the reference warehouse's hottest shape (fact_lineitem_build,
top_revenue_orders) — timed over identical saveAsTable copies that
differ ONLY in bucketing, with broadcast disabled so both runs take
the sort-merge path a 100 TB fact-fact join must take.

    python scripts/bucketed_join_bench.py /tmp/sf_64x

The one-time bucketed-write cost is recorded alongside the per-read
saving — bucketing pays off after (write_delta / read_delta) reads,
which the record computes, because an honest layout decision needs
both numbers.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_SAMPLES = 5
N_BUCKETS = 32


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    src_dir = args[0] if args else "/tmp/sf_64x"
    warehouse = "/tmp/bucket_bench_warehouse"
    if os.path.exists(warehouse):
        shutil.rmtree(warehouse)

    from pyspark.sql import SparkSession, functions as F

    from ecommerce_data_engineering_spark.session import (
        driver_memory, local_cores)

    spark = (SparkSession.builder.master(f"local[{local_cores()}]")
             .config("spark.sql.shuffle.partitions", "32")
             .config("spark.sql.warehouse.dir", warehouse)
             .config("spark.driver.memory", driver_memory())
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    # AQE off for this bench (ADVICE r7): the assert below counts
    # exchanges in the executed plan, and an AQE-finalized plan STRING
    # re-prints each materialized stage's subtree (every logical
    # exchange appears twice), so the count stops meaning "shuffles in
    # the plan".  With AQE off the captured executedPlan is exactly
    # what runs, and nothing here needs AQE: the join strategy is
    # pinned (broadcast disabled) and the fixture is unskewed, so the
    # timing comparison measures the same physical shapes either way.
    spark.conf.set("spark.sql.adaptive.enabled", "false")

    from ecommerce_data_engineering_spark.sources import load

    orders = load(spark, src_dir, "orders")
    lineitem = load(spark, src_dir, "lineitem")

    def timed(fn) -> float:
        t0 = time.perf_counter()
        fn()
        return time.perf_counter() - t0

    # identical storage either way (saveAsTable parquet), ONLY the
    # bucketing differs — comparing bucketed tables against the raw
    # fixture files would conflate layout with bucketing
    for name in ("p_orders", "p_lineitem", "b_orders", "b_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    plain_write = timed(lambda: (
        orders.write.mode("overwrite").saveAsTable("p_orders"),
        lineitem.write.mode("overwrite").saveAsTable("p_lineitem")))
    bucketed_write = timed(lambda: (
        orders.write.mode("overwrite")
        .bucketBy(N_BUCKETS, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable("b_orders"),
        lineitem.write.mode("overwrite")
        .bucketBy(N_BUCKETS, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable("b_lineitem")))

    def join_df(o, l):
        # the fact_lineitem_build shape reduced to its join+agg core:
        # revenue per order priority over the full joined volume
        j = l.join(o, l.l_orderkey == o.o_orderkey)
        return (j.groupBy("o_orderpriority")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum(F.col("l_extendedprice")
                           .cast("double")).alias("rev")))

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    def measure(o_name: str, l_name: str) -> tuple[float, list[float], str]:
        o, l = spark.table(o_name), spark.table(l_name)
        df = join_df(o, l)
        # execute df's OWN queryExecution (the result is a ~5-row
        # aggregate) so the captured plan is the executed one (ADVICE
        # r7; AQE is disabled above, so executedPlan == what ran and
        # each exchange prints exactly once).  Also the warm run.
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "AdaptiveSparkPlan" not in plan, (
            "AQE unexpectedly on — exchange counts would double-print:"
            "\n" + plan[:500])
        samples = [timed(lambda: join_df(spark.table(o_name),
                                         spark.table(l_name))
                         .write.format("noop").mode("overwrite").save())
                   for _ in range(N_SAMPLES)]
        return statistics.median(samples), samples, plan

    plain_sec, plain_samples, plain_plan = measure("p_orders", "p_lineitem")
    bucket_sec, bucket_samples, bucket_plan = measure("b_orders", "b_lineitem")

    # both plans carry ONE exchange for the o_orderpriority aggregation;
    # bucketing must remove BOTH join-side exchanges and nothing else
    n_exchanges_plain = plain_plan.count("Exchange hashpartitioning")
    n_exchanges_bucket = bucket_plan.count("Exchange hashpartitioning")
    assert n_exchanges_plain == n_exchanges_bucket + 2, (
        f"expected bucketing to remove exactly the two join-side "
        f"exchanges, got {n_exchanges_plain} vs {n_exchanges_bucket}")

    read_delta = plain_sec - bucket_sec
    write_delta = bucketed_write - plain_write
    rec = {
        "fixture": src_dir,
        "n_buckets": N_BUCKETS,
        "orders_rows": orders.count(),
        "lineitem_rows": lineitem.count(),
        "join_sec_unbucketed": round(plain_sec, 3),
        "join_sec_bucketed": round(bucket_sec, 3),
        "samples_unbucketed": [round(s, 3) for s in plain_samples],
        "samples_bucketed": [round(s, 3) for s in bucket_samples],
        "shuffle_exchanges_removed": n_exchanges_plain - n_exchanges_bucket,
        "read_saving_sec": round(read_delta, 3),
        "write_sec_plain": round(plain_write, 3),
        "write_sec_bucketed": round(bucketed_write, 3),
        "write_premium_sec": round(write_delta, 3),
        # reads until the bucketed layout has paid for itself; 0 when
        # the bucketed write was no slower, None when reads saw no
        # saving (record is then evidence AGAINST bucketing this pair)
        "breakeven_reads": (0.0 if write_delta <= 0 else
                            round(write_delta / read_delta, 1)
                            if read_delta > 0 else None),
    }
    print(json.dumps(rec, indent=1))
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    evid = os.path.join(here, "evidence")
    os.makedirs(evid, exist_ok=True)
    with open(os.path.join(evid, "BUCKET_BENCH.json"), "w") as f:
        json.dump(rec, f, indent=1)
    print("wrote BUCKET_BENCH.json")
    for name in ("p_orders", "p_lineitem", "b_orders", "b_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.stop()
    shutil.rmtree(warehouse, ignore_errors=True)


if __name__ == "__main__":
    main()
