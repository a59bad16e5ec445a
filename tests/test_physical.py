"""Physical-plan guarantees: bucketed co-located joins, broadcast
selection, pushdown, and the foreachBatch streaming sink."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    """bucketBy co-locates both sides on the join key: the sort-merge
    join runs with ZERO Exchange operators (SURVEY.md §4 — the bucketing
    path replacing the reference's B-tree join indexes)."""
    from ecommerce_data_engineering_spark.sources import load

    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    (orders.write.mode("overwrite").bucketBy(8, "o_orderkey")
     .sortBy("o_orderkey").saveAsTable("b_orders"))
    (lineitem.write.mode("overwrite").bucketBy(8, "l_orderkey")
     .sortBy("l_orderkey").saveAsTable("b_lineitem"))
    prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the sort-merge path (at fixture size Spark would rather
        # broadcast, which ignores bucketing entirely — also correct)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        bo, bl = spark.table("b_orders"), spark.table("b_lineitem")
        joined = bl.join(bo, bl.l_orderkey == bo.o_orderkey)
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        assert joined.count() == lineitem.join(
            orders, lineitem.l_orderkey == orders.o_orderkey).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_broadcast_and_pushdown_in_headline_plan(spark, sf_dir):
    from ecommerce_data_engineering_spark.plans import REGISTRY

    plan = _plan(REGISTRY["revenue_by_nation"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    plan2 = _plan(REGISTRY["pricing_summary"].fn(spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan2


def test_foreachbatch_sink_writes_parquet(spark, sf_dir):
    """foreachBatch: the exactly-once custom-sink pattern — each
    micro-batch lands as parquet via the batch writer."""
    from ecommerce_data_engineering_spark.streaming import stream_hourly_rollup

    with tempfile.TemporaryDirectory() as d:
        out = os.path.join(d, "rollup")

        def write_batch(batch_df, epoch_id):
            batch_df.write.mode("overwrite").parquet(out)

        q = (stream_hourly_rollup(spark, sf_dir)
             .writeStream.outputMode("complete")
             .foreachBatch(write_batch)
             .trigger(availableNow=True)
             .option("checkpointLocation", os.path.join(d, "ckpt"))
             .start())
        q.awaitTermination(120)
        back = spark.read.parquet(out)
        assert back.count() > 0
        assert set(back.columns) == {"window_start", "event_type",
                                     "n_events", "total_value"}


def test_runtime_bloom_filter_join_pruning(spark, sf_dir):
    """Runtime Bloom-filter injection (Spark 3.3+): a selective build
    side plants a bloom_filter_agg semi-filter on the probe side's
    scan — rows that can't join die before the shuffle.  At real scale
    the 10 GB application-side threshold triggers this automatically;
    the test lowers it to demonstrate the plan at fixture size."""
    from ecommerce_data_engineering_spark.sources import load
    from pyspark.sql import functions as F

    prior_bloom = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    prior_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = load(spark, sf_dir, "lineitem")
        urgent = load(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT")
        j = li.join(urgent, li.l_orderkey == urgent.o_orderkey)
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter" in plan.lower()
        # result unchanged by the runtime filter
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            prior_bloom)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior_bc)
        assert j.count() == li.join(
            urgent, li.l_orderkey == urgent.o_orderkey).count()
    finally:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            prior_bloom)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior_bc)


def test_rollup_join_broadcasts_via_aqe_without_hint(spark, sf_dir):
    """Rollups at the grain of their probe side (part-grain in
    product_metrics / top_products, customer-grain in customer_metrics)
    carry NO broadcast hint — a hint would force an oversized broadcast
    at 100x key cardinality, overriding AQE's size guard (VERDICT r01
    finding 4, r02 finding 3); AQE must still pick a broadcast join at
    fixture scale from the runtime size."""
    from ecommerce_data_engineering_spark.plans import REGISTRY

    for name in ("product_metrics", "top_products", "customer_metrics"):
        df = REGISTRY[name].fn(spark, sf_dir)
        logical = df._jdf.queryExecution().analyzed().toString()
        assert "ResolvedHint" not in logical, f"{name} still hints broadcast"
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan, name
        assert "BroadcastHashJoin" in plan, f"{name}: AQE did not broadcast"


def test_curation_sample_is_pushed_filter_with_pruned_scan(spark, sf_dir):
    """Deterministic sampling must stay a bare filter on the scan: no
    Exchange, and the text column pruned out of ReadSchema — the shape
    that composes with partition pruning at 100 TB."""
    from ecommerce_data_engineering_spark.plans import REGISTRY

    df = REGISTRY["corpus_deterministic_sample"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "text" not in plan.split("ReadSchema")[-1].split("\n")[0]


def test_sequence_packing_single_exchange(spark, sf_dir):
    """Packing's plan budget is exactly one shuffle: the shard-key
    Exchange feeding the window, with the final aggregate reusing that
    partitioning (grouping keys are a superset of the shard key)."""
    from ecommerce_data_engineering_spark.plans import REGISTRY

    df = REGISTRY["corpus_sequence_packing"].fn(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]   # AQE echoes both plans
    n_exchanges = (final.count("Exchange hashpartitioning")
                   + final.count("Exchange rangepartitioning")
                   + final.count("Exchange SinglePartition"))
    assert n_exchanges == 1, final[:1500]


def test_curation_funnel_gate_is_cache_free_single_tokenization(spark, sf_dir):
    """The funnel's quality gate is one lambda-bound expression, so the
    plan must contain NO cached frame (r2's persist() barrier pinned a
    cache in the session for its lifetime — ADVICE r02) and must
    tokenize each document once: at most one `split(` per plan side
    (alias substitution used to inline it ~24x, the 26-s-at-sf0.1
    blowup).  Also proves the query pins no persistent RDDs of its own
    (other suites may legitimately leave caches — e.g. minhash's
    shingles — so compare before/after rather than against empty)."""
    from ecommerce_data_engineering_spark.plans import REGISTRY

    n_before = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    df = REGISTRY["corpus_curation_funnel"].fn(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" not in plan
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("split(") <= 2, final[:2000]
    assert (spark.sparkContext._jsc.sc().getPersistentRDDs().size()
            == n_before)


def test_minhash_repeat_invocations_reuse_one_cache_entry(spark, sf_dir):
    """dedup_minhash_lsh persists its shingle frame (three consumers);
    CacheManager must dedup the identical plan across invocations so a
    long-lived session holds ONE entry per (session, sf_dir), not one
    per call — the accumulation failure mode ADVICE r02 flagged on the
    funnel's (since removed) persist.

    Compares the persisted RDD ids added after the baseline, not the
    map's size: SparkContext holds persisted RDDs through weak
    references, so a garbage collection between two reads can drop an
    unrelated, unreferenced RDD, while the ones CacheManager holds stay
    strongly reachable."""
    from ecommerce_data_engineering_spark.plans import REGISTRY

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    spark.catalog.clearCache()
    try:
        base = max(persisted(), default=-1)
        REGISTRY["dedup_minhash_lsh"].fn(spark, sf_dir).collect()
        new1 = {i for i in persisted() if i > base}
        REGISTRY["dedup_minhash_lsh"].fn(spark, sf_dir).collect()
        REGISTRY["dedup_minhash_lsh"].fn(spark, sf_dir).collect()
        new3 = {i for i in persisted() if i > base}
        assert new1 and new1 == new3, (new1, new3)
    finally:
        spark.catalog.clearCache()


def test_aqe_splits_skewed_join_partitions(spark):
    """The session enables spark.sql.adaptive.skewJoin; prove it fires:
    a join where one key holds ~100x the rows of any other must show
    skew-split sort-merge partitions in the final AQE plan (the
    automatic path that complements operators/skew.py's manual
    null-key/salting treatments).  Thresholds are lowered to make the
    fixture-sized hot key count as skewed; at real scale the 256 MB
    default plays the same role."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "8KB",
    }
    prior = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(200_000).select(
            F.when(F.col("id") % 2 == 0, F.lit(7)).otherwise(F.col("id"))
             .alias("k"),
            F.col("id").alias("payload"))
        right = spark.range(2_000).select(F.col("id").alias("k"),
                                          (F.col("id") * 3).alias("r"))
        j = left.join(right, "k")
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in prior.items():
            spark.conf.set(k, v)


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    """Dynamic partition pruning: joining the month-partitioned fact
    (sources/writers.write_partitioned) to a dim filtered at runtime
    must plant a dynamicpruning subquery on the fact scan, so only the
    joined months are read — the mechanism that makes the monthly
    layout pay off at 100 TB even when the month list comes from data
    instead of a literal."""
    from pyspark.sql import functions as F

    from ecommerce_data_engineering_spark.sources import write_partitioned

    fact = spark.range(20_000).select(
        F.col("id").alias("order_id"),
        (F.lit(20240100) + (F.col("id") % 12 + 1) * 100 + F.col("id") % 28 + 1)
        .cast("int").alias("order_date_key"),
        (F.col("id") * 1.5).alias("amount"))
    out = str(tmp_path / "fact_dpp")
    write_partitioned(fact, out)

    dim = spark.range(12).select(
        (F.lit(202401) + F.col("id")).cast("int").alias("order_month"),
        (F.col("id") % 4).alias("quarter"))
    prior = spark.conf.get("spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly")
    try:
        spark.conf.set(
            "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly",
            "false")
        back = spark.read.parquet(out)
        j = back.join(dim.filter(F.col("quarter") == 0), "order_month")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower(), plan[:2000]
        assert j.count() == 3 * back.filter(
            F.col("order_month").isin(202401, 202405, 202409)).count() / 3
    finally:
        spark.conf.set(
            "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly",
            prior)


def test_chunk_dedup_shuffles_positions_not_text(spark, sf_dir):
    """Corpus-wide span dedup must never move document text through a
    shuffle: the single shuffle Exchange is the dropped-position
    regroup (doc_id → collect_set(pos)); chunk text exists only in the
    scan-side projections and the final in-place reassembly."""
    from ecommerce_data_engineering_spark.plans import REGISTRY

    df = REGISTRY["corpus_chunk_dedup"].fn(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    # exactly two narrow shuffles: verdicts groupBy(chunk md5) and the
    # dropped-position regroup by doc id
    parts = final.split("Exchange hashpartitioning")
    assert len(parts) == 3, final[:1500]
    for seg in parts[1:]:
        shuffle_child = seg.split("\n")[1]
        assert "text" not in shuffle_child and "_chunks" not in shuffle_child, \
            shuffle_child


def test_revenue_rollup_expands_aggregate_not_fact(spark, sf_dir):
    """ROLLUP must pre-aggregate at the (year, quarter) grain before
    Expand: a direct rollup over orders puts Expand on the fact side
    and emits every order row 3x ahead of the partial aggregate — 3x
    the scan-side CPU at 100 TB (the r5 rewrite this pins).  Exactly
    one Expand, and a HashAggregate must sit between it and the scan."""
    from ecommerce_data_engineering_spark.plans import REGISTRY

    df = REGISTRY["revenue_rollup"].fn(spark, sf_dir)
    df.collect()
    final = _plan(df).split("== Initial Plan ==")[0]
    assert final.count("Expand") == 1, final[:1200]
    between_expand_and_scan = final.split("Expand", 1)[1].split("Scan")[0]
    assert "HashAggregate" in between_expand_and_scan, final[:1200]


def test_money_bench_aggregates_stay_primitive_long(spark, sf_dir):
    """The scaled-long money path (functions/rounding.lsum) must keep
    decimal arithmetic out of the hot bench aggregates: a regression
    back to DECIMAL shows up as CheckOverflow / Decimal nodes and
    costs ~3x (the round-3 conversion took pricing_summary 0.93 →
    0.39 s at sf0.1)."""
    from ecommerce_data_engineering_spark.plans import REGISTRY

    for q in ("pricing_summary", "product_metrics", "daily_sales",
              "top_products", "revenue_by_nation", "customer_metrics"):
        plan = _plan(REGISTRY[q].fn(spark, sf_dir))
        assert "CheckOverflow" not in plan and "Decimal" not in plan, (
            q, [l for l in plan.splitlines() if "Decimal" in l][:3])


def _tree_exchange_counts(df) -> tuple[int, int]:
    """Count (shuffle, broadcast) Exchange NODES by walking the
    pre-execution physical plan tree — not the plan TEXT.  The text
    repeats a persisted subtree once per InMemoryTableScan consumer
    (dedup_minhash_lsh's persist barrier printed 78 textual hash
    exchanges for 11 real ones), so node-counting is the honest
    structural measure (VERDICT r5 #6).  Each DISTINCT cached
    relation's build plan is counted exactly once — the cost its one
    materialization actually pays at runtime."""
    counts = {"ShuffleExchangeExec": 0, "BroadcastExchangeExec": 0}
    cached: dict[int, object] = {}

    def walk(node):
        cls = node.getClass().getSimpleName()
        if cls in counts:
            counts[cls] += 1
        if cls == "AdaptiveSparkPlanExec":
            # AQE roots are leaf nodes; descend into the initial plan
            # (post-EnsureRequirements, pre-runtime-replanning)
            walk(node.initialPlan())
            return
        if cls.startswith("InMemoryTableScan"):
            build = node.relation().cacheBuilder().cachedPlan()
            cached[build.id()] = build
            return
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    done: set[int] = set()
    while set(cached) - done:   # cached builds may nest further caches
        for pid in list(set(cached) - done):
            done.add(pid)
            walk(cached[pid])
    return counts["ShuffleExchangeExec"], counts["BroadcastExchangeExec"]


# Structural shuffle budget per bench query: (shuffle exchanges,
# broadcast exchanges) counted as NODES of the pre-execution adaptive
# plan tree (cached subtrees once — see _tree_exchange_counts).  A
# future edit that adds an Exchange — a lost broadcast, an extra
# groupBy, a misplaced repartition — fails here with the plan, not
# three rounds later as a bench regression.  Since r6 the budget
# covers ALL bench queries; dedup_minhash_lsh's former text-count
# exclusion is gone.
SHUFFLE_BUDGET = {
    "campaign_attribution_scalable": (2, 1),
    "cdc_incremental_metrics": (4, 0),
    "corpus_chunk_dedup": (2, 2),
    "corpus_curation_funnel": (2, 1),
    # decontaminate: the old text budget said (4,1) — its cached
    # shingle frame has two consumers and the TEXT repeated the build's
    # exchange; the tree count was the honest (3,1) until r11 replaced
    # word_shingles' corpus-wide .distinct() with a per-row
    # array_distinct (the shuffle of raw shingle strings is gone)
    "corpus_decontaminate": (2, 1),
    "corpus_gopher_rules": (0, 0),
    "corpus_sequence_packing": (1, 0),
    # r12: countDistinct over the orders PK became a plain conditional
    # count (equal by key uniqueness, oracle-hash-proven) — the
    # distinct plan's second (custkey, orderkey)-grain exchange is gone
    "customer_metrics": (1, 1),
    "daily_sales": (2, 0),
    # 11 -> 10 in r11: word_shingles dedups inside the row
    # (array_distinct), so the cached shingle frame's build plan lost
    # its corpus-wide distinct Exchange
    "dedup_minhash_lsh": (10, 5),
    "embedding_ann_lsh": (1, 1),
    # embedding_cosine_topk left the bench set in r7 (VERDICT r6 #2:
    # deliberately-quadratic exact yardstick dominated the scaled
    # bench); its (1, 1) structural pin moves to EXTRA_BUDGET below.
    # IVF-family shape, r11 zero-shuffle assignment: the four
    # assignment windows of the r9–r10 plan (one per Lloyd's
    # iteration, plus corpus + queries) each cost an Exchange of
    # |input|·k rows carrying two d-float vectors; since r11 each
    # assignment folds the k centroids into ONE broadcast array row
    # and ranks cells with a per-row array_sort — no Exchange at all
    # (operators/similarity.ivf_assign).  What remains: two mean-side
    # aggregations per Lloyd's iteration (2·2) plus the final
    # per-query rank window = 5 shuffles; broadcasts rise 4 -> 7
    # because every assignment broadcasts its own (k·d)-scalar
    # centroid-array row
    # ... r12: the per-iteration mean runs as EMB_DIM per-position avg
    # columns in ONE groupBy(cluster_id) (operators/similarity.
    # _lloyd_step dim=) — no posexplode row multiplication and one
    # Exchange per Lloyd's iteration instead of two: 5 -> 3 shuffles
    "embedding_ann_production": (3, 7),
    "events_hourly_rollup": (2, 0),
    "events_sessionization": (1, 0),
    "fact_lineitem_build": (0, 4),
    "pricing_summary": (1, 0),
    # r12: countDistinct(l_orderkey) -> size(collect_set) removed the
    # distinct-plan's second exchange (the (pk,ok)-grain shuffle where
    # partial agg compressed nothing); one partkey-grain exchange left
    "product_metrics": (1, 1),
    "revenue_by_nation": (2, 4),
    "revenue_rollup": (2, 0),
    "snapshot_cdc_diff": (2, 0),
    # size(collect_set) in place of countDistinct(l_orderkey), as in
    # product_metrics: one partkey-grain lineitem exchange
    "top_products": (1, 1),
    "top_revenue_orders": (1, 2),
}

# Structural pins for queries OUTSIDE the bench set that still deserve
# an exchange-count regression guard (currently: the demoted exact
# cosine yardstick — not a headline number anymore, but its plan shape
# should not silently grow a shuffle either).
EXTRA_BUDGET = {
    "embedding_cosine_topk": (1, 1),
}


def test_bench_queries_hold_their_shuffle_budget(spark, sf_dir):
    from ecommerce_data_engineering_spark.plans import REGISTRY

    over = {}
    for name, (n_shuffle, n_bcast) in {**SHUFFLE_BUDGET,
                                       **EXTRA_BUDGET}.items():
        df = REGISTRY[name].fn(spark, sf_dir)
        got = _tree_exchange_counts(df)
        if got != (n_shuffle, n_bcast):
            over[name] = {"expected": (n_shuffle, n_bcast), "got": got}
        # range / single-partition exchanges stay banned everywhere
        # (text check: a cached-subtree repeat can only over-report,
        # and the bound is zero)
        plan = _plan(df)
        assert "Exchange rangepartitioning" not in plan, name
        assert "Exchange SinglePartition" not in plan, name
    assert not over, over


def test_budget_covers_every_bench_query(spark):
    from ecommerce_data_engineering_spark.plans import REGISTRY

    benched = {n for n, s in REGISTRY.items() if s.bench}
    assert benched == set(SHUFFLE_BUDGET), (
        benched.symmetric_difference(set(SHUFFLE_BUDGET)))
