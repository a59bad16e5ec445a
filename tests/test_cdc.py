"""Snapshot CDC: keyed diff semantics + time-travel integration.

The classification query itself (snapshot_cdc_diff) is hash-verified
against DuckDB in test_oracle_diff; these tests pin the operator's
edge semantics (null-safe payload comparison) and its composition
with the versioned-table time-travel reads.
"""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from ecommerce_data_engineering_spark.operators.cdc import snapshot_diff
from ecommerce_data_engineering_spark.sources import versioned as V

SCHEMA = "k bigint, seg string, bal double"


def _rows(diff):
    return {(r.k, r.change) for r in diff.collect()}


def test_snapshot_diff_classification(spark):
    before = spark.createDataFrame(
        [(1, "A", 1.0),        # unchanged
         (2, "A", 1.0),        # segment update
         (3, "A", 1.0),        # deleted
         (4, None, 1.0),       # NULL -> NULL: unchanged
         (5, None, 1.0),       # NULL -> value: update
         (6, "A", None)],      # value stays, NULL bal -> value: update
        SCHEMA)
    after = spark.createDataFrame(
        [(1, "A", 1.0),
         (2, "B", 1.0),
         (4, None, 1.0),
         (5, "A", 1.0),
         (6, "A", 2.0),
         (7, "A", 0.0)],       # inserted
        SCHEMA)
    diff = snapshot_diff(before, after, ["k"])
    assert _rows(diff) == {(2, "update"), (3, "delete"), (5, "update"),
                           (6, "update"), (7, "insert")}
    counts = {r.change: r.n for r in
              diff.groupBy("change").agg(F.count("*").alias("n")).collect()}
    assert counts == {"update": 3, "delete": 1, "insert": 1}
    # before/after structs carry the payloads (NULL on the absent side)
    by_k = {r.k: r for r in diff.collect()}
    assert by_k[7].before is None and by_k[7].after.seg == "A"
    assert by_k[3].after is None and by_k[3].before.seg == "A"


def test_snapshot_diff_compare_cols_subset(spark):
    """Columns outside compare_cols don't trigger updates."""
    before = spark.createDataFrame([(1, "A", 1.0)], SCHEMA)
    after = spark.createDataFrame([(1, "A", 99.0)], SCHEMA)
    assert snapshot_diff(before, after, ["k"], ["seg"]).count() == 0
    assert snapshot_diff(before, after, ["k"], ["bal"]).count() == 1


def test_snapshot_diff_missing_compare_col_raises(spark):
    before = spark.createDataFrame([(1, "A", 1.0)], SCHEMA)
    after = before.withColumn("extra", F.lit(1))
    with pytest.raises(ValueError, match="extra"):
        snapshot_diff(before, after, ["k"], ["extra"])


def test_cdc_between_time_travel_versions(spark):
    """End-to-end: publish two versions, diff them by version number —
    the 'what changed between v1 and v2' path a downstream consumer
    runs instead of re-reading the whole snapshot."""
    with tempfile.TemporaryDirectory() as d:
        root = os.path.join(d, "tbl")
        v1 = V.publish_version(
            spark.createDataFrame([(1, "A", 1.0), (2, "A", 1.0)], SCHEMA),
            root)
        v2 = V.publish_version(
            spark.createDataFrame([(1, "A", 1.0), (2, "B", 1.0),
                                   (3, "C", 0.0)], SCHEMA), root)
        assert V.version_history(spark, root) == [v1, v2]
        diff = snapshot_diff(V.read_version(spark, root, v1),
                             V.read_version(spark, root, v2), ["k"])
        assert _rows(diff) == {(2, "update"), (3, "insert")}
        # time travel refuses uncommitted / unknown versions
        with pytest.raises(FileNotFoundError):
            V.read_version(spark, root, 99)


def test_snapshot_diff_plan_single_join_no_extra_exchange(spark):
    """Scale shape: the classification is ONE full-outer join — two
    key-partitioned exchanges feeding it and nothing after (the
    unchanged-row filter and struct projection stay in the join
    stage)."""
    before = spark.range(100).selectExpr("id AS k", "'A' AS seg",
                                         "CAST(id AS DOUBLE) AS bal")
    after = spark.range(100).selectExpr("id AS k", "'B' AS seg",
                                        "CAST(id AS DOUBLE) AS bal")
    plan = snapshot_diff(before, after, ["k"])._jdf.queryExecution() \
        .executedPlan().toString()
    assert "FullOuter" in plan
    assert plan.count("Exchange") <= 2


def test_apply_diff_roundtrip_randomized(spark):
    """CDC roundtrip invariant: before + snapshot_diff(before, after)
    reconstructs after exactly, across randomized keyed mutations with
    NULLs in both payload columns (seeded — deterministic run)."""
    import random

    from ecommerce_data_engineering_spark.operators.cdc import apply_diff

    rng = random.Random(20260814)

    def payload():
        seg = rng.choice(["A", "B", "C", None])
        bal = rng.choice([None, round(rng.uniform(-100, 100), 2)])
        return seg, bal

    before_rows = [(k, *payload()) for k in range(200)]
    after_rows = []
    for k, seg, bal in before_rows:
        r = rng.random()
        if r < 0.15:
            continue                      # delete
        if r < 0.45:
            after_rows.append((k, *payload()))   # rewrite (maybe equal)
        else:
            after_rows.append((k, seg, bal))     # unchanged
    after_rows += [(k, *payload()) for k in range(1000, 1040)]  # inserts

    before = spark.createDataFrame(before_rows, SCHEMA)
    after = spark.createDataFrame(after_rows, SCHEMA)
    diff = snapshot_diff(before, after, ["k"])
    rebuilt = apply_diff(before, diff, ["k"])

    def canon(df):
        return sorted(map(tuple, df.collect()))

    assert canon(rebuilt) == canon(after)
    # and the diff is genuinely smaller than the snapshot (the point)
    assert diff.count() < after.count()


def test_changes_since_incremental_consumption(spark):
    """The CDC pull API: bootstrap = full snapshot as inserts, steady
    state = keyed diff between the cursor and the live version, no-op
    poll = (None, cursor); a vacuumed cursor fails loudly (consumer
    must re-bootstrap)."""
    from ecommerce_data_engineering_spark.operators.cdc import (
        apply_diff, changes_since)

    with tempfile.TemporaryDirectory() as d:
        root = os.path.join(d, "tbl")
        v1 = V.publish_version(
            spark.createDataFrame([(1, "A", 1.0), (2, "A", 1.0)], SCHEMA),
            root)
        boot, cur = changes_since(spark, root, ["k"], None)
        assert cur == v1
        assert {r.change for r in boot.collect()} == {"insert"}
        empty = spark.createDataFrame([], SCHEMA)
        assert sorted(map(tuple, apply_diff(empty, boot, ["k"]).collect())) \
            == [(1, "A", 1.0), (2, "A", 1.0)]

        # no-op poll: nothing published since the cursor
        assert changes_since(spark, root, ["k"], cur) == (None, cur)

        v2 = V.publish_version(
            spark.createDataFrame([(1, "B", 1.0), (3, "C", 2.0)], SCHEMA),
            root)
        diff, cur2 = changes_since(spark, root, ["k"], cur)
        assert cur2 == v2
        assert _rows(diff) == {(1, "update"), (2, "delete"), (3, "insert")}

        # cursor older than the vacuum horizon -> loud failure
        V.publish_version(spark.createDataFrame([(9, "Z", 0.0)], SCHEMA), root)
        V.vacuum(spark, root, keep=1)
        with pytest.raises(FileNotFoundError):
            changes_since(spark, root, ["k"], v2)

        # cursor AHEAD of the live version (table deleted and rebuilt,
        # numbering restarted) -> loud failure too, not an eternal
        # "up to date" no-op that silently starves the consumer
        root2 = os.path.join(d, "tbl2")
        V.publish_version(
            spark.createDataFrame([(1, "A", 1.0)], SCHEMA), root2)
        with pytest.raises(FileNotFoundError, match="ahead"):
            changes_since(spark, root2, ["k"], 99)


def test_incremental_agg_refresh_equals_recompute_on_random_mutations(spark):
    """Property: for ANY mutation mix (deletes, value updates,
    group-moving updates, inserts incl. brand-new groups, rows going
    to zero-count groups), maintaining the aggregate from the diff
    lands on exactly the state a from-scratch recompute of v2 gives."""
    import random

    from pyspark.sql import functions as F
    from ecommerce_data_engineering_spark.operators.cdc import (
        incremental_agg_refresh, snapshot_diff)

    rng = random.Random(11)
    groups = ["a", "b", "c", "d", "lonely"]
    v1_rows = [(k, groups[k % 4], rng.randint(-500, 500))
               for k in range(400)] + [(9999, "lonely", 7)]
    v2_rows = []
    for k, g, x in v1_rows:
        r = rng.random()
        if r < 0.15:
            continue                               # delete
        if r < 0.30:
            v2_rows.append((k, rng.choice(groups[:4]), x))   # group move
        elif r < 0.45:
            v2_rows.append((k, g, x + rng.randint(-50, 50)))  # value change
        else:
            v2_rows.append((k, g, x))              # unchanged
    v2_rows += [(10_000 + i, rng.choice(groups[:4] + ["born"]),
                 rng.randint(-500, 500)) for i in range(40)]  # inserts
    # force the 'lonely' group empty if its one row survived unchanged
    v2_rows = [r for r in v2_rows if r[1] != "lonely"]

    v1 = spark.createDataFrame(v1_rows, "k long, g string, x long")
    v2 = spark.createDataFrame(v2_rows, "k long, g string, x long")

    def agg(df):
        return (df.groupBy("g").agg(F.sum("x").alias("x"),
                                    F.count(F.lit(1)).alias("n")))

    diff = snapshot_diff(v1, v2, ["k"], ["g", "x"])
    got = sorted(map(tuple, incremental_agg_refresh(
        agg(v1), diff, ["g"], ["x"]).collect()))
    want = sorted(map(tuple, agg(v2).collect()))
    assert got == want
    assert not any(g == "lonely" for g, *_ in got)   # zero-count dropped
    assert any(g == "born" for g, *_ in got)         # diff-born group


def test_incremental_agg_refresh_null_measure_contract(spark):
    """ADVICE r3 edge: deletes cancel every non-null value in a group
    whose surviving rows are all-NULL.  The maintained sum is defined
    as sum(coalesce(m, 0)) — it reads 0 there, matching a
    coalesce-spelled recompute (a plain SUM recompute would read NULL;
    that divergence is the documented contract, not a drift)."""
    from pyspark.sql import functions as F
    from ecommerce_data_engineering_spark.operators.cdc import (
        incremental_agg_refresh, snapshot_diff)

    v1 = spark.createDataFrame(
        [(1, "g", 5), (2, "g", -5), (3, "g", None), (4, "g", None)],
        "k long, g string, x long")
    v2 = spark.createDataFrame(                      # delete keys 1, 2
        [(3, "g", None), (4, "g", None)], "k long, g string, x long")

    def agg(df):
        return (df.groupBy("g")
                .agg(F.sum(F.coalesce("x", F.lit(0))).alias("x"),
                     F.count(F.lit(1)).alias("n")))

    diff = snapshot_diff(v1, v2, ["k"], ["g", "x"])
    got = incremental_agg_refresh(agg(v1), diff, ["g"], ["x"]).collect()
    assert len(got) == 1
    assert (got[0].g, got[0].x, got[0].n) == ("g", 0, 2)
    want = agg(v2).collect()[0]
    assert (got[0].x, got[0].n) == (want.x, want.n)
