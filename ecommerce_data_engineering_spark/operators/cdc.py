"""Snapshot change-data-capture: keyed diff between two table versions.

The reference refreshes warehouse tables wholesale (staging_dag.py's
full-table loads); consumers that want "what changed since yesterday"
have to re-read everything.  At 100 TB that is the difference between
shipping a 100 TB snapshot downstream and shipping the few GB that
actually changed — so the engine exposes CDC between any two snapshots
(e.g. two :mod:`..sources.versioned` versions) as a first-class
operator.

Scale shape: ONE full-outer shuffle join on the key — both sides hash-
partition by the same key, so the classification (insert / delete /
update / unchanged) happens co-partitioned with zero extra exchanges,
and "unchanged" rows (the overwhelming majority of a typical refresh)
are dropped before anything is returned.  Payload comparison collapses
the non-key columns into ONE struct per side so the join carries two
columns instead of 2·N, and the null-safe struct comparison happens
JVM-side in a single expression.

Struct equality in Spark compares field-wise with null-safe ordering
semantics (two NULL fields compare equal), which is exactly the CDC
semantics wanted: a column going NULL -> NULL is "unchanged", NULL ->
value is an update.  The DuckDB oracle mirrors this with per-column
``IS DISTINCT FROM`` (DuckDB's struct ``=`` returns NULL on NULL
fields, so the oracle spells the null-safe comparison out).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

CHANGE_COL = "change"


def snapshot_diff(before: DataFrame, after: DataFrame, keys: list[str],
                  compare_cols: list[str] | None = None) -> DataFrame:
    """Keyed CDC between two snapshots of the same table.

    Returns one row per changed key: the key columns, ``change`` in
    ``('insert', 'delete', 'update')``, and ``before`` / ``after``
    structs of the compared columns (``before`` is NULL for inserts,
    ``after`` NULL for deletes).  Unchanged keys are filtered out
    before the result leaves the join stage.
    """
    if compare_cols is None:
        compare_cols = [c for c in after.columns if c not in keys]
    missing = [c for c in compare_cols if c not in before.columns]
    if missing:
        raise ValueError(f"compare_cols absent from `before`: {missing}")

    b = before.select(*keys, F.struct(*compare_cols).alias("before"))
    a = after.select(*keys, F.struct(*compare_cols).alias("after"))
    j = b.join(a, keys, "full_outer")
    change = (
        F.when(F.col("before").isNull(), F.lit("insert"))
         .when(F.col("after").isNull(), F.lit("delete"))
         # struct comparison is field-wise null-safe: NULL == NULL
         .when(F.col("before") != F.col("after"), F.lit("update"))
    )
    return (j.withColumn(CHANGE_COL, change)
             .filter(F.col(CHANGE_COL).isNotNull())
             .select(*keys, CHANGE_COL, "before", "after"))


def apply_diff(before: DataFrame, diff: DataFrame,
               keys: list[str]) -> DataFrame:
    """Replay a :func:`snapshot_diff` result onto ``before``,
    reconstructing ``after`` exactly — the downstream half of CDC: a
    consumer holding yesterday's snapshot plus today's (small) diff
    never re-reads the full table.

    Deletes and updates remove the old row (one left-anti join on the
    key); inserts and updates add the ``after`` payload back.  Both
    sides hash-partition by the key, so at 100 TB the cost is one
    co-partitioned anti join against a diff that is typically orders
    of magnitude smaller than the snapshot — broadcastable by AQE when
    it fits.  The roundtrip invariant
    ``apply_diff(b, snapshot_diff(b, a, k), k) == a`` is pinned by a
    randomized test.
    """
    removed = diff.filter(F.col(CHANGE_COL) != "insert").select(*keys)
    survivors = before.join(removed, keys, "left_anti")
    additions = (diff.filter(F.col(CHANGE_COL) != "delete")
                 .select(*keys, "after.*"))
    return survivors.unionByName(additions)


def changes_since(spark, root: str, keys: list[str],
                  last_seen: int | None,
                  compare_cols: list[str] | None = None):
    """Incremental-consumption API over a versioned table
    (:mod:`..sources.versioned`): return ``(diff, version)`` where
    ``diff`` is everything that changed between the consumer's
    ``last_seen`` committed version and the current one, and
    ``version`` is the new cursor to persist.

    First call (``last_seen=None``) returns the full current snapshot
    as inserts — the standard bootstrap contract, so
    ``apply_diff(empty, diff)`` materializes the table and every later
    call is O(changes).  If nothing was published since ``last_seen``,
    returns ``(None, last_seen)`` — poll loops skip the join entirely.
    """
    from pyspark.sql import functions as F  # noqa: F811 (local clarity)

    from ..sources import versioned as V

    cur = V.current_version(spark, root)
    if cur is None:
        raise FileNotFoundError(f"{root}: no committed version")
    if last_seen is not None and cur < last_seen:
        # version numbering went BACKWARD relative to the cursor: the
        # table was deleted and rebuilt (numbering restarts at 1).
        # Treating it as "up to date" would silently starve the
        # consumer forever — fail loudly, same as the vacuumed-cursor
        # case, so the caller re-bootstraps with last_seen=None.
        raise FileNotFoundError(
            f"{root}: cursor {last_seen} is ahead of current version "
            f"{cur} — the table was rebuilt; re-bootstrap the consumer")
    if last_seen is not None and cur == last_seen:
        return None, last_seen
    now = V.read_version(spark, root, cur)
    if last_seen is None:
        cols = ([c for c in now.columns if c not in keys]
                if compare_cols is None else compare_cols)
        boot = now.select(*keys, F.lit("insert").alias(CHANGE_COL),
                          F.lit(None).cast(
                              now.select(F.struct(*cols)).schema[0].dataType
                          ).alias("before"),
                          F.struct(*cols).alias("after"))
        return boot, cur
    prev = V.read_version(spark, root, last_seen)
    return snapshot_diff(prev, now, keys, compare_cols), cur


def incremental_agg_refresh(prev: DataFrame, diff: DataFrame,
                            group_keys: list[str], sum_cols: list[str],
                            count_col: str = "n") -> DataFrame:
    """Maintain a grouped sum/count aggregate from a CDC diff in
    O(|aggregate| + |changes|) — never re-reading the fact table.

    ``prev`` is the existing aggregate state: ``group_keys`` +
    ``sum_cols`` (additive measures, already in their exact
    representation — integer cents for money) + ``count_col`` (row
    count per group).  ``diff`` is a :func:`snapshot_diff` result whose
    ``before``/``after`` structs contain both the group keys and the
    measures.

    Delta algebra: a delete/update contributes (−measures, −1) under
    its BEFORE group key, an insert/update contributes (+measures, +1)
    under its AFTER key — so an update that *moves* a row between
    groups (e.g. a customer switching segment) debits one group and
    credits the other.  The refreshed state is one groupBy over
    ``prev ∪ deltas``; groups whose count reaches zero are dropped.

    Scale shape: the shuffle is over |groups| + 2·|changes| rows —
    independent of fact-table size, which is the whole point: at 100 TB
    the nightly metric refresh costs minutes over the diff instead of a
    full recompute.  Both delta legs are emitted from ONE pass over the
    diff (explode of per-row contribution structs) — the r3 form
    filtered the diff twice, which re-executed the whole upstream
    full-outer join per leg unless the caller had persisted it.
    Exactness: callers keep additive measures in scaled-long space
    (``rounding.to_scaled_long``) so the +/− delta arithmetic is exact
    and order-independent; negation of an exact long is exact, unlike
    floating-point accumulate-then-cancel.

    NULL measures contribute 0 to their sum (coalesced in the delta
    legs) but the row still counts in ``count_col`` (count = rows, not
    non-null values).  NULL-measure contract (ADVICE r3): the
    maintained sum is ``sum(coalesce(m, 0))`` — on a group whose
    surviving rows carry only NULL measures it reads 0, where a
    from-scratch plain ``SUM(m)`` recompute would read NULL.  Callers
    wanting refresh ≡ recompute must either keep ``sum_cols`` non-null
    (the scaled-long money convention already does) or spell the
    recompute as ``sum(coalesce(m, 0))``.
    """
    def leg(side: str, sign: int):
        return F.struct(
            *[F.col(f"{side}.{k}").alias(k) for k in group_keys],
            *[(F.lit(sign) * F.coalesce(F.col(f"{side}.{m}"), F.lit(0)))
              .alias(m) for m in sum_cols],
            F.lit(sign).cast("bigint").alias(count_col))

    deltas = (diff.select(F.explode(F.array_compact(F.array(
                  F.when(F.col(CHANGE_COL) != "insert", leg("before", -1)),
                  F.when(F.col(CHANGE_COL) != "delete", leg("after", 1)),
              ))).alias("_d"))
              .select("_d.*"))
    return (prev.unionByName(deltas)
            .groupBy(*group_keys)
            .agg(*[F.sum(m).alias(m) for m in sum_cols],
                 F.sum(count_col).alias(count_col))
            .filter(F.col(count_col) > 0))
