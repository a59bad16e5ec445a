"""Named-query registry — the driver contract's backbone.

Every operator claimed done in SURVEY.md §2 registers here as a named
query ``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible) the
equivalent DuckDB oracle SQL.  ``__spark_entry__.py`` simply re-exports
this registry.

Conventions that keep the driver's hash-compare green:
- every computed column is aliased identically in Spark and SQL;
- float aggregates are rounded to 2 decimals on BOTH sides (double
  summation order differs between engines at ~1e-12 relative — round
  makes the hash stable);
- DuckDB type quirks are normalized in the oracle SQL (SUM(BIGINT) →
  HUGEINT needs CAST AS BIGINT; year()/EXTRACT return BIGINT needs
  CAST AS INT to match Spark's IntegerType);
- queries needing "today" use the pinned AS_OF_DATE (§7.4.1).

Reuse.  ``spec.fn`` memoizes per SparkSession: a call returns what an
earlier call with the same ``(query name, sf_dir)`` built, as long as
- the session's SQL conf equals the conf at the end of that build, and
- every leaf of the DataFrame's plan, after Spark substitutes cached
  data, is a file relation that ``sources.readers.load`` returned,
  each still at the snapshot identity ``(path, mtime_ns)`` it had at
  build time.
Any other call builds fresh and replaces the entry, so the memo holds
at most one entry per (query, dir).  An entry holds the DataFrame, and
through it the executed plan, its shuffle files and its broadcasts.
Once an action has run that DataFrame's adaptive plan to its final
stage, and the analyzed plan is deterministic, a repeat returns the
entry's stored result instead: ``df.localCheckpoint(eager=False)``,
made once from the kept DataFrame and returned until the entry is
replaced.  Its first action stores the rows as local-checkpoint blocks
(one job over the final stage, whose shuffle and broadcast inputs
still exist); every later action reads those blocks, with no shuffle
read and no aggregation.  Before that, or for a plan that is not
adaptive or not deterministic, a repeat returns the kept DataFrame,
whose action re-runs only its final stage.  Either way building a
query launches no Spark job.  The rows are those of the kept plan:
same file scans, same joins.

The stored blocks belong to the memo, not to the cache manager:
``spark.catalog.clearCache()`` does not free them; replacing the entry
and :func:`clear_query_memo` unpersist them synchronously.  Spark does
not recompute a local-checkpoint block whose executor is lost;
``session.get_spark`` builds only ``local[N]`` masters, where the
executor is the driver.

Queries with a leaf that is not such a file relation — a checkpointed
RDD, a ``Range``, a sink the query writes itself, data persisted with
``persist()`` — or with a subquery expression are rebuilt on every
call, which keeps their construction side effects.  Persisted data
stays out of the memo because ``clearCache`` cannot free it once a kept
plan re-executes it: the plan's scan would persist its buffers again
where the cache manager no longer lists them.  :func:`clear_query_memo`
drops a session's entries, e.g. to time cold compute, or to free their
shuffle files, broadcasts and stored results before moving to another
input directory.
"""

from __future__ import annotations

import functools
import threading
from dataclasses import dataclass
from typing import Any, Callable, Optional

from pyspark.sql import DataFrame, SparkSession

from ..sources.readers import Snapshot, loaded_snapshot, snapshot_id

QueryFn = Callable[[SparkSession, str], DataFrame]

REGISTRY: dict[str, "QuerySpec"] = {}


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: Optional[str]          # DuckDB SQL, or None → rows-only check
    doc: str = ""
    covers: tuple[str, ...] = ()   # SURVEY.md §2 row ids, e.g. ("A1", "J3")
    bench: bool = False            # headline set: scale sweeps + shuffle budgets


# Per-SESSION query memo, on the SparkSession OBJECT for the same
# reason as sources/readers._relation_cache: sessions sharing one
# application have different SQLConfs, and a DataFrame is bound to the
# session that built it.
_MEMO_ATTR = "_egraft_query_memo"

# Guards memo writes and the making and release of stored results, so a
# released entry never gains blocks and each entry stores its rows once.
_LOCK = threading.Lock()


@dataclass
class _Built:
    df: DataFrame
    conf: Any                          # JVM Map: the SQL conf after the build
    snapshots: tuple[Snapshot, ...]
    storable: bool                     # cleared once storing cannot apply
    stored: Optional[DataFrame] = None


def _query_memo(spark: SparkSession) -> dict:
    # setdefault: concurrent first calls agree on one dict
    return vars(spark).setdefault(_MEMO_ATTR, {})


def _release(built: Optional[_Built]) -> None:
    """Unpersist ``built``'s stored blocks, waiting until they are gone,
    and keep it from storing again.  Call with ``_LOCK`` held."""
    if built is None:
        return
    built.storable = False
    if built.stored is not None:
        built.stored._jdf.queryExecution().logical().rdd().unpersist(True)
        built.stored = None


def clear_query_memo(spark: SparkSession) -> None:
    """Forget every query this session built and free their stored
    results; the next calls build fresh plans and recompute every
    stage."""
    memo = _query_memo(spark)
    with _LOCK:
        while memo:
            _release(memo.popitem()[1])


def _leaf_snapshots(spark: SparkSession,
                    df: DataFrame) -> Optional[tuple[Snapshot, ...]]:
    """The snapshot identities of the file relations under ``df``, or
    ``None`` when ``df`` is not reusable: a subquery expression, or a
    leaf that is not a relation ``load`` returned (an ``InMemoryRelation``
    for persisted data among them)."""
    # the plan the action will execute: Spark fixes its cache
    # substitution once, so this check and the execution agree
    plan = df._jdf.queryExecution().withCachedData()
    pattern = (spark._jvm.org.apache.spark.sql.catalyst.trees
               .TreePattern.PLAN_EXPRESSION())
    if plan.containsPattern(pattern):
        return None
    leaves = plan.collectLeaves()
    snapshots = set()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.nodeName() != "LogicalRelation":
            return None
        snapshot = loaded_snapshot(spark, leaf.relation())
        if snapshot is None:
            return None
        snapshots.add(snapshot)
    return tuple(snapshots)


def _hit(built: _Built) -> DataFrame:
    """What a repeat call returns: the stored result once the kept
    plan has run to its final adaptive stage, else the kept plan."""
    if built.stored is None and built.storable:
        plan = built.df._jdf.queryExecution().executedPlan()
        if plan.nodeName() != "AdaptiveSparkPlan":
            built.storable = False
        elif plan.isFinalPlan():
            with _LOCK:
                if built.storable and built.stored is None:
                    # no job: the final plan's stages are materialized
                    built.stored = built.df.localCheckpoint(eager=False)
    stored = built.stored
    return built.df if stored is None else stored


def _memoized(name: str, fn: QueryFn) -> QueryFn:
    # Two threads that miss together both build; the first write wins
    # and the other's DataFrame is returned unkept — a wasted build,
    # never a stale or wrong DataFrame.  An entry is replaced, and its
    # stored blocks freed, only by a call that found it out of date.
    @functools.wraps(fn)
    def call(spark: SparkSession, sf_dir: str) -> DataFrame:
        memo = _query_memo(spark)
        key = (name, sf_dir)
        conf = spark._jsparkSession.conf()
        built = memo.get(key)
        if (built is not None and built.conf.equals(conf.getAll())
                and all(snapshot_id(s[0]) == s for s in built.snapshots)):
            return _hit(built)
        df = fn(spark, sf_dir)
        snapshots = _leaf_snapshots(spark, df)
        entry = None if snapshots is None else _Built(
            df, conf.getAll(), snapshots,
            df._jdf.queryExecution().analyzed().deterministic())
        with _LOCK:
            if memo.get(key) is built:
                if entry is None:
                    memo.pop(key, None)
                else:
                    memo[key] = entry
                _release(built)
        return df
    return call


def query(name: str, oracle: Optional[str] = None, covers: tuple[str, ...] = (),
          bench: bool = False):
    """Decorator: register a named query with its oracle SQL.  The
    registry holds the memoized call; the module keeps ``fn`` itself."""
    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QuerySpec(
            name=name, fn=_memoized(name, fn), oracle=oracle,
            doc=(fn.__doc__ or "").strip(), covers=covers, bench=bench,
        )
        return fn
    return deco
