"""Pins the registry's laziness contract (VERDICT r7 #3): CONSTRUCTING
a registered query — calling ``spec.fn(spark, sf_dir)`` — must launch
ZERO Spark jobs.  The returned object is a lazy plan; compute happens
when the driver/bench consumes it.

Through r7 ``embedding_ivf_kmeans`` was the documented exception (~8
jobs at construction: WCSS collects + kmeans_refine driver hops); r8
rewrote it onto kmeans_refine_lazy / kmeans_wcss_df and this test pins
the contract registry-wide so no query regresses to eager.

Two job sources are excluded by design, with the burden of proof here:

* one-time metadata: the first ``load()`` of a table runs a parquet
  schema-inference job (memoized per session, sources/readers.py), and
  the first construction of the synthetic-pipeline queries memoizes
  the S8 pipeline build.  The test warms both, then measures.
* CONSTRUCTION_EXCEPTIONS: queries whose construction-time compute IS
  their contract.  The allowlist is exact — a new eager query fails,
  and an exception that becomes lazy fails too (so the list can only
  shrink deliberately).

Mechanism: constructions run inside a dedicated job group;
``statusTracker().getJobIdsForGroup`` reports every job (active or
completed) attributed to it — if construction stayed plan-only, the
group is empty.
"""

from __future__ import annotations

import pytest

from ecommerce_data_engineering_spark.plans import REGISTRY, clear_query_memo
from ecommerce_data_engineering_spark.plans.registry import _query_memo

# name -> why construction legitimately runs jobs
CONSTRUCTION_EXCEPTIONS = {
    # Q7: the fail-pipeline-on-error contract EXECUTES a must-fail DQ
    # check and requires it to raise — running it is the semantics
    "dq_contract": "executes the must-fail DQ check (Q7 contract)",
    # S2–S4/M3: the operator under test is the sink write + re-read
    "ingest_refresh_roundtrip": "writes the table sink it then reads",
    # iterative label propagation: loop-until-converged cannot be a
    # static plan (convergence is data-dependent; same shape as
    # GraphFrames connectedComponents)
    "dedup_clusters": "iterative connected components",
    "dedup_embedding_clusters": "iterative connected components",
}

FIXTURE_TABLES = ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "documents",
                  "embeddings")


@pytest.fixture(scope="module")
def warmed(spark, sf_dir):
    """Warm the one-time metadata paths: relation memo (schema-read
    jobs) and first-construction memos (synthetic pipeline build).
    The registry's query memo is emptied again, so every measured call
    builds its plan instead of returning the one built here."""
    from ecommerce_data_engineering_spark.sources import load

    for t in FIXTURE_TABLES:
        load(spark, sf_dir, t)
    for spec in REGISTRY.values():
        spec.fn(spark, sf_dir)
    clear_query_memo(spark)
    return True


def _jobs_for(spark, group: str) -> list[int]:
    return sorted(spark.sparkContext.statusTracker()
                  .getJobIdsForGroup(group))


def _construct_in_group(spark, group: str, fn) -> None:
    sc = spark.sparkContext
    sc.setJobGroup(group, "construction-budget probe")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_registry_construction_launches_no_jobs(spark, sf_dir, warmed):
    eager: dict[str, int] = {}
    for name, spec in REGISTRY.items():
        group = f"construction-budget-{name}"
        _construct_in_group(spark, group, lambda: spec.fn(spark, sf_dir))
        n = len(_jobs_for(spark, group))
        if n:
            eager[name] = n

    undeclared = {n: c for n, c in eager.items()
                  if n not in CONSTRUCTION_EXCEPTIONS}
    assert not undeclared, (
        f"queries ran Spark jobs at plan construction without a "
        f"declared contract reason: {undeclared}")

    # exceptions may only shrink deliberately: an allowlisted query
    # that went lazy must be removed from the list
    gone_lazy = set(CONSTRUCTION_EXCEPTIONS) - set(eager)
    assert not gone_lazy, (
        f"allowlisted queries are now lazy — remove from "
        f"CONSTRUCTION_EXCEPTIONS: {sorted(gone_lazy)}")

    # the r8 fix itself: the k-means trainer is lazy, forever
    assert "embedding_ivf_kmeans" not in eager


def test_registry_hits_launch_no_jobs(spark, sf_dir, warmed):
    """A repeat call after an action is a memo hit: it returns the
    stored result, made from the kept plan's final stages, or the kept
    plan itself.  Making either launches no job."""
    memo = _query_memo(spark)
    eager: dict[str, int] = {}
    stored = []
    try:
        for name, spec in REGISTRY.items():
            df = spec.fn(spark, sf_dir)
            if (name, sf_dir) not in memo:
                continue
            df.collect()
            group = f"construction-budget-hit-{name}"
            _construct_in_group(
                spark, group,
                lambda: stored.append(spec.fn(spark, sf_dir) is not df))
            n = len(_jobs_for(spark, group))
            if n:
                eager[name] = n
    finally:
        clear_query_memo(spark)
    assert not eager, f"memo hits ran Spark jobs: {eager}"
    assert any(stored), "no hit returned a stored result"


def test_job_group_tracking_detects_jobs(spark, sf_dir):
    """Counter-test: the mechanism above actually attributes jobs to
    the group — an action inside the group must be visible, otherwise
    the zero-jobs assert is vacuous."""
    from ecommerce_data_engineering_spark.sources import load

    _construct_in_group(
        spark, "construction-budget-canary",
        lambda: load(spark, sf_dir, "region").count())
    assert _jobs_for(spark, "construction-budget-canary")
