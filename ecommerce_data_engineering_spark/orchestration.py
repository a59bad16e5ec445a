"""Orchestration semantics: task graph, retries, backfill.

The reference encodes run semantics in three Airflow DAGs — task
dependency edges (staging_dag.py:299, warehouse_dag.py:554-563,
analytics_dag.py:547-550), per-task retry policy (``retries: 1,
retry_delay: 5 min`` — staging_dag.py:17-18), daily cadence with
``catchup=False`` (staging_dag.py:25-26) and ``depends_on_past:
False`` (staging_dag.py:13).  This module re-expresses exactly those
semantics engine-side so a user running the reference under Airflow
keeps dependency ordering, transient-failure retry, branch isolation
(a failed task only blocks its own descendants), the one soft-fail
task (campaign attribution — analytics_dag.py:325-328), and logical-
date backfill — without an external scheduler.

Scale note: orchestration is pure driver-side control flow over lazy
DataFrames — a task "running" builds a plan; Spark executes when a
sink task materializes it.  Nothing here touches executor-side data
paths, so the module is scale-neutral by construction.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterable, Mapping
from dataclasses import dataclass, field
from enum import Enum
from typing import Any


class State(str, Enum):
    SUCCESS = "success"
    FAILED = "failed"
    SOFT_FAILED = "soft_failed"          # task failed, downstream proceeds
    UPSTREAM_FAILED = "upstream_failed"  # an ancestor hard-failed
    SKIPPED = "skipped"                  # depends_on_past gate


@dataclass
class Task:
    """One node.  ``fn(results)`` receives the dict of upstream results
    (keyed by task name) and returns this task's result."""
    name: str
    fn: Callable[[dict[str, Any]], Any]
    upstream: tuple[str, ...] = ()
    retries: int = 1                     # Airflow default_args: retries=1
    retry_delay: float = 0.0             # seconds; reference uses 5 min
    soft_fail: bool = False              # analytics_dag.py:325-328
    depends_on_past: bool = False


@dataclass
class TaskRun:
    state: State
    attempts: int = 0
    error: Exception | None = None
    result: Any = None


@dataclass
class Dag:
    """Deterministic topological executor with Airflow-equivalent
    failure semantics.  Insertion order breaks topological ties, so
    runs are reproducible."""
    dag_id: str
    default_retries: int = 1
    default_retry_delay: float = 0.0
    _tasks: dict[str, Task] = field(default_factory=dict)
    # injectable for tests; monkeypatch-free determinism
    sleep: Callable[[float], None] = time.sleep

    def task(self, name: str, fn: Callable[[dict[str, Any]], Any],
             upstream: Iterable[str | Task] = (), **kw: Any) -> Task:
        if name in self._tasks:
            raise ValueError(f"{self.dag_id}: duplicate task {name!r}")
        # dedupe while preserving order: a duplicate upstream entry
        # would inflate the Kahn in-degree (len(upstream)) while the
        # completion loop decrements once per task — a false "cycle
        # detected" on an acyclic graph
        ups = tuple(dict.fromkeys(
            t.name if isinstance(t, Task) else t for t in upstream))
        for u in ups:
            if u not in self._tasks:
                raise ValueError(f"{self.dag_id}: {name!r} depends on "
                                 f"unknown task {u!r} (declare upstream first)")
        kw.setdefault("retries", self.default_retries)
        kw.setdefault("retry_delay", self.default_retry_delay)
        t = Task(name=name, fn=fn, upstream=ups, **kw)
        self._tasks[name] = t
        return t

    def topo_order(self) -> list[str]:
        """Kahn's algorithm; insertion order as tie-break.  Upstreams
        must pre-exist at declaration, so the graph is acyclic by
        construction — this re-derives the order for callers/tests."""
        indeg = {n: len(t.upstream) for n, t in self._tasks.items()}
        out: list[str] = []
        ready = [n for n, d in indeg.items() if d == 0]
        while ready:
            n = ready.pop(0)
            out.append(n)
            for m, t in self._tasks.items():
                if n in t.upstream:
                    indeg[m] -= 1
                    if indeg[m] == 0:
                        ready.append(m)
        if len(out) != len(self._tasks):      # pragma: no cover - guarded
            raise ValueError(f"{self.dag_id}: cycle detected")
        return out

    def _static_state(self, t: Task, runs: Mapping[str, TaskRun],
                      past: Mapping[str, TaskRun] | None) -> State | None:
        """Skip/block resolution without executing; None = runnable."""
        up_states = {runs[u].state for u in t.upstream}
        if State.FAILED in up_states or State.UPSTREAM_FAILED in up_states:
            return State.UPSTREAM_FAILED
        if State.SKIPPED in up_states:       # skip cascades, like Airflow
            return State.SKIPPED
        if t.depends_on_past and past is not None:
            prev = past.get(t.name)
            if prev is not None and prev.state not in (State.SUCCESS,
                                                       State.SOFT_FAILED):
                return State.SKIPPED
        return None

    def _execute(self, t: Task, results: dict[str, Any]) -> TaskRun:
        run = TaskRun(state=State.FAILED)
        for attempt in range(1 + t.retries):
            run.attempts = attempt + 1
            if attempt:
                self.sleep(t.retry_delay)
            try:
                run.result = t.fn(dict(results))
                run.state = State.SUCCESS
                run.error = None
                break
            except Exception as e:           # noqa: BLE001 - retry boundary
                run.error = e
        if run.state is not State.SUCCESS and t.soft_fail:
            run.state = State.SOFT_FAILED
            run.result = None
        return run

    def run(self, past: Mapping[str, TaskRun] | None = None,
            max_workers: int = 1) -> dict[str, TaskRun]:
        """Execute one logical run.  ``past`` is the previous logical
        date's TaskRuns, consulted only by ``depends_on_past`` tasks
        (reference sets it False everywhere; supported because it is
        part of the scheduling contract surface).

        ``max_workers > 1`` runs independent branches concurrently
        (Airflow LocalExecutor parity).  Spark's driver schedules
        actions from multiple threads fine, and overlapping branches
        keeps a large cluster busy while one branch waits on a shuffle.
        States are identical to the sequential path — the dependency
        graph, not submission order, decides them."""
        if max_workers > 1:
            return self._run_parallel(past, max_workers)
        runs: dict[str, TaskRun] = {}
        results: dict[str, Any] = {}
        for name in self.topo_order():
            t = self._tasks[name]
            static = self._static_state(t, runs, past)
            if static is not None:
                runs[name] = TaskRun(state=static)
                continue
            run = self._execute(t, results)
            if run.state in (State.SUCCESS, State.SOFT_FAILED):
                results[name] = run.result
            runs[name] = run
        return runs

    def _run_parallel(self, past: Mapping[str, TaskRun] | None,
                      max_workers: int) -> dict[str, TaskRun]:
        from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait

        order = self.topo_order()
        runs: dict[str, TaskRun] = {}
        results: dict[str, Any] = {}
        pending = set(order)
        futures: dict[Any, str] = {}
        with ThreadPoolExecutor(max_workers=max_workers) as pool:
            while pending or futures:
                progressed = True
                while progressed:            # settle all statically-decided
                    progressed = False
                    for name in [n for n in order if n in pending]:
                        t = self._tasks[name]
                        if not all(u in runs for u in t.upstream):
                            continue
                        static = self._static_state(t, runs, past)
                        if static is not None:
                            runs[name] = TaskRun(state=static)
                            pending.discard(name)
                            progressed = True
                for name in [n for n in order if n in pending]:
                    t = self._tasks[name]
                    if all(u in runs for u in t.upstream) \
                            and name not in futures.values():
                        fut = pool.submit(self._execute, t, dict(results))
                        futures[fut] = name
                        pending.discard(name)
                if not futures:
                    break
                done, _ = wait(futures, return_when=FIRST_COMPLETED)
                for fut in done:
                    name = futures.pop(fut)
                    run = fut.result()
                    if run.state in (State.SUCCESS, State.SOFT_FAILED):
                        results[name] = run.result
                    runs[name] = run
        return runs

    def results(self, runs: Mapping[str, TaskRun]) -> dict[str, Any]:
        return {n: r.result for n, r in runs.items()
                if r.state is State.SUCCESS}


def backfill(dag: Dag, dates: Iterable[str],
             bind: Callable[[str], Dag] | None = None
             ) -> dict[str, dict[str, TaskRun]]:
    """Run ``dag`` once per logical date, oldest first, threading each
    date's states into the next (for ``depends_on_past``).  ``bind``
    optionally rebuilds the dag per date (closure over the logical
    date — the Airflow ``{{ ds }}`` idiom); default reuses ``dag``.

    The reference runs ``catchup=False`` (staging_dag.py:26): its
    scheduler only executes the latest interval.  Backfill here is the
    explicit, bounded form of catchup — the caller names the dates.
    """
    out: dict[str, dict[str, TaskRun]] = {}
    past: dict[str, TaskRun] | None = None
    for ds in sorted(dates):
        d = bind(ds) if bind is not None else dag
        runs = d.run(past=past)
        out[ds] = runs
        past = runs
    return out


def pipeline_dag(spark, raw: Mapping[str, Any], as_of: str,
                 prior: Mapping[str, Any] | None = None) -> Dag:
    """The reference's three DAGs as one edge-faithful graph over the
    engine's pipeline functions.

    Edges mirror staging_dag.py:299 (loads → validate),
    warehouse_dag.py:554-563 (dims → fact_orders → fact_order_items;
    dims → inventory/campaigns/clickstream facts → validate) and
    analytics_dag.py:547-550 (metrics → daily_sales → trends/
    acquisition → attribution → views → validate).  Campaign
    attribution is the single ``soft_fail`` task, matching the
    reference's try/except (analytics_dag.py:325-328).
    """
    from . import pipeline as P

    prior = dict(prior or {})
    d = Dag(f"ecommerce_pipeline_{as_of}")

    # --- staging (staging_dag.py:263-299) ---
    d.task("load_customers_to_staging",
           lambda r: P.stage_customers(raw["customers"]))
    d.task("load_products_to_staging",
           lambda r: P.stage_products(raw["products"]))
    d.task("load_orders_to_staging",
           lambda r: P.stage_orders(raw["orders"]))
    d.task("load_remaining_tables",
           lambda r: {k: raw[k] for k in ("order_items", "inventory",
                                          "marketing_campaigns", "clickstream")})
    staging_loads = ("load_customers_to_staging", "load_products_to_staging",
                     "load_orders_to_staging", "load_remaining_tables")
    d.task("validate_staging_data",
           lambda r: P.staging_quality({
               "customers": r["load_customers_to_staging"],
               "products": r["load_products_to_staging"],
               "orders": r["load_orders_to_staging"],
               **r["load_remaining_tables"]}),
           upstream=staging_loads)

    # --- warehouse (warehouse_dag.py:493-563) ---
    d.task("transform_customers_dimension",
           lambda r: P.build_dim_customers(r["load_customers_to_staging"],
                                           prior.get("dim_customers"), as_of),
           upstream=("load_customers_to_staging", "validate_staging_data"))
    d.task("transform_products_dimension",
           lambda r: P.build_dim_products(r["load_products_to_staging"],
                                          prior.get("dim_products"), as_of),
           upstream=("load_products_to_staging", "validate_staging_data"))
    d.task("load_time_dimension",
           lambda r: P.build_dim_time(r["load_orders_to_staging"],
                                      prior.get("dim_time")),
           upstream=("load_orders_to_staging", "validate_staging_data"))
    dims = ("transform_customers_dimension", "transform_products_dimension",
            "load_time_dimension")
    d.task("load_orders_fact",
           lambda r: P.build_fact_orders(r["load_orders_to_staging"],
                                         r["transform_customers_dimension"],
                                         prior.get("fact_orders")),
           upstream=dims)
    d.task("load_order_items_fact",
           lambda r: P.build_fact_order_items(
               r["load_remaining_tables"]["order_items"],
               r["load_orders_fact"], r["transform_products_dimension"],
               prior.get("fact_order_items")),
           upstream=("load_orders_fact",))
    d.task("load_inventory_fact",
           lambda r: P.build_fact_inventory(
               r["load_remaining_tables"]["inventory"],
               r["transform_products_dimension"]),
           upstream=dims)
    d.task("load_marketing_campaigns_dimension",
           lambda r: P.build_dim_campaigns(
               r["load_remaining_tables"]["marketing_campaigns"]),
           upstream=dims)
    d.task("load_clickstream_fact",
           lambda r: P.build_fact_clickstream(
               r["load_remaining_tables"]["clickstream"],
               r["transform_customers_dimension"],
               r["transform_products_dimension"]),
           upstream=dims)
    d.task("validate_warehouse_data",
           lambda r: P.warehouse_quality(r["load_orders_fact"],
                                         r["transform_customers_dimension"]),
           upstream=("load_order_items_fact", "load_inventory_fact",
                     "load_marketing_campaigns_dimension",
                     "load_clickstream_fact"))

    # --- analytics (analytics_dag.py:499-550) ---
    d.task("create_customer_metrics",
           lambda r: P.build_customer_metrics(
               r["transform_customers_dimension"], r["load_orders_fact"],
               as_of),
           upstream=("validate_warehouse_data",))
    d.task("create_product_metrics",
           lambda r: P.build_product_metrics(
               r["transform_products_dimension"], r["load_order_items_fact"],
               r["load_remaining_tables"]["inventory"]),
           upstream=("validate_warehouse_data",))
    d.task("create_daily_sales_summary",
           lambda r: P.build_daily_sales(r["load_orders_fact"]),
           upstream=("create_customer_metrics", "create_product_metrics"))
    d.task("create_monthly_trends",
           lambda r: P.build_monthly_trends(r["create_daily_sales_summary"]),
           upstream=("create_daily_sales_summary",))
    d.task("create_customer_acquisition_analysis",
           lambda r: P.build_customer_acquisition(
               r["transform_customers_dimension"], r["load_orders_fact"]),
           upstream=("create_daily_sales_summary",))
    # analytics_dag.py:325-328: attribution is the one soft-fail task.
    # DataFrames are lazy, so the soft fail can only catch ANALYSIS-time
    # failures (missing campaign columns/table — the reference's actual
    # soft-fail cause); an execution-time failure surfaces at the
    # consumer's action like any other table's would.  Consumers needing
    # a hard guarantee should eagerly materialize inside their own guard.
    d.task("create_campaign_attribution",
           lambda r: P.build_campaign_attribution(
               r["create_daily_sales_summary"],
               raw["marketing_campaigns"]),
           upstream=("create_monthly_trends",
                     "create_customer_acquisition_analysis"),
           soft_fail=True)
    d.task("create_business_summary_views",
           lambda r: {
               "executive_summary": P.build_executive_summary(
                   r["load_orders_fact"], r["transform_customers_dimension"]),
               "top_products": P.build_top_products(r["create_product_metrics"]),
               "customer_segmentation": P.build_customer_segmentation(
                   r["create_customer_metrics"]),
               "seasonal_performance": P.build_seasonal_performance(
                   r["create_daily_sales_summary"]),
               "acquisition_summary": P.build_acquisition_summary(
                   r["create_customer_acquisition_analysis"]),
           },
           upstream=("create_campaign_attribution",))
    def _validate_analytics(r):
        # raise, don't return False: a boolean result records SUCCESS
        # and nothing fails the run — the Q7 contract the staging /
        # warehouse validation tasks follow via QualityError
        missing = [k for k, v in
                   r["create_business_summary_views"].items() if v is None]
        if missing:
            from .quality import QualityError
            raise QualityError(
                f"analytics validation: views missing/None: {missing}")
        return True

    d.task("validate_analytics_data", _validate_analytics,
           upstream=("create_business_summary_views",))
    return d


def pipeline_tables(runs: Mapping[str, TaskRun]) -> dict[str, Any]:
    """The 19 reference tables (PAPER.md §1.1) from the task results of
    a ``pipeline_dag`` run with no hard failure; a soft-failed
    ``campaign_attribution`` reads None."""
    r = {n: run.result for n, run in runs.items()}
    return {
        "dim_customers": r["transform_customers_dimension"],
        "dim_products": r["transform_products_dimension"],
        "dim_time": r["load_time_dimension"],
        "dim_campaigns": r["load_marketing_campaigns_dimension"],
        "fact_orders": r["load_orders_fact"],
        "fact_order_items": r["load_order_items_fact"],
        "fact_clickstream": r["load_clickstream_fact"],
        "fact_inventory": r["load_inventory_fact"],
        "customer_metrics": r["create_customer_metrics"],
        "product_metrics": r["create_product_metrics"],
        "daily_sales": r["create_daily_sales_summary"],
        "monthly_trends": r["create_monthly_trends"],
        "customer_acquisition": r["create_customer_acquisition_analysis"],
        "campaign_attribution": r["create_campaign_attribution"],
        **r["create_business_summary_views"],
    }
