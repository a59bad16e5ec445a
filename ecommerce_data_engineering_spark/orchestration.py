"""Orchestration semantics: declaration order, one retry, branch
isolation, the soft fail.

The reference encodes run semantics in three Airflow DAGs — task
dependency edges (staging_dag.py:299, warehouse_dag.py:554-563,
analytics_dag.py:547-550), one retry per task (``retries: 1`` —
staging_dag.py:17), no gate on the previous run's outcome
(staging_dag.py:13) and a daily cadence with ``catchup=False``
(staging_dag.py:25-26).  This module keeps what those settings mean
for one run: a task runs after its upstreams, a failing task is
retried once (without the reference's 5 min delay), a hard failure
blocks only its own descendants, and the one soft-fail task (campaign
attribution — analytics_dag.py:325-328) lets its downstream proceed.
Each run stands alone, so the daily cadence is the host scheduler
calling ``pipeline.run_pipeline`` once per day.

Scale note: orchestration is pure driver-side control flow over lazy
DataFrames — a task "running" builds a plan; Spark executes when a
sink task materializes it.  Nothing here touches executor-side data
paths, so the module is scale-neutral by construction.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Mapping
from dataclasses import dataclass, field
from enum import Enum
from typing import Any

RETRIES = 1                              # staging_dag.py:17: retries: 1


class State(str, Enum):
    SUCCESS = "success"
    FAILED = "failed"
    SOFT_FAILED = "soft_failed"          # task failed, downstream proceeds
    UPSTREAM_FAILED = "upstream_failed"  # an ancestor hard-failed


@dataclass
class Task:
    """One node.  ``fn(results)`` receives the dict of upstream results
    (keyed by task name) and returns this task's result."""
    name: str
    fn: Callable[[dict[str, Any]], Any]
    upstream: tuple[str, ...] = ()
    soft_fail: bool = False              # analytics_dag.py:325-328


@dataclass
class TaskRun:
    state: State
    attempts: int = 0
    error: Exception | None = None
    result: Any = None


@dataclass
class Dag:
    """Runs its tasks in declaration order with Airflow-equivalent
    failure semantics.  ``task()`` rejects an upstream not declared
    yet, so declaration order is a topological order and runs are
    reproducible."""
    dag_id: str
    _tasks: dict[str, Task] = field(default_factory=dict)

    def task(self, name: str, fn: Callable[[dict[str, Any]], Any],
             upstream: Iterable[str] = (), soft_fail: bool = False) -> None:
        if name in self._tasks:
            raise ValueError(f"{self.dag_id}: duplicate task {name!r}")
        ups = tuple(upstream)
        for u in ups:
            if u not in self._tasks:
                raise ValueError(f"{self.dag_id}: {name!r} depends on "
                                 f"unknown task {u!r} (declare upstream first)")
        self._tasks[name] = Task(name=name, fn=fn, upstream=ups,
                                 soft_fail=soft_fail)

    @staticmethod
    def _execute(t: Task, results: dict[str, Any]) -> TaskRun:
        run = TaskRun(state=State.FAILED)
        for attempt in range(1 + RETRIES):
            run.attempts = attempt + 1
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

    def run(self) -> dict[str, TaskRun]:
        """Execute one run; the returned dict is in declaration order."""
        runs: dict[str, TaskRun] = {}
        results: dict[str, Any] = {}
        for t in self._tasks.values():
            if any(runs[u].state in (State.FAILED, State.UPSTREAM_FAILED)
                   for u in t.upstream):
                runs[t.name] = TaskRun(state=State.UPSTREAM_FAILED)
                continue
            run = self._execute(t, results)
            if run.state is not State.FAILED:
                results[t.name] = run.result
            runs[t.name] = run
        return runs


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
