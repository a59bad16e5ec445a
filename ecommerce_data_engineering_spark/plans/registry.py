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
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

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


def query(name: str, oracle: Optional[str] = None, covers: tuple[str, ...] = (),
          bench: bool = False):
    """Decorator: register a named query with its oracle SQL."""
    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QuerySpec(
            name=name, fn=fn, oracle=oracle, doc=(fn.__doc__ or "").strip(),
            covers=covers, bench=bench,
        )
        return fn
    return deco
