"""SCD Type 2 merge as an immutable DataFrame rewrite (SURVEY.md §2.8 M1).

The reference runs a two-step UPDATE+INSERT in Postgres
(warehouse_dag.py:31-92 customers, 94-153 products): close current rows
whose tracked attributes changed (expiry = today−1, is_current=false),
then insert new+changed rows (effective = today, expiry = 9999-12-31).

Spark storage is immutable, so the merge is a four-way union rewrite:

    history         rows already closed (is_current = false)        kept
    unchanged       current rows with no staged change              kept
    closed          current rows whose tracked attrs changed        expiry today−1
    new_versions    staged rows that are new OR changed             effective today

Fidelity trap replicated on purpose (SURVEY.md §7.4.3): change
detection uses null-unsafe ``!=`` exactly like the reference's SQL —
a staged NULL never registers as a change.

Scale: one shuffle on the natural key (the staging↔dim join); dims are
usually broadcastable, and the union adds no extra shuffle.  With a
table format that supports MERGE (Delta/Iceberg) the same computation
feeds ``whenMatched/whenNotMatched`` — the plan here is format-free.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F

# expiry_date of a current (open) version, as in the reference
OPEN_EXPIRY = "9999-12-31"


def scd2_merge(dim: DataFrame, staging: DataFrame, natural_key: str,
               tracked: list[str], as_of_date: str,
               effective_col: str = "effective_date",
               expiry_col: str = "expiry_date",
               current_col: str = "is_current") -> DataFrame:
    """Return the post-merge dimension (same schema as ``dim``).

    ``staging`` must carry ``natural_key`` plus EVERY dim attribute
    column — tracked and untracked alike — because new/changed versions
    are materialized from the staged snapshot (the reference's staging
    tables are full snapshots, warehouse_dag.py:60-92).  Columns in
    staging beyond those are ignored; ``dim`` must carry the SCD audit
    columns.  A staging frame missing attributes fails fast here with
    the missing names rather than deep in the union.
    """
    if not tracked:
        # reduce() over the change predicates would raise a cryptic
        # "reduce of empty iterable" deep inside; fail at the boundary
        raise ValueError("scd2_merge: tracked must name at least one "
                         "attribute column (an SCD2 dim with nothing "
                         "tracked is a plain overwrite — use keyed_upsert)")
    as_of = F.lit(as_of_date).cast("date")
    dim_cols = dim.columns
    attr_cols = [c for c in dim_cols if c not in (effective_col, expiry_col, current_col)]
    missing = [c for c in attr_cols if c not in staging.columns]
    if missing:
        raise ValueError(
            "scd2_merge: staging must carry every dim attribute column "
            f"(tracked AND untracked); missing {missing}")

    # NULL is_current (dirty load) must not vanish: filter(col) drops it
    # from current AND filter(~col) drops it from history under
    # three-valued logic — coalesce pins NULL to "history", preserving
    # the row while keeping it out of the merge's comparison set
    is_cur = F.coalesce(F.col(current_col), F.lit(False))
    current = dim.filter(is_cur)
    history = dim.filter(~is_cur)

    stg = staging.select(natural_key, *tracked).alias("s")
    cur = current.alias("c")
    joined = cur.join(stg, on=F.col(f"c.{natural_key}") == F.col(f"s.{natural_key}"),
                      how="inner")

    # warehouse_dag.py:47-49 — plain `!=`; NULLs propagate and the
    # row silently counts as unchanged (3-valued logic).
    changed_pred = reduce(
        lambda a, b: a | b,
        [F.col(f"c.{t}") != F.col(f"s.{t}") for t in tracked],
    )

    changed_keys = (joined.filter(changed_pred)
                    .select(F.col(f"c.{natural_key}").alias(natural_key))
                    .distinct())

    # Close changed current rows (UPDATE leg, warehouse_dag.py:31-58).
    closed = (current.join(changed_keys, natural_key, "left_semi")
              .withColumn(expiry_col, F.date_sub(as_of, 1))
              .withColumn(current_col, F.lit(False)))

    unchanged = current.join(changed_keys, natural_key, "left_anti")

    # Insert new + changed versions (INSERT leg, warehouse_dag.py:60-92):
    # staged rows whose key is absent from the *unchanged* current set.
    new_versions = (
        staging.select(natural_key, *[c for c in attr_cols if c != natural_key])
        .join(unchanged.select(natural_key), natural_key, "left_anti")
        .withColumn(effective_col, as_of)
        .withColumn(expiry_col, F.lit(OPEN_EXPIRY).cast("date"))
        .withColumn(current_col, F.lit(True))
    )

    return (history.select(dim_cols)
            .unionByName(unchanged.select(dim_cols))
            .unionByName(closed.select(dim_cols))
            .unionByName(new_versions.select(dim_cols)))
