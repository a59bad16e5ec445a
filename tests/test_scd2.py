"""SCD2 property tests (SURVEY.md §5.2.4): exactly one current row per
key, effective ≤ expiry, history grows only on tracked-attribute
change, and the null-unsafe `!=` fidelity trap."""

from __future__ import annotations

from pyspark.sql import functions as F

from ecommerce_data_engineering_spark.operators.scd2 import scd2_merge

AS_OF = "2024-06-01"


def _dim(spark, rows):
    return spark.createDataFrame(
        list(rows),
        "customer_id string, segment string, city string, "
        "effective_date string, expiry_date string, is_current boolean",
    ).select(
        "customer_id", "segment", "city",
        F.col("effective_date").cast("date").alias("effective_date"),
        F.col("expiry_date").cast("date").alias("expiry_date"),
        "is_current",
    )


def _staging(spark, rows):
    return spark.createDataFrame(
        [(r[0], r[1], r[2]) for r in rows],
        "customer_id string, segment string, city string",
    )


def base_dim(spark):
    return _dim(spark, [
        ("C1", "Premium", "Dhaka", "2024-01-01", "9999-12-31", True),
        ("C2", "Regular", "Sylhet", "2024-01-01", "9999-12-31", True),
        # C3 already has history: one closed + one current row
        ("C3", "Budget", "Khulna", "2024-01-01", "2024-02-28", False),
        ("C3", "Regular", "Khulna", "2024-02-29", "9999-12-31", True),
    ])


def merge(spark, staging_rows):
    return scd2_merge(
        base_dim(spark), _staging(spark, staging_rows),
        natural_key="customer_id", tracked=["segment", "city"],
        as_of_date=AS_OF,
    )


def test_unchanged_input_is_identity(spark):
    staging = [("C1", "Premium", "Dhaka"), ("C2", "Regular", "Sylhet"),
               ("C3", "Regular", "Khulna")]
    out = merge(spark, staging)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, base_dim(spark).collect()))


def test_changed_row_closes_and_reinserts(spark):
    out = merge(spark, [("C1", "Budget", "Dhaka"),
                        ("C2", "Regular", "Sylhet"),
                        ("C3", "Regular", "Khulna")])
    c1 = {tuple(r) for r in out.filter("customer_id = 'C1'").collect()}
    assert len(c1) == 2
    closed = next(r for r in c1 if not r[5])
    current = next(r for r in c1 if r[5])
    assert str(closed[4]) == "2024-05-31"          # expiry = as_of − 1
    assert closed[1] == "Premium"
    assert current[1] == "Budget" and str(current[2]) == "Dhaka"
    assert str(current[3]) == AS_OF and str(current[4]) == "9999-12-31"


def test_new_key_inserted_current(spark):
    out = merge(spark, [("C1", "Premium", "Dhaka"), ("C2", "Regular", "Sylhet"),
                        ("C3", "Regular", "Khulna"), ("C9", "Premium", "Bogra")])
    c9 = out.filter("customer_id = 'C9'").collect()
    assert len(c9) == 1 and c9[0].is_current and str(c9[0].effective_date) == AS_OF


def test_exactly_one_current_per_key_and_date_sanity(spark):
    out = merge(spark, [("C1", "Budget", "Dhaka"), ("C2", "Regular", "Rajshahi"),
                        ("C3", "Premium", "Khulna"), ("C9", "Premium", "Bogra")])
    per_key = (out.filter("is_current").groupBy("customer_id").count()
               .filter("count <> 1").count())
    assert per_key == 0
    assert out.filter(F.col("effective_date") > F.col("expiry_date")).count() == 0


def test_null_change_is_not_a_change(spark):
    """warehouse_dag.py:47-49 fidelity: NULL staged attr never matches
    `!=` — the row must remain untouched (no close, no reinsert)."""
    out = merge(spark, [("C1", None, "Dhaka"), ("C2", "Regular", "Sylhet"),
                        ("C3", "Regular", "Khulna")])
    c1 = out.filter("customer_id = 'C1'").collect()
    assert len(c1) == 1 and c1[0].is_current and c1[0].segment == "Premium"


def test_staging_missing_attr_columns_fails_fast(spark):
    """The stated contract: staging must carry EVERY dim attribute
    column; a key+tracked-only frame gets a clear error, not a deep
    AnalysisException (ADVICE r01 #3)."""
    import pytest

    partial = spark.createDataFrame(
        [("C1", "Budget")], "customer_id string, segment string")
    with pytest.raises(ValueError, match="missing \\['city'\\]"):
        scd2_merge(base_dim(spark), partial, natural_key="customer_id",
                   tracked=["segment"], as_of_date=AS_OF)


def test_scd2_null_is_current_row_is_preserved_as_history(spark):
    """A dim row with NULL is_current (dirty load) must survive the
    merge: three-valued logic would drop it from BOTH the current and
    history legs; the merge pins NULL to history instead."""
    import datetime as dt

    from ecommerce_data_engineering_spark.operators.scd2 import scd2_merge

    dim = spark.createDataFrame(
        [(1, "A", dt.date(2024, 1, 1), dt.date(9999, 12, 31), True),
         (2, "B", dt.date(2024, 1, 1), dt.date(9999, 12, 31), None)],
        "id long, seg string, effective_date date, expiry_date date, "
        "is_current boolean")
    stg = spark.createDataFrame([(1, "A"), (2, "B")], "id long, seg string")
    out = scd2_merge(dim, stg, "id", ["seg"], "2024-06-01")
    by_key = {}
    for r in out.collect():
        by_key.setdefault(r.id, []).append(r)
    assert 2 in by_key and len(by_key[2]) >= 1      # not silently dropped


def test_scd2_empty_tracked_raises(spark):
    import pytest

    dim = spark.createDataFrame(
        [], "id long, seg string, effective_date date, expiry_date date, "
            "is_current boolean")
    stg = spark.createDataFrame([], "id long, seg string")
    with pytest.raises(ValueError, match="tracked"):
        scd2_merge(dim, stg, "id", [], "2024-06-01")
