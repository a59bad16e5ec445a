"""Primary correctness gate: every registered query hash-matches its
DuckDB oracle on the same parquet fixtures (SURVEY.md §5.2.1)."""

from __future__ import annotations

import pytest

from ecommerce_data_engineering_spark.plans import REGISTRY, clear_query_memo

from .oracle import compare, duckdb_run

ORACLE_CASES = sorted(n for n, s in REGISTRY.items() if s.oracle)
ROWS_ONLY_CASES = sorted(n for n, s in REGISTRY.items() if not s.oracle)


@pytest.mark.parametrize("name", ORACLE_CASES)
def test_query_matches_oracle(spark, sf_dir, name):
    spec = REGISTRY[name]
    spark_df = spec.fn(spark, sf_dir)
    oracle_pdf = duckdb_run(spec.oracle, sf_dir)
    problems = compare(spark_df, oracle_pdf, name)
    assert not problems, "\n".join(problems)


@pytest.mark.parametrize("name", ROWS_ONLY_CASES)
def test_rows_only_queries_run(spark, sf_dir, name):
    spec = REGISTRY[name]
    df = spec.fn(spark, sf_dir)
    assert df.count() >= 0 and len(df.schema) > 0


def test_harness_catches_hugeint_drift(spark, sf_dir):
    """Red-first reproduction of the round-2 driver failure: DuckDB
    sum(BIGINT) returns HUGEINT (→ float64 in pandas) while Spark emits
    int64.  Values are identical, so the old value-normalizing compare
    passed locally while the driver's raw-cell hash failed.  The
    type-strict compare must flag the uncast oracle and accept the
    CAST-ed one."""
    from pyspark.sql import functions as F

    from ecommerce_data_engineering_spark.sources import load

    spark_df = load(spark, sf_dir, "documents").agg(
        F.sum("n_chars").alias("total_chars"))
    uncast = duckdb_run(
        "SELECT sum(n_chars) AS total_chars FROM documents", sf_dir)
    cast = duckdb_run(
        "SELECT CAST(sum(n_chars) AS BIGINT) AS total_chars FROM documents",
        sf_dir)
    assert any("dtype drift" in p for p in compare(spark_df, uncast, "drift"))
    assert not compare(spark_df, cast, "cast")


def test_entry_smoke(spark):
    import __spark_entry__ as e
    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())


@pytest.mark.parametrize("name", ["top_products", "customer_value_quartiles",
                                  "dedup_minhash_lsh", "embedding_cosine_topk",
                                  "dedup_clusters"])
def test_double_run_determinism(spark, sf_dir, name):
    """Canary against partition-order nondeterminism: the ranked /
    hashed / iterative queries must produce identical canonical rows on
    two executions within one session.  Each run builds its own plan:
    a memoized one would hand back the first run's stored rows."""
    from .oracle import canonical

    spec = REGISTRY[name]
    clear_query_memo(spark)
    a = canonical(spec.fn(spark, sf_dir).toPandas())
    clear_query_memo(spark)
    b = canonical(spec.fn(spark, sf_dir).toPandas())
    assert a == b
