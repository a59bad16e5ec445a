"""PySpark-native analytics engine with the query & data-processing
capabilities of the reference e-commerce warehouse
(jmahadi/ecommerce_data_engineering), re-expressed Spark-first.

Layout (see SURVEY.md §7):

- ``session``    – SparkSession factory (AQE on, UTC, Arrow).
- ``schemas``    – declared StructTypes for every table (no inference).
- ``sources``    – readers/writers (parquet/csv, partitioned sinks, synthetic).
- ``functions``  – scalar-function registry: PG-compatible date parts,
                   cleaning transforms, portable (cross-engine) hashing
                   and rounding, and ``tokens`` — each text tokenizer
                   and content key once per engine (Spark form + DuckDB
                   SQL twin).
- ``operators``  – reusable dataflow operators: SCD2 merge, keyed upsert,
                   range join, top-k, dedup (exact/minhash/simhash/jaccard),
                   similarity search, text analysis, multimodal plumbing.
- ``plans``      – the query library; every named query is registered with
                   an equivalent DuckDB oracle SQL string (driver contract).
- ``streaming``  – Structured Streaming pipelines over the events table.
- ``quality``    – data-quality assertion suite (Q1–Q7).

Everything here is built on public Apache Spark APIs only.
"""

__version__ = "0.1.0"

AS_OF_DATE = "2002-01-01"
"""Pinned "run date" for every query that the reference expresses with
CURRENT_DATE (SCD2 expiry, churn-risk day counts — SURVEY.md §7.4.1).
The fixture order dates span 1995-01-01..2001-08-01, so this is "today"
one step after the data ends; injectable for reproducible oracles."""

