"""Sources: parquet fixture loader + declared-schema CSV reader.

Covers SURVEY.md §2.1 S1–S3:
  S1/S2 CSV scan  (reference: airflow/dags/staging_dag.py:65-68,164-201)
        → ``spark.read.csv`` with an explicit StructType; Spark splits
        the file into input partitions itself, so the reference's
        manual 1000-row chunking disappears.
  S3    expected-columns validation (staging_dag.py:35-45)
        → ``validate_columns``.

Parquet is the at-rest format (columnar, pushdown-friendly); every
query reads with ``load``/``load_many`` so filters and projections
reach the scan (check via ``df.explain`` → PushedFilters/ReadSchema).
"""

from __future__ import annotations

import os
from typing import Any, NamedTuple, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


class MissingColumnsError(ValueError):
    """Raised when a source is missing expected columns (DQ check Q1)."""


# Per-SESSION memo of analyzed fixture DataFrames, keyed by the table's
# snapshot identity ``(file path, mtime_ns)``.  ``spark.read.parquet``
# re-lists the path and re-reads a footer for schema inference on EVERY
# call — ~100 ms of per-table JVM work that the 5-way fact builds pay
# five times per plan construction.  The memo returns the same
# immutable logical relation (Catalyst still re-optimizes each consuming
# query from scratch, so this is metadata reuse, not result caching);
# mtime_ns invalidates regenerated fixtures.  The dict hangs off the
# SparkSession OBJECT — not a module global keyed by applicationId —
# because two sessions can share one application (``newSession()``,
# or the externally-built driver session) with DIFFERENT SQLConfs: a
# DataFrame resolves against the session that created it, so sharing
# across sessions would silently pin the first loader's conf.  Dying
# with the session object also bounds the cache's lifetime.
_CACHE_ATTR = "_egraft_relation_cache"


Snapshot = tuple[str, Optional[int]]      # (path, mtime_ns)


class _Loaded(NamedTuple):
    df: DataFrame
    relation: Any          # the JVM HadoopFsRelation under ``df``


def _relation_cache(spark: SparkSession) -> dict:
    cache = getattr(spark, _CACHE_ATTR, None)
    if cache is None:
        cache = {}
        setattr(spark, _CACHE_ATTR, cache)
    return cache


def snapshot_id(path: str) -> Snapshot:
    """A file or directory's snapshot identity: ``(path, mtime_ns)``,
    with ``None`` for a path that does not exist.  A Spark overwrite
    recreates the directory, so its mtime moves with every rewrite."""
    try:
        return path, os.stat(path).st_mtime_ns
    except OSError:
        return path, None


def loaded_snapshot(spark: SparkSession, relation: Any) -> Optional[Snapshot]:
    """The snapshot identity under which :func:`load` holds a file
    relation equal to the JVM relation ``relation`` in this session, or
    ``None`` when it holds none.  Relations compare equal when they read
    the same path with the same schema and options, so the identity
    names the files ``relation`` reads."""
    for key, entry in _relation_cache(spark).items():
        if entry.relation.equals(relation):
            return key
    return None


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Read one fixture table: ``{sf_dir}/{table}.parquet``.

    ``events.ts`` is stored as parquet TIMESTAMP(NANOS); with
    ``spark.sql.legacy.parquet.nanosAsLong`` it surfaces as a long that
    we convert to a microsecond timestamp (integer DIV — no float
    round-trip; the fixture nanos are all whole microseconds).

    Both confs are set at read time (not only in our session factory)
    because the caller may hand us an externally-built SparkSession —
    the driver contract does exactly that."""
    from pyspark.sql import functions as F

    # deterministic date extraction regardless of host TZ (the DuckDB
    # oracle is UTC-naive); runtime-settable, so externally-built
    # sessions get it too
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if table == "events":
        # runtime-settable; required to scan TIMESTAMP(NANOS) parquet
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir.rstrip('/')}/{table}.parquet"
    cache = _relation_cache(spark)
    key = snapshot_id(path)
    cached = cache.get(key)
    if cached is not None:
        return cached.df
    # miss: evict superseded entries for the same path so repeatedly
    # regenerating a fixture within one session doesn't grow the memo
    # without bound or keep stale DataFrames alive (ADVICE r5)
    for stale in [k for k in cache if k[0] == path]:
        del cache[stale]
    df = spark.read.parquet(path)
    relation = df._jdf.queryExecution().analyzed().relation()
    if table == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Fixture generations vary: TIMESTAMP(NANOS) (handled above) vs
    # timestamp[us] with no zone, which Spark 4 infers as TIMESTAMP_NTZ.
    # Normalize NTZ → TIMESTAMP so downstream instant functions
    # (unix_micros, window(), watermarks) resolve; with the session TZ
    # pinned to UTC above, the cast is value-preserving.
    ntz_cols = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    for c in ntz_cols:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    cache[key] = _Loaded(df, relation)
    return df


def load_many(spark: SparkSession, sf_dir: str, *tables: str) -> list[DataFrame]:
    return [load(spark, sf_dir, t) for t in tables]


def validate_columns(df: DataFrame, expected: list[str], source: str = "<df>") -> DataFrame:
    """Fail fast if expected columns are missing (staging_dag.py:35-45)."""
    missing = [c for c in expected if c not in df.columns]
    if missing:
        raise MissingColumnsError(f"{source}: missing expected columns {missing}")
    return df


def read_csv_declared(spark: SparkSession, path: str, schema: T.StructType,
                      header: bool = True) -> DataFrame:
    """CSV scan with declared schema, invalid values → NULL.

    PERMISSIVE mode reproduces pandas ``errors='coerce'`` semantics
    (staging_dag.py:102-103): a malformed cell nulls out instead of
    failing the load; the DQ suite then counts the nulls.
    """
    df = spark.read.csv(path, header=header, schema=schema, mode="PERMISSIVE")
    return validate_columns(df, [f.name for f in schema.fields], path)


def read_csv_quarantine(
        spark: SparkSession, path: str, schema: T.StructType,
        header: bool = True,
        corrupt_col: str = "_corrupt_record") -> tuple[DataFrame, DataFrame]:
    """CSV ingest with corrupt-record QUARANTINE: returns
    ``(good, bad)`` from one declared-schema scan.

    :func:`read_csv_declared` nulls malformed cells (the reference's
    ``errors='coerce'``); at ingest scale you also want the rejected
    raw lines themselves — for replay after an upstream fix, and
    because silently nulling 4% of a feed is an incident, not a
    cleaning step.  PERMISSIVE mode routes each unparseable row's raw
    text into ``corrupt_col``; splitting on its NULL-ness yields the
    clean frame (corrupt column dropped) and the quarantine frame
    (typed columns as far as parsing got, plus the raw line).

    Both frames come from the SAME text-scan lineage — at 100 TB the
    two filters run in one pass each, and writing ``bad`` to a side
    table is the streaming-friendly dead-letter pattern.

    Implementation note: this deliberately reads ``text`` + ``from_csv``
    rather than ``spark.read.csv(mode=PERMISSIVE)`` — Spark refuses any
    query on a raw CSV/JSON scan whose referenced columns are only the
    internal corrupt-record column (UNSUPPORTED_FEATURE.QUERY_ONLY_
    CORRUPT_RECORD_COLUMN), so even ``good.count()`` on the
    filter-split frames would throw; the documented workaround is to
    cache the scan, which is a non-starter at ingest scale.  Parsing
    the line as a struct column has no such restriction.  Limitations
    of the text path: records must be single-line (no embedded
    newlines), and with ``header=True`` exactly ONE header-lookalike
    line per file is dropped as the header — further lines whose cells
    equal the column names flow through as ordinary data (ADVICE r3:
    the old filter silently ate every lookalike in every file, and its
    quote-naive split missed headers with quoted, comma-bearing cells).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    full = T.StructType(list(schema.fields)
                        + [T.StructField(corrupt_col, T.StringType())])
    ddl = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                    for f in full.fields)
    # blank lines: spark.read.csv skips them; the text source emits
    # them as rows and from_csv('') parses to an all-null struct with a
    # NULL corrupt column — which would silently inject all-null rows
    # into the GOOD frame.  Drop them before parsing.
    raw = spark.read.text(path).filter(F.trim(F.col("value")) != "")
    if header:
        # header detection tolerant of spacing, case, quoting, and a
        # BOM — QUOTE-AWARE: parse the line through from_csv as
        # all-strings (proper CSV quoting, so a quoted header cell
        # containing a comma still matches) and compare the normalized
        # cells to the declared column names (column ORDER must match
        # the schema — a different order is a genuinely different file
        # contract and should surface as quarantined rows, not silent
        # reordering).
        probe_ddl = ", ".join(f"`{f.name}` string" for f in schema.fields)
        probe = F.from_csv(
            F.regexp_replace(F.col("value"), "\\ufeff", ""), probe_ddl)
        cells = F.array(*[F.lower(F.trim(probe[f.name]))
                          for f in schema.fields])
        names = F.array(*[F.lit(f.name.lower()) for f in schema.fields])
        # short lines parse to NULL probe cells → the array compare is
        # NULL, and a bare ~NULL filter would silently eat the row;
        # NULL-lookalike means "not a header"
        lookalike = F.coalesce(cells == names, F.lit(False))
        # one header per FILE: rank lookalikes within each file and
        # drop only the first — a data row that happens to spell the
        # column names is data, not a header.  Lookalikes are only
        # normalization-equivalent (case/spacing may differ and the
        # main parse keeps raw cells), so which one is dropped matters:
        # a byte-exact match to the declared names sorts first (ADVICE
        # r4 — header 'word,tag' + data row 'WORD,TAG' must drop
        # 'word,tag' and keep ('WORD','TAG') as data).  The window
        # shuffles only ~n_files rows.
        # KNOWN LIMITATION (ADVICE r5): the preference inverts in the
        # mirror corner — real header 'Word,Tag' (a case variant) plus
        # a DATA row 'word,tag' (byte-exact) drops the data row and
        # keeps the variant header as data.  The truly correct key is
        # byte position within the file (a header is line 1), which no
        # distributed text scan exposes portably; byte-exactness is the
        # best available heuristic and the double-lookalike corner is a
        # pathological feed either way — quarantine-counting catches it
        # downstream.
        exact_cells = F.array(*[probe[f.name] for f in schema.fields])
        exact_names = F.array(*[F.lit(f.name) for f in schema.fields])
        exact = F.coalesce(exact_cells == exact_names, F.lit(False))
        w = Window.partitionBy(F.input_file_name()).orderBy(
            exact.desc(), "value")
        keep_header_like = (
            raw.filter(lookalike)
            .withColumn("_hdr_rn", F.row_number().over(w))
            .filter(F.col("_hdr_rn") > 1).drop("_hdr_rn"))
        raw = raw.filter(~lookalike).unionByName(keep_header_like)
    parsed = raw.select(
        F.from_csv(F.col("value"), ddl,
                   {"mode": "PERMISSIVE",
                    "columnNameOfCorruptRecord": corrupt_col}).alias("r"))
    good = parsed.filter(F.col(f"r.{corrupt_col}").isNull()) \
                 .select("r.*").drop(corrupt_col)
    bad = parsed.filter(F.col(f"r.{corrupt_col}").isNotNull()).select("r.*")
    return good, bad


def read_json_quarantine(
        spark: SparkSession, path: str, schema: T.StructType,
        corrupt_col: str = "_corrupt_record") -> tuple[DataFrame, DataFrame]:
    """JSON-lines twin of :func:`read_csv_quarantine` (event feeds are
    JSON in practice — the fixture ``events.props`` column models the
    payload).  Malformed lines land in the quarantine frame with the
    raw text preserved.  Built on ``text`` + ``from_json`` for the same
    corrupt-record-only-query reason as :func:`read_csv_quarantine`."""
    from pyspark.sql import functions as F

    full = T.StructType(list(schema.fields)
                        + [T.StructField(corrupt_col, T.StringType())])
    # blank lines: same all-null-row hazard as the CSV path
    parsed = spark.read.text(path) \
        .filter(F.trim(F.col("value")) != "").select(
        F.from_json(F.col("value"), full,
                    {"mode": "PERMISSIVE",
                     "columnNameOfCorruptRecord": corrupt_col}).alias("r"))
    good = parsed.filter(F.col(f"r.{corrupt_col}").isNull()) \
                 .select("r.*").drop(corrupt_col)
    bad = parsed.filter(F.col(f"r.{corrupt_col}").isNotNull()).select("r.*")
    return good, bad


_INT_LADDER = ["tinyint", "smallint", "int", "bigint"]

# (int_type, float_type) pairs whose union is EXACT in the float type:
# float's 24-bit significand covers int16, double's 53-bit covers int32.
# int→float for int32+, and int64→double, silently corrupt values above
# 2^24 / 2^53 (e.g. 64-bit surrogate keys collapsing to the nearest
# representable float → duplicate ids), so those unions are hard errors
# — same stance parquet mergeSchema takes on exactly this drift.
_EXACT_INT_IN_FLOAT = {
    ("tinyint", "float"), ("smallint", "float"),
    ("tinyint", "double"), ("smallint", "double"), ("int", "double"),
}


def _widen(a: T.DataType, b: T.DataType, col: str) -> T.DataType:
    """Safe common type for schema evolution: equal types, or a numeric
    widening that is provably LOSSLESS (int ladder, float→double, and
    int→float only where the float significand covers the full int
    range); anything lossy — string↔int, bigint↔float/double,
    int↔float — is a hard error, because silently corrupting values
    across file generations is worse than failing the read."""
    if a == b:
        return a
    sa, sb = a.simpleString(), b.simpleString()
    if sa in _INT_LADDER and sb in _INT_LADDER:
        return T._parse_datatype_string(
            _INT_LADDER[max(_INT_LADDER.index(sa), _INT_LADDER.index(sb))])
    if {sa, sb} == {"float", "double"}:
        return T.DoubleType()
    for i, f in ((sa, sb), (sb, sa)):
        if (i, f) in _EXACT_INT_IN_FLOAT:
            return T.FloatType() if f == "float" else T.DoubleType()
        if i in _INT_LADDER and f in ("float", "double"):
            raise TypeError(
                f"column {col!r}: {i}→{f} across file generations is "
                f"lossy (the {f} significand cannot represent every "
                f"{i} value) — refusing to silently corrupt; rewrite "
                f"one generation or read them separately")
    raise TypeError(f"column {col!r}: incompatible types across file "
                    f"generations ({sa} vs {sb})")


def read_evolved(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Read several parquet generations of one logical table whose
    schema EVOLVED between writes: later files may add columns or
    widen numeric types.

    Spark's ``mergeSchema`` refuses int→bigint drift between files;
    this reader instead unifies footers driver-side (column order =
    first sight, numeric widening per :func:`_widen`), then casts and
    null-fills each generation and unions by name.  Footer listing is
    metadata-only — the data scan still prunes columns/filters per
    generation, so evolving a 100 TB table never forces a rewrite of
    the old files.
    """
    from functools import reduce

    from pyspark.sql import functions as F

    if not paths:
        raise ValueError("read_evolved: no paths")
    gens = [spark.read.parquet(p) for p in paths]
    unified: dict[str, T.DataType] = {}
    for g in gens:
        for f in g.schema.fields:
            unified[f.name] = (_widen(unified[f.name], f.dataType, f.name)
                               if f.name in unified else f.dataType)
    aligned = []
    for g in gens:
        have = dict(g.dtypes)
        cols = [
            (F.col(n).cast(t) if have[n] != t.simpleString() else F.col(n))
            .alias(n) if n in have else F.lit(None).cast(t).alias(n)
            for n, t in unified.items()
        ]
        aligned.append(g.select(*cols))
    return reduce(lambda a, b: a.unionByName(b), aligned)


def read_jdbc(spark: SparkSession, url: str, table: str,
              partition_column: str | None = None,
              num_partitions: int = 8,
              lower_bound: int | None = None,
              upper_bound: int | None = None,
              properties: dict[str, str] | None = None) -> DataFrame:
    """S7 JDBC source boundary (staging_dag.py:30-33 equivalent).

    Thin wrapper so callers get *partitioned* JDBC reads by default —
    an unpartitioned JDBC scan funnels the whole table through one
    task, the classic ingestion bottleneck.  Exercised end-to-end
    against embedded Derby (in-process JDBC, shipped with pyspark) in
    ``tests/test_sources.py::test_jdbc_roundtrip_embedded_derby``,
    including the partitioned scan and predicate pushdown; the same
    wrapper pointed at Postgres reproduces the reference's boundary.
    """
    reader = (spark.read.format("jdbc")
              .option("url", url).option("dbtable", table))
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    if partition_column is not None:
        reader = (reader.option("partitionColumn", partition_column)
                  .option("numPartitions", str(num_partitions))
                  .option("lowerBound", str(lower_bound or 0))
                  .option("upperBound", str(upper_bound or 1_000_000)))
    return reader.load()
