"""Property-based tests (hypothesis) for the engine's determinism
contracts:

1. dsum/lsum cross-engine parity — random cent-valued money summed
   in any order through Spark's exact paths must equal DuckDB's, bit
   for bit (the rounding twins themselves: tests/test_rounding.py).
2. SCD2 merge invariants under random staged mutations.

Each property batches all hypothesis examples into ONE Spark job
(hypothesis drives data generation; Spark round-trips once) to keep
runtime sane.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F

cents = st.integers(min_value=-10**7, max_value=10**7)


@settings(max_examples=20, deadline=None)
@given(st.lists(cents, min_size=1, max_size=200))
def test_decimal_sum_is_order_independent_and_matches_duckdb(cent_list):
    """sum(CAST(x AS DECIMAL(18,4))) must be exact: equal to the integer
    cent sum, in any order, in DuckDB — the property the engine's money
    aggregation relies on (functions/rounding.dsum)."""
    xs = [c / 100.0 for c in cent_list]
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"x": xs}))
    fwd = con.execute(
        "SELECT CAST(sum(CAST(x AS DECIMAL(18,4))) AS DOUBLE) FROM t").fetchone()[0]
    rev = con.execute(
        "SELECT CAST(sum(CAST(x AS DECIMAL(18,4))) AS DOUBLE) "
        "FROM (SELECT x FROM t ORDER BY x DESC)").fetchone()[0]
    exact = sum(cent_list) / 100.0
    assert fwd == rev == exact


def test_spark_dsum_matches_duckdb_on_random_batch(spark):
    """One Spark round-trip over a hypothesis-style random batch: the
    engine's dsum == DuckDB's decimal sum == exact cent arithmetic."""
    import random

    rng = random.Random(42)
    rows = [(i % 7, rng.randint(-10**7, 10**7) / 100.0) for i in range(5000)]
    df = spark.createDataFrame(rows, "k int, x double")
    from ecommerce_data_engineering_spark.functions.rounding import dsum

    got = {r.k: r.s for r in
           df.groupBy("k").agg(dsum(F.col("x"), 4).alias("s")).collect()}
    con = duckdb.connect()
    con.register("t", pd.DataFrame(rows, columns=["k", "x"]))
    want = {k: v for k, v in con.execute(
        "SELECT k, CAST(sum(CAST(x AS DECIMAL(18,4))) AS DOUBLE) FROM t GROUP BY k"
    ).fetchall()}
    assert got == want


def test_spark_lsum_matches_dsum_and_duckdb_on_random_batch(spark):
    """The scaled-long fast path (functions/rounding.lsum) must be
    cell-for-cell identical to the decimal path AND to its own DuckDB
    SQL twin on random fixed-point money, incl. negatives and repeated
    keys — the bit-compatibility the bench-query conversion relies
    on."""
    import random

    rng = random.Random(43)
    rows = [(i % 7, rng.randint(-10**9, 10**9) / 100.0) for i in range(5000)]
    df = spark.createDataFrame(rows, "k int, x double")
    from ecommerce_data_engineering_spark.functions.rounding import (
        dsum, lsum, lsum_sql)

    got = {r.k: (r.ls, r.ds) for r in
           df.groupBy("k").agg(lsum(F.col("x")).alias("ls"),
                               dsum(F.col("x")).alias("ds")).collect()}
    assert all(ls == ds for ls, ds in got.values())
    con = duckdb.connect()
    con.register("t", pd.DataFrame(rows, columns=["k", "x"]))
    want = {k: v for k, v in con.execute(
        f"SELECT k, {lsum_sql('x')} FROM t GROUP BY k").fetchall()}
    assert {k: ls for k, (ls, _) in got.items()} == want


def test_lsum_wide_matches_narrow_and_duckdb_and_survives_wrap(spark):
    """The hi/lo split sum (rounding.lsum_wide) must (a) agree bit-for-
    bit with the unsplit scaled-long product sum AND its DuckDB twin on
    realistic money products, and (b) stay correct where the unsplit
    BIGINT sum silently wraps past 2^63 — the overflow headroom the
    100 TB global aggregates rely on."""
    import random

    from ecommerce_data_engineering_spark.functions.rounding import (
        lsum_wide, lsum_wide_sql, to_scaled_long, to_scaled_long_sql)

    rng = random.Random(7)
    rows = [(i % 5, rng.randint(0, 10**7) / 100.0, rng.randint(0, 10) / 100.0)
            for i in range(4000)]
    df = spark.createDataFrame(rows, "k int, ep double, disc double")
    term = to_scaled_long(F.col("ep")) * (F.lit(100)
                                          - to_scaled_long(F.col("disc")))
    got = {r.k: (r.wide, r.narrow) for r in
           df.groupBy("k")
             .agg(lsum_wide(term, 4).alias("wide"),
                  (F.sum(term) / F.lit(10_000.0)).alias("narrow"))
             .collect()}
    assert all(w == n for w, n in got.values()), got
    con = duckdb.connect()
    con.register("t", pd.DataFrame(rows, columns=["k", "ep", "disc"]))
    t_sql = (f"{to_scaled_long_sql('ep')} * "
             f"(100 - {to_scaled_long_sql('disc')})")
    want = dict(con.execute(
        f"SELECT k, {lsum_wide_sql(t_sql, 4)} FROM t GROUP BY k").fetchall())
    assert {k: w for k, (w, _) in got.items()} == want

    # overflow regime: 12 rows of 9e17 sum to 1.08e19 > 2^63 — under
    # this engine's ANSI mode the unsplit long sum ABORTS the query
    # (ARITHMETIC_OVERFLOW; with ansi off it would wrap silently);
    # either way a 100 TB global aggregate must not do that — the
    # split sum stays on the true value
    import pytest as _pytest
    from pyspark.errors.exceptions.captured import ArithmeticException

    big = spark.createDataFrame([(9 * 10**17,)] * 12, "t long")
    with _pytest.raises(ArithmeticException):
        big.agg(F.sum("t").alias("narrow")).collect()
    r = big.agg(lsum_wide(F.col("t"), 0).alias("wide")).collect()[0]
    true = 12 * 9e17
    assert abs(r.wide - true) / true < 1e-9   # split sum survives


def test_scd2_random_mutations_property(spark):
    """Random tracked-attribute mutations: after any merge, exactly one
    current row per key, closed rows precede their replacement, and
    unchanged keys keep their original effective_date."""
    import random

    rng = random.Random(7)
    keys = [f"K{i}" for i in range(200)]
    dim_rows = [(k, rng.choice("ABC"), rng.choice("XY"),
                 "2024-01-01", "9999-12-31", True) for k in keys]
    stg_rows = []
    mutated = set()
    for k, seg, city, *_ in dim_rows:
        if rng.random() < 0.3:
            mutated.add(k)
            stg_rows.append((k, seg + "!", city))
        else:
            stg_rows.append((k, seg, city))
    new_keys = [f"N{i}" for i in range(30)]
    stg_rows += [(k, "A", "X") for k in new_keys]

    from ecommerce_data_engineering_spark.operators.scd2 import scd2_merge

    dim = spark.createDataFrame(
        dim_rows, "customer_id string, segment string, city string, "
                  "effective_date string, expiry_date string, is_current boolean"
    ).select("customer_id", "segment", "city",
             F.col("effective_date").cast("date").alias("effective_date"),
             F.col("expiry_date").cast("date").alias("expiry_date"),
             "is_current")
    stg = spark.createDataFrame(
        stg_rows, "customer_id string, segment string, city string")
    out = scd2_merge(dim, stg, "customer_id", ["segment", "city"],
                     as_of_date="2024-06-01").cache()

    assert (out.filter("is_current").groupBy("customer_id").count()
            .filter("count <> 1").count()) == 0
    assert out.count() == len(keys) + len(mutated) + len(new_keys)
    closed = {r.customer_id for r in out.filter("NOT is_current").collect()}
    assert closed == mutated
    untouched = (out.filter("is_current")
                 .filter(F.col("customer_id").isin(list(set(keys) - mutated)))
                 .filter(F.col("effective_date") != "2024-01-01").count())
    assert untouched == 0
    out.unpersist()


@given(st.lists(st.floats(min_value=0.0, max_value=1.0,
                          allow_nan=False), min_size=2, max_size=6),
       st.integers(min_value=0, max_value=10**6))
@settings(max_examples=200, deadline=None)
def test_sampling_threshold_encoding_properties(fracs, key):
    """Hash-threshold sampling encode invariants (pure Python):
    monotone in the fraction, exact at the edges, and the DuckDB SQL
    twin emits the same thresholds as the Spark predicate builder."""
    import hashlib

    from ecommerce_data_engineering_spark.operators.sampling import (
        sql_sample_predicate, threshold_hex)

    # monotonicity: larger fraction → lexicographically ≥ threshold
    fs = sorted(fracs)
    ts = [threshold_hex(f) for f in fs]
    concrete = [t if t is not None else "g" for t in ts]  # None = keep-all
    assert concrete == sorted(concrete)
    assert threshold_hex(0.0) == "00000000"
    assert threshold_hex(1.0) is None

    # cross-engine agreement: membership computed in pure Python with
    # hashlib equals what both engine predicates express
    frac = fs[-1]
    thr = threshold_hex(frac)
    digest = hashlib.md5(f"0:{key}".encode()).hexdigest()[:8]
    member = True if thr is None else digest < thr
    sql = sql_sample_predicate("doc_id", frac, seed=0)
    assert (sql == "TRUE") == (thr is None)
    if thr is not None:
        assert f"< '{thr}'" in sql
        # the sampled fraction of the hash space equals frac to 2^-32
        assert abs(int(thr, 16) / (1 << 32) - frac) <= 2 ** -32 + 1e-12
    assert member in (True, False)


@pytest.mark.parametrize("sf", ["/root/testdata/sf0.001",
                                "/root/testdata/sf0.01",
                                "/root/testdata/sf0.1"])
def test_approx_distinct_users_error_bound(spark, sf):
    """Quantitative backing for the rows-only approx_distinct_users
    driver row (VERDICT r02 #4): per event_type, the HLL++ estimate at
    rsd=0.02 must sit within 4 sigma (8%) of exact COUNT(DISTINCT),
    and the exact-count companion column must match exactly — across
    all three fixture scales, like the ANN recall tests."""
    import os

    from pyspark.sql import functions as F

    from ecommerce_data_engineering_spark.plans import REGISTRY
    from ecommerce_data_engineering_spark.sources import load

    if not os.path.isdir(sf):
        pytest.skip(f"{sf} not generated this round")
    result = {r.event_type: r for r in REGISTRY["approx_distinct_users"]
              .fn(spark, sf).collect()}
    # the raw estimate left the query output in r4 (unhashable
    # cross-engine); recompute it here to keep the quantitative bound
    est = {r.event_type: r.est for r in
           load(spark, sf, "events").groupBy("event_type")
           .agg(F.approx_count_distinct("user_id", 0.02).alias("est"))
           .collect()}
    exact = {r.event_type: r for r in
             load(spark, sf, "events").groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("exact_users"),
                  F.count(F.lit(1)).alias("n_events")).collect()}
    assert set(result) == set(exact) == set(est) and len(exact) > 0
    for et, row in exact.items():
        rel_err = abs(est[et] - row.exact_users) / max(row.exact_users, 1)
        assert rel_err <= 0.08, (sf, et, est[et], row.exact_users, rel_err)
        assert result[et].exact_users == row.exact_users
        assert result[et].n_events == row.n_events
        assert result[et].within_5pct == 1, (sf, et, est[et], row.exact_users)


@pytest.mark.parametrize("sf", ["/root/testdata/sf0.001",
                                "/root/testdata/sf0.01",
                                "/root/testdata/sf0.1"])
def test_approx_percentiles_rank_error_bound(spark, sf):
    """Quantitative backing for the order_value_percentiles_approx
    driver row (r5: the row now emits EXACT percentiles plus a
    Spark-computed ``within_rank_eps`` flag): (a) the flag is 1 on
    every fixture scale; (b) independently of the query, the raw
    percentile_approx sketch values satisfy the GK rank guarantee —
    with accuracy=10000 each returned value's rank interval must
    overlap [(q−ε)·N − 1, (q+ε)·N + 1]."""
    import os

    from pyspark.sql import functions as F

    from ecommerce_data_engineering_spark.plans import REGISTRY
    from ecommerce_data_engineering_spark.sources import load

    if not os.path.isdir(sf):
        pytest.skip(f"{sf} not generated this round")
    eps = 1.0 / 10_000
    out = {r.order_status: r for r in
           REGISTRY["order_value_percentiles_approx"]
           .fn(spark, sf).collect()}
    assert len(out) > 0
    assert all(r.within_rank_eps == 1 for r in out.values()), out

    o = load(spark, sf, "orders")
    approx = {r.order_status: r for r in
              o.groupBy(F.col("o_orderstatus").alias("order_status"))
              .agg(F.percentile_approx("o_totalprice", F.lit(0.5),
                                       F.lit(10_000)).alias("a50"),
                   F.percentile_approx("o_totalprice", F.lit(0.9),
                                       F.lit(10_000)).alias("a90"))
              .collect()}
    for status, a in approx.items():
        c = (o.filter(F.col("o_orderstatus") == status)
             .agg(F.count(F.lit(1)).alias("n"),
                  *[F.count_if(F.col("o_totalprice") <= v).alias(f"le{n}")
                    for v, n in ((a.a50, 50), (a.a90, 90))],
                  *[F.count_if(F.col("o_totalprice") < v).alias(f"lt{n}")
                    for v, n in ((a.a50, 50), (a.a90, 90))])
             .collect()[0])
        assert out[status].n_orders == c.n
        # rank guarantee: the returned value's rank interval [n_lt, n_le]
        # must overlap [(q−ε)·N − 1, (q+ε)·N + 1] for each quantile q
        for q, le, lt in ((0.5, c.le50, c.lt50), (0.9, c.le90, c.lt90)):
            assert lt <= (q + eps) * c.n + 1, (sf, status, q, lt, c.n)
            assert le >= (q - eps) * c.n - 1, (sf, status, q, le, c.n)


@given(st.lists(st.text(alphabet="abcdefgh 0123", min_size=1, max_size=24),
                min_size=1, max_size=40, unique=True))
@settings(max_examples=30, deadline=None)
def test_minhash_universal_hash_cross_engine_parity(tokens):
    """The universal-hash MinHash (28-bit md5 base through
    (a_i*x+b_i) mod 2^31-1) must produce identical signatures from
    pure-Python md5, and the DuckDB SQL form must agree — the same
    guarantee the salted-md5 minhash had, now for the 8x-cheaper
    family."""
    import hashlib

    from ecommerce_data_engineering_spark.functions.hashing import (
        MINHASH_P, minhash_params)

    params = minhash_params(8)
    base = {t: int(hashlib.md5(t.encode()).hexdigest()[:7], 16)
            for t in tokens}
    py_sig = [min((a * base[t] + b) % MINHASH_P for t in tokens)
              for a, b in params]

    con = duckdb.connect()
    con.execute("CREATE TABLE toks(t VARCHAR)")
    con.executemany("INSERT INTO toks VALUES (?)", [(t,) for t in tokens])
    cols = ", ".join(
        f"min((CAST(('0x' || substring(md5(t), 1, 7)) AS BIGINT) * {a} + {b})"
        f" % {MINHASH_P})" for a, b in params)
    duck_sig = list(con.execute(f"SELECT {cols} FROM toks").fetchone())
    assert py_sig == duck_sig
    # the family must actually vary across i (a_i distinct, mod applied)
    assert len({a for a, _ in params}) == len(params)
    assert all(0 <= v < MINHASH_P for v in py_sig)


@given(st.lists(
    st.text(alphabet="abcdefghij XYZ.,!0123456789  ", min_size=0, max_size=400),
    min_size=1, max_size=25))
@settings(max_examples=10, deadline=None)
def test_gopher_gate_equals_gopher_quality_on_random_texts(spark, texts):
    """gopher_gate (single lambda-bound predicate) and gopher_quality
    (staged diagnostic projection) must agree on arbitrary text —
    hypothesis-driven twin check batched into one Spark round-trip per
    example set."""
    from pyspark.sql import functions as F

    from ecommerce_data_engineering_spark.operators.text import (
        gopher_gate, gopher_quality)

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    want = {r.doc_id for r in gopher_quality(df, "text", "doc_id")
            .filter(F.col("passes")).select("doc_id").collect()}
    got = {r.doc_id for r in
           df.filter(gopher_gate("text")).select("doc_id").collect()}
    assert got == want


def test_split_and_epoch_sql_twins_cross_engine_fuzz(spark):
    """Randomized Spark-vs-DuckDB evaluation of the sampling SQL twins:
    for random split dicts, stratified rates, and epoch factor maps,
    the Spark expression builders (split_column / stratified_predicate
    / epoch_factor_columns) and their sql_* twins must assign the
    identical label / membership / copy count to every id.  The
    registered curation queries exercise one fixed configuration; this
    fuzzes the builders across the parameter space (seeds included)."""
    import random

    from ecommerce_data_engineering_spark.operators import sampling as SP

    rnd = random.Random(20260814)
    rows = [(f"doc{i}", f"src{i % 5}") for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id string, source string")
    con = duckdb.connect()
    vals = ", ".join(f"('{d}', '{s}')" for d, s in rows)
    con.execute(f"CREATE TABLE t AS SELECT * FROM (VALUES {vals}) "
                f"AS v(doc_id, source)")

    for _ in range(4):
        seed = rnd.randrange(10 ** 6)

        fr = [rnd.random() + 0.01 for _ in range(3)]
        scale = sum(fr) * (1.0 + rnd.random())          # cum stays < 1
        splits = {lbl: f / scale for lbl, f in zip("abc", fr)}
        got = {r.doc_id: r.s for r in df.select(
            "doc_id",
            SP.split_column("doc_id", splits, seed).alias("s")).collect()}
        exp = dict(con.execute(
            f"SELECT doc_id, {SP.sql_split_case('doc_id', splits, seed)} "
            f"FROM t").fetchall())
        assert got == exp

        rates = {f"src{k}": rnd.choice([0.0, 0.2, 0.5, 0.9, 1.0])
                 for k in range(4)}                      # src4 → default
        default = rnd.choice([0.0, 0.3, 1.0])
        got = {r.doc_id: r.m for r in df.select(
            "doc_id",
            SP.stratified_predicate("doc_id", "source", rates,
                                    default, seed).alias("m")).collect()}
        exp = {d: bool(m) for d, m in con.execute(
            f"SELECT doc_id, {SP.sql_stratified_predicate('doc_id', 'source', rates, default, seed)} "
            f"FROM t").fetchall()}
        assert got == exp

        # 2.9999999996: fractional part rounds to 1.0 — must behave as
        # factor 3 on BOTH engines (the threshold_hex-None guard)
        factors = {f"src{k}": rnd.choice([0.0, 0.5, 1.0, 1.5, 2.5, 3.25,
                                          2.9999999996])
                   for k in range(4)}
        got = {r.doc_id: r.n for r in df.select(
            "doc_id",
            SP.epoch_factor_columns("doc_id", "source", factors,
                                    1.0, seed).alias("n")).collect()}
        exp = dict(con.execute(
            f"SELECT doc_id, {SP.sql_epoch_factor('doc_id', 'source', factors, 1.0, seed)} "
            f"FROM t").fetchall())
        assert got == exp


@given(st.lists(
    st.text(alphabet=("abcXYZ \t\n\x0b\x0c\r  ,.!?-_0123456789"
                      "éßÑ漢字🙂"),
            min_size=0, max_size=300),
    min_size=1, max_size=25))
@settings(max_examples=10, deadline=None)
def test_bpe_token_count_equals_extract_all_on_random_texts(spark, texts):
    """bpe_token_count (translate/length arithmetic + one greedy-run
    regexp_count) must be bit-equal to the definitional
    size(regexp_extract_all(text, BPE_ISH_PATTERN, 0)) on arbitrary
    text — including non-ASCII letters (single 'other' tokens), Java
    \\s whitespace (separators), and NON-\\s unicode whitespace like
    \\u00a0/\\u2028 (which the pattern counts as 'other' tokens and the
    arithmetic must too), plus astral-plane emoji (surrogate pairs:
    length()/translate()/regex must agree on code-point counting)."""
    from pyspark.sql import functions as F

    from ecommerce_data_engineering_spark.functions.tokens import (
        BPE_ISH_PATTERN, bpe_token_count)

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    rows = df.select(
        "doc_id",
        bpe_token_count(F.col("text")).cast("long").alias("fast"),
        F.size(F.regexp_extract_all(
            F.col("text"), F.lit(BPE_ISH_PATTERN), 0))
         .cast("long").alias("definitional"),
    ).collect()
    assert rows and all(r.fast == r.definitional for r in rows), [
        (r.doc_id, texts[r.doc_id], r.fast, r.definitional)
        for r in rows if r.fast != r.definitional]
