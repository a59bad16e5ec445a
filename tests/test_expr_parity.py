"""Pins the r11 construction-cost rewrites: kernels that were moved
from Column-API Python lambdas to single ``F.expr`` SQL parses must
stay CANONICALLY IDENTICAL to the original Column-API form —
``DataFrame.sameSemantics`` compares canonicalized logical plans, so
True guarantees identical results AND identical physical plans.

Why the rewrite exists (OPTIMIZATION_r11.md, last present at commit
5c22305: the py4j boundary at plan construction): each Python-lambda
higher-order function costs dozens of py4j round-trips when the plan
is BUILT, and bench timing includes construction — plan construction
was ~1/3 of the sf0.1 bench wall.  One F.expr parse is one round-trip.  The reference implementations
below are the pre-rewrite Column-API forms, kept verbatim so a drift
in either spelling fails loudly.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ecommerce_data_engineering_spark.functions.rounding import pround
from ecommerce_data_engineering_spark.operators import similarity as S


def _optimized_same(a, b) -> bool:
    """Canonicalized OPTIMIZED-plan equality — the pin for op-chain
    collapses (withColumn+drop folded into one select): the analyzed
    plans differ in Project count, but the optimizer's CollapseProject
    made them identical before execution, so sameResult on the
    optimized plans guarantees identical physical plans and results."""
    return (a._jdf.queryExecution().optimizedPlan()
            .sameResult(b._jdf.queryExecution().optimizedPlan()))


def _emb(spark):
    return spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0]), (2, [0.5, -1.0, 2.5]), (3, [4.0, 0.0, 1.0])],
        "vec_id INT, embedding ARRAY<FLOAT>")


def _cents(spark):
    return spark.createDataFrame(
        [(0, [0.0, 0.0, 1.0]), (1, [2.0, 2.0, 2.0])],
        "cluster_id INT, embedding ARRAY<FLOAT>")


# ----- reference (pre-r11-rewrite) Column-API forms, verbatim --------------

def _dot_ref(a: str, b: str):
    return F.aggregate(
        F.zip_with(F.col(a).cast("array<double>"),
                   F.col(b).cast("array<double>"),
                   lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _with_norm_ref(df, vec_col="embedding", out_col="norm"):
    sq = F.aggregate(
        F.col(vec_col).cast("array<double>"),
        F.lit(0.0),
        lambda acc, x: acc + x * x,
    )
    return df.withColumn(out_col, F.sqrt(sq)).filter(F.col(out_col) > 0)


def _ivf_assign_ref(df, centroids, vec_col="embedding", nprobe=1):
    c_arr = (centroids.coalesce(1)
             .agg(F.collect_list(F.struct(
                 F.col("cluster_id"),
                 F.col(vec_col).cast("array<double>").alias("c_vec")))
                 .alias("__cents")))
    vd = F.col(vec_col).cast("array<double>")

    def d2(cv):
        diff = F.zip_with(vd, cv, lambda a, b: a - b)
        return F.aggregate(diff, F.lit(0.0), lambda acc, d: acc + d * d)

    ranked = F.array_sort(F.transform(
        F.col("__cents"),
        lambda cell: F.struct(pround(d2(cell["c_vec"]), 9).alias("d"),
                              cell["cluster_id"].alias("cluster_id"))))
    out_cols = [F.col(n) for n in df.columns]
    return (df.crossJoin(F.broadcast(c_arr))
            .select(*out_cols,
                    F.explode(F.slice(ranked, 1, nprobe)).alias("__probe"))
            .withColumn("cluster_id", F.col("__probe.cluster_id"))
            .drop("__probe"))


# ----- parity pins ----------------------------------------------------------

def test_dot_sql_text_matches_column_form(spark):
    emb = _emb(spark)
    pairs = emb.select(F.col("embedding").alias("q_vec"),
                       F.col("embedding").alias("c_vec"))
    new = pairs.select(S._dot("q_vec", "c_vec").alias("d"))
    ref = pairs.select(_dot_ref("q_vec", "c_vec").alias("d"))
    assert new.sameSemantics(ref)


def test_with_norm_sql_text_matches_column_form(spark):
    emb = _emb(spark)
    assert S.with_norm(emb).sameSemantics(_with_norm_ref(emb))


def test_ivf_assign_sql_text_matches_column_form(spark):
    emb, cents = _emb(spark), _cents(spark)
    for nprobe in (1, 2):
        new = S.ivf_assign(S.with_norm(emb), cents, nprobe=nprobe)
        ref = _ivf_assign_ref(_with_norm_ref(emb), cents, nprobe=nprobe)
        assert _optimized_same(new, ref), f"nprobe={nprobe}"
        assert new.columns == ref.columns


def _keep_previous(cents, means):
    """New centroid per cell from ``means.__new``; an empty cell keeps
    its previous centroid."""
    return (cents.select("cluster_id", F.col("embedding"))
            .join(means, "cluster_id", "left")
            .select("cluster_id",
                    F.coalesce(F.col("__new"), F.col("embedding"))
                    .alias("embedding")))


def _lloyd_posexplode_ref(emb, cents, quantize):
    """One Lloyd's step with the per-cell mean over posexplode rows:
    groupBy(cluster_id, pos), then reassemble the array in pos order."""
    assigned = _ivf_assign_ref(emb.select("vec_id", "embedding"), cents)
    mean = F.avg(F.col("col").cast("double"))
    means = (assigned
             .select("cluster_id", F.posexplode("embedding"))
             .groupBy("cluster_id", "pos")
             .agg((pround(mean, quantize) if quantize is not None
                   else mean).alias("v"))
             .groupBy("cluster_id")
             .agg(F.expr("transform(array_sort(collect_list("
                         "struct(pos, v))), s -> s.v)").alias("__new")))
    return _keep_previous(cents, means)


def test_lloyd_step_mean_sql_text_matches_column_form(spark):
    from ecommerce_data_engineering_spark.operators.similarity import (
        _lloyd_step)
    emb, cents = _emb(spark), _cents(spark)

    def ref_step(quantize):
        assigned = _ivf_assign_ref(emb.select("vec_id", "embedding"), cents)
        means = [F.avg(F.col("embedding")[i].cast("double"))
                 for i in range(3)]
        if quantize is not None:
            means = [pround(m, quantize) for m in means]
        return _keep_previous(cents, assigned.groupBy("cluster_id")
                              .agg(F.array(*means).alias("__new")))

    for quantize in (9, None):
        new = _lloyd_step(emb, cents, "vec_id", "embedding", 3,
                          quantize=quantize)
        assert _optimized_same(new, ref_step(quantize)), f"q={quantize}"


def test_lloyd_step_dim_path_matches_posexplode_path(spark):
    """r12: _lloyd_step computes the per-cell mean as ``dim``
    per-position avg columns in ONE groupBy instead of posexplode ->
    two groupBys (one Exchange per Lloyd's iteration instead of two,
    no ×dim row multiplication).  The per-position averages run over
    the identical value sets and quantize with the same floor-form, so
    the trained centroids must be row-equal to the posexplode form —
    including the empty-cell keep-previous fallback (cluster 2 below
    is never nearest for this data)."""
    from ecommerce_data_engineering_spark.operators.similarity import (
        _lloyd_step)
    emb = _emb(spark)
    cents = spark.createDataFrame(
        [(0, [0.0, 0.0, 1.0]), (1, [2.0, 2.0, 2.0]),
         (2, [900.0, 900.0, 900.0])],
        "cluster_id INT, embedding ARRAY<FLOAT>")

    def step(c, quantize):
        return _lloyd_step(emb, c, "vec_id", "embedding", 3,
                           quantize=quantize)

    for quantize in (9, None):
        a = sorted(_lloyd_posexplode_ref(emb, cents, quantize).collect())
        b = sorted(step(cents, quantize).collect())
        assert a == b, f"q={quantize}: {a} vs {b}"
    # two chained iterations (the shipped PROD_TRAIN_ITERS shape)
    g2 = _lloyd_posexplode_ref(emb, _lloyd_posexplode_ref(emb, cents, 9), 9)
    f2 = step(step(cents, 9), 9)
    assert sorted(g2.collect()) == sorted(f2.collect())


def test_kmeans_wcss_sql_text_matches_column_form(spark):
    """kmeans_wcss_df's d² is ivf_assign's SQL text (_d2_sql); the plan
    must equal the Column-API lambda form it replaced."""
    emb, cents = _emb(spark), _cents(spark)
    d2 = F.aggregate(
        F.zip_with(F.col("embedding").cast("array<double>"),
                   F.col("c_vec_kept").cast("array<double>"),
                   lambda x, y: x - y),
        F.lit(0.0), lambda acc, d: acc + d * d)
    ref = (S.ivf_assign(emb.select("vec_id", "embedding"), cents)
           .join(cents.select(F.col("cluster_id"),
                              F.col("embedding").alias("c_vec_kept")),
                 "cluster_id")
           .select(d2.alias("d2"))
           .agg(F.coalesce(F.sum("d2"), F.lit(0.0)).alias("wcss")))
    assert _optimized_same(S.kmeans_wcss_df(emb, cents), ref)


def test_cosine_topk_single_project_matches_withcolumn_form(spark):
    emb = _emb(spark)
    q = _with_norm_ref(emb).select(F.col("vec_id").alias("query_id"),
                                   F.col("embedding").alias("q_vec"),
                                   F.col("norm").alias("q_norm"))
    c = _with_norm_ref(emb).select(F.col("vec_id").alias("neighbor_id"),
                                   F.col("embedding").alias("c_vec"),
                                   F.col("norm").alias("c_norm"))
    pairs = q.join(c, F.col("query_id") != F.col("neighbor_id"))
    ref_sim = (pairs
               .withColumn("cosine",
                           pround(_dot_ref("q_vec", "c_vec") /
                                  (F.col("q_norm") * F.col("c_norm")), 6))
               .select("query_id", "neighbor_id", "cosine"))
    new_sim = pairs.select(
        "query_id", "neighbor_id",
        F.expr(S._cosine_sql("q_vec", "c_vec", "q_norm", "c_norm"))
        .alias("cosine"))
    assert _optimized_same(new_sim, ref_sim)
    assert sorted(map(tuple, new_sim.collect())) == \
        sorted(map(tuple, ref_sim.collect()))


def _docs(spark):
    return spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "THE QUICK  brown fox; jumps over a lazy dog!"),
         (3, "completely different text with no overlap at all here")],
        "doc_id INT, text STRING")


def _word_shingles_ref(df, text_col, id_col, n=3):
    words = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"), lambda x: x != ""
    )
    shingle = F.expr(
        f"transform(sequence(0, size(w) - {n}), "
        f"i -> concat_ws(' ', {', '.join(f'w[i+{k}]' for k in range(n))}))"
    )
    return (df.select(F.col(id_col), words.alias("w"))
              .filter(F.size("w") >= n)
              .select(id_col,
                      F.explode(F.array_distinct(shingle)).alias("shingle")))


def _word_shingles_r10(df, text_col, id_col, n=3):
    """The pre-r11 algorithm: cross-row .distinct() after the explode —
    kept as the definitional reference for the array_distinct rewrite
    (the oracle SQL still spells DISTINCT doc_id, shingle)."""
    words = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"), lambda x: x != ""
    )
    shingle = F.expr(
        f"transform(sequence(0, size(w) - {n}), "
        f"i -> concat_ws(' ', {', '.join(f'w[i+{k}]' for k in range(n))}))"
    )
    return (df.select(F.col(id_col), words.alias("w"))
              .filter(F.size("w") >= n)
              .select(id_col, F.explode(shingle).alias("shingle"))
              .distinct())


def _minhash_cols_ref(token_col, num_hashes):
    from ecommerce_data_engineering_spark.functions.hashing import (
        MINHASH_P, minhash_params)
    h = (F.conv(F.substring(F.md5(F.col(token_col)), 1, 7), 16, 10)
         .cast("long"))
    return [
        F.min((h * F.lit(a) + F.lit(b)) % F.lit(MINHASH_P)).alias(f"mh_{i}")
        for i, (a, b) in enumerate(minhash_params(num_hashes))
    ]


def _band_structs_ref(num_hashes, bands):
    rows = num_hashes // bands
    return F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.md5(F.concat_ws(
                "|", *[f"mh_{b * rows + r}" for r in range(rows)]))
            .alias("bucket"),
        )
        for b in range(bands)
    ])


def test_word_shingles_sql_text_matches_column_form(spark):
    from ecommerce_data_engineering_spark.operators import dedup as D
    docs = _docs(spark)
    new = D.word_shingles(docs, "text", "doc_id")
    ref = _word_shingles_ref(docs, "text", "doc_id")
    assert new.sameSemantics(ref)


def test_word_shingles_array_distinct_equals_cross_row_distinct(spark):
    """r11: array_distinct INSIDE the row replaces the corpus-wide
    .distinct() Exchange.  Equivalent iff id_col uniquely keys rows —
    duplicate (id, shingle) pairs can then only come from one source
    row.  Pinned as multiset equality on texts engineered to produce
    intra-document duplicate shingles (the case the dedup exists for),
    plus empty/short/unicode edges."""
    from ecommerce_data_engineering_spark.operators import dedup as D
    docs = spark.createDataFrame(
        [(1, "a b c a b c a b c"),          # every trigram repeats
         (2, "a b c"),                       # exactly one shingle
         (3, "x y"),                         # below width -> no rows
         (4, ""),                            # empty
         (5, "Té TÉ té te te te"),  # unicode + case fold
         (6, "a  b\tc   a b c")],            # separator runs
        "doc_id INT, text STRING")
    new = D.word_shingles(docs, "text", "doc_id")
    ref = _word_shingles_r10(docs, "text", "doc_id")
    n_rows = new.count()
    assert n_rows == ref.count()
    # distinct-ness is part of the contract: no (id, shingle) repeats
    assert new.distinct().count() == n_rows
    assert new.exceptAll(ref).count() == 0
    assert ref.exceptAll(new).count() == 0


def test_simhash_token_array_distinct_equals_cross_row_distinct(spark):
    """Same r11 rewrite inside simhash: per-row token dedup must leave
    the fingerprints bit-identical to the cross-row-distinct form."""
    from ecommerce_data_engineering_spark.operators import dedup as D
    docs = spark.createDataFrame(
        [(1, "one one one two TWO three"),
         (2, "repeat repeat repeat repeat"),
         (3, "all distinct tokens here"),
         (4, "")],
        "doc_id INT, text STRING")
    words = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda x: x != "")
    tok_ref = (docs.select(F.col("doc_id"), F.explode(words).alias("token"))
               .distinct())
    tok_new = docs.select(
        F.col("doc_id"), F.explode(F.array_distinct(words)).alias("token"))
    assert tok_new.exceptAll(tok_ref).count() == 0
    assert tok_ref.exceptAll(tok_new).count() == 0
    fps = {r["doc_id"]: r["simhash"]
           for r in D.simhash(docs, "text", "doc_id").collect()}
    assert set(fps) == {1, 2, 3}   # doc 4 has no tokens -> no fingerprint
    assert all(len(v) == 16 and set(v) <= {"0", "1"} for v in fps.values())


def test_simhash_blocking_explode_equals_union_of_chunks(spark):
    """r11: simhash_near_dups (a) builds its block rows from ONE explode
    instead of a per-chunk union that re-planned the whole fingerprint
    pipeline once per branch and per self-join side, and (b) blocks on
    (chunks − max_hamming)-sized chunk COMBINATIONS instead of single
    chunks.  Both candidate sets are supersets of the true pair set, so
    the emitted pairs must be identical to the old single-chunk union
    form (the reference below).  max_hamming=2 ⇒ combination size 2 —
    a genuinely different candidate generator than the reference."""
    from ecommerce_data_engineering_spark.operators import dedup as D
    docs = spark.createDataFrame(
        [(i, f"shared words everywhere plus doc{i % 3} marker token")
         for i in range(12)],
        "doc_id INT, text STRING")
    fp = D.simhash(docs, "text", "doc_id")
    new = D.simhash_near_dups(fp, "doc_id", 16, max_hamming=2, chunks=4)

    # union-of-chunks reference (the pre-r11 shape), verified row-equal
    clen = 4
    blocked = None
    for cidx in range(4):
        piece = fp.select(
            F.col("doc_id"), F.col("simhash"),
            F.lit(cidx).alias("chunk"),
            F.substring("simhash", cidx * clen + 1, clen).alias("ckey"))
        blocked = piece if blocked is None else blocked.unionByName(piece)
    a = blocked.select("chunk", "ckey", F.col("doc_id").alias("id_a"),
                       F.col("simhash").alias("sh_a"))
    b = blocked.select("chunk", "ckey", F.col("doc_id").alias("id_b"),
                       F.col("simhash").alias("sh_b"))
    pairs = (a.join(b, ["chunk", "ckey"])
              .filter(F.col("id_a") < F.col("id_b"))
              .select("id_a", "id_b", "sh_a", "sh_b").distinct())
    ham = F.expr(
        "size(filter(sequence(1, length(sh_a)), "
        "i -> substring(sh_a, i, 1) <> substring(sh_b, i, 1)))")
    ref = (pairs.withColumn("hamming", ham)
                .filter(F.col("hamming") <= 2)
                .select("id_a", "id_b", "hamming"))
    assert new.exceptAll(ref).count() == 0
    assert ref.exceptAll(new).count() == 0
    assert new.count() > 0   # fixture actually produces pairs


def test_minhash_cols_sql_text_matches_column_form(spark):
    from ecommerce_data_engineering_spark.functions.hashing import (
        minhash_cols)
    from ecommerce_data_engineering_spark.operators import dedup as D
    sh = _word_shingles_ref(_docs(spark), "text", "doc_id")
    new = sh.groupBy("doc_id").agg(*minhash_cols("shingle", 8))
    ref = sh.groupBy("doc_id").agg(*_minhash_cols_ref("shingle", 8))
    assert new.sameSemantics(ref)


def test_lsh_band_structs_sql_text_matches_column_form(spark):
    from ecommerce_data_engineering_spark.operators import dedup as D
    sh = _word_shingles_ref(_docs(spark), "text", "doc_id")
    sig = sh.groupBy("doc_id").agg(*_minhash_cols_ref("shingle", 8))
    new = D.lsh_candidate_pairs(sig, "doc_id", 8, 4, 50)
    banded_ref = (sig
                  .select(F.col("doc_id"),
                          F.explode(_band_structs_ref(8, 4)).alias("bb"))
                  .select("doc_id", F.col("bb.band").alias("band"),
                          F.col("bb.bucket").alias("bucket")))
    from pyspark.sql import Window
    sized_ref = banded_ref.withColumn(
        "bsize",
        F.count(F.lit(1)).over(Window.partitionBy("band", "bucket"))
    ).filter(F.col("bsize") <= 50)
    a = sized_ref.select("band", "bucket", F.col("doc_id").alias("id_a"))
    b = sized_ref.select("band", "bucket", F.col("doc_id").alias("id_b"))
    ref = (a.join(b, ["band", "bucket"])
           .filter(F.col("id_a") < F.col("id_b"))
           .select("id_a", "id_b").distinct())
    assert new.sameSemantics(ref)


def test_ivf_assign_values_unchanged(spark):
    """Belt-and-braces on top of sameSemantics: executed rows match."""
    emb, cents = _emb(spark), _cents(spark)
    new = S.ivf_assign(S.with_norm(emb), cents, nprobe=2)
    ref = _ivf_assign_ref(_with_norm_ref(emb), cents, nprobe=2)
    assert sorted(map(tuple, new.collect())) == \
        sorted(map(tuple, ref.collect()))


def test_ivf_assign_takes_exactly_one_centroid_form(spark):
    """``prefolded`` replaces ``centroids`` rather than overriding it:
    passing both (a fold of possibly another table) or neither is
    rejected, and the prefolded form assigns the same cells."""
    emb, cents = _emb(spark), _cents(spark)
    folded = S.fold_centroids(cents)
    with pytest.raises(ValueError, match="exactly one"):
        S.ivf_assign(S.with_norm(emb), cents, prefolded=folded)
    with pytest.raises(ValueError, match="exactly one"):
        S.ivf_assign(S.with_norm(emb))
    new = S.ivf_assign(S.with_norm(emb), prefolded=folded, nprobe=2)
    ref = S.ivf_assign(S.with_norm(emb), cents, nprobe=2)
    assert sorted(map(tuple, new.collect())) == \
        sorted(map(tuple, ref.collect()))
