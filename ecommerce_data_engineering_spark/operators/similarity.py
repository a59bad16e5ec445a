"""Similarity search over embedding columns (array<float>).

Cosine top-k search is one scoring step behind three candidate steps.
Each search only decides which (query, corpus) pairs are candidates;
:func:`_score_and_rank` then computes the cosine of every candidate
pair and keeps the top k per query, the same way for all three:

- ``cosine_topk`` — exact: every pair is a candidate (a broadcast
  nested-loop join).  Cost O(|Q|·|C|·d): the correctness baseline, and
  the right answer when |Q| is small and the corpus side broadcasts.
- ``lsh_cosine_topk`` — random-hyperplane sign-LSH: sign-bucket every
  vector with H pseudo-random hyperplanes per table (derived
  deterministically from md5, so the oracle can reproduce them);
  candidate = same bucket in any table, optionally within a Hamming
  radius of the query's bucket.  Cost Σ_bucket |Q_b|·|C_b|·d.
- IVF — coarse quantization: :func:`ivf_assign` stores each corpus
  vector in its nearest centroid's cell and each query probes its
  ``nprobe`` nearest cells; candidate = same cell.  The k-means
  trainer (:func:`kmeans_refine_lazy`) builds the centroids; the
  search plan is ``plans/extensions._ivf_search``.

Dot products are JVM-side ``zip_with``/``aggregate`` (no Python UDF, no
Arrow round-trip).  All arithmetic is double (floats are upcast first)
and rounded before ranking so results are deterministic and
reproducible cross-engine.
"""

from __future__ import annotations

from ..functions.rounding import half_up, pround, pround_expr
from pyspark.sql import DataFrame, Window, functions as F


def _dot_sql(a: str, b: str) -> str:
    """SQL text of the double-cast left-to-right dot product (see
    :func:`_dot`) — callers fold it into larger single-parse exprs."""
    return (f"aggregate(zip_with(CAST(`{a}` AS ARRAY<DOUBLE>), "
            f"CAST(`{b}` AS ARRAY<DOUBLE>), (x, y) -> x * y), "
            f"0.0D, (acc, x) -> acc + x)")


def _cosine_sql(a: str, b: str, na: str, nb: str) -> str:
    """pround(dot/(na·nb), 6) as ONE SQL text — the ranking cosine every
    top-k search computes (in :func:`_score_and_rank`), one parse
    instead of ~30 py4j round-trips at plan construction (r11;
    equivalence pinned in tests/test_expr_parity.py)."""
    return pround_expr(f"({_dot_sql(a, b)}) / (`{na}` * `{nb}`)", 6)


def _d2_sql(a: str, b: str) -> str:
    """Squared Euclidean distance of the ARRAY<DOUBLE> SQL expressions
    ``a`` and ``b`` as SQL text: zip_with computes the diffs, aggregate
    squares and sums them left to right — one interpreted pass each
    (a ``(x-y)*(x-y)`` lambda re-evaluates the subtraction, because
    interpreted HOF evaluation does no CSE)."""
    return (f"aggregate(zip_with({a}, {b}, (a, b) -> a - b), "
            f"0.0D, (acc, d) -> acc + d * d)")


def _dot(a: str, b: str):
    # Cast each ARRAY to double once per row (a codegen'd Cast, exact
    # for float32 inputs) instead of casting inside the lambda: HOF
    # lambdas are interpreted per ELEMENT, so the two per-element Cast
    # nodes were ~40% of the dominant candidate-scoring cost (measured
    # r11, 64x: 3M pairs x 64 dims).  Summation stays left-to-right —
    # bit-identical values.  ONE F.expr parse, not Column-API lambdas:
    # each Python-lambda HOF costs dozens of py4j round-trips at plan
    # CONSTRUCTION (the _plane_sign_bit_sql lesson); the parsed tree is
    # canonically identical (sameSemantics-pinned in tests).
    return F.expr(_dot_sql(a, b))


def with_norm(df: DataFrame, vec_col: str = "embedding",
              out_col: str = "norm") -> DataFrame:
    """L2 norm per vector, DROPPING zero-norm rows — the cosine
    front-door, not a pure projection (row counts shrink).

    Zero-norm vectors (all-zero or empty arrays) are dropped: cosine
    against them is 0/0, which Spark evaluates to NULL while DuckDB
    yields NaN — and NaN compares GREATER than everything in DuckDB's
    ORDER BY/`>=`, so the two engines would rank/filter such pairs
    differently.  Excluding them up front (mirrored by the oracles'
    ``HAVING sum(x*x) > 0``) makes every downstream cosine defined and
    cross-engine exact.  Fixture corpora contain none, so results are
    unchanged there; the semantics are pinned by
    test_zero_norm_vectors_excluded_from_similarity."""
    # One interpreted pass (acc + x*x over the row-level double cast)
    # instead of transform-then-aggregate: same elements, same
    # left-to-right order, no intermediate squared array — bit-identical
    # and ~2x fewer interpreted node evals (r11, guide §1.2 step 2).
    # One F.expr parse (not Column-API lambdas) for the same
    # construction-cost reason as _dot; tree sameSemantics-identical.
    sq = F.expr(
        f"aggregate(CAST(`{vec_col}` AS ARRAY<DOUBLE>), "
        f"0.0D, (acc, x) -> acc + x * x)")
    return df.withColumn(out_col, F.sqrt(sq)).filter(F.col(out_col) > 0)


def _side(df: DataFrame, role: str, *keys, id_col: str = "vec_id",
          vec_col: str = "embedding") -> DataFrame:
    """One side of :func:`_score_and_rank` from a :func:`with_norm`'d
    frame: ``(query_id, q_vec, q_norm, keys…)`` for ``role="query"``,
    ``(neighbor_id, c_vec, c_norm, keys…)`` for ``role="neighbor"``."""
    p = "q" if role == "query" else "c"
    return df.select(F.col(id_col).alias(f"{role}_id"),
                     F.col(vec_col).alias(f"{p}_vec"),
                     F.col("norm").alias(f"{p}_norm"), *keys)


def _score_and_rank(q: DataFrame, c: DataFrame, k: int,
                    dedup: bool = False) -> DataFrame:
    """The scoring step every cosine top-k search shares: pair the
    query side with the corpus side (:func:`_side`) on their common key
    columns — every pair when they have none, the exact search — drop
    self pairs, compute the cosine in ONE projection, and keep the top
    ``k`` per query by cosine descending, then ``neighbor_id``.

    Returns (query_id, neighbor_id, cosine, rn).  ``dedup`` drops a
    pair met under more than one key (multi-table LSH); the cosine is a
    function of the pair, so the surviving row is the same whichever
    copy is kept.  One projection, not withColumn-then-select: every
    DataFrame op re-analyzes the whole tree eagerly, so fewer ops mean
    cheaper construction (r11; the optimized plan is pinned identical in
    tests/test_expr_parity.py)."""
    keys = [n for n in q.columns if n not in ("query_id", "q_vec", "q_norm")]
    other = F.col("query_id") != F.col("neighbor_id")
    pairs = q.join(c, keys).filter(other) if keys else q.join(c, other)
    sim = pairs.select(
        "query_id", "neighbor_id",
        F.expr(_cosine_sql("q_vec", "c_vec", "q_norm", "c_norm"))
        .alias("cosine"))
    if dedup:
        sim = sim.dropDuplicates(["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (sim.withColumn("rn", F.row_number().over(w))
               .filter(F.col("rn") <= k))


def cosine_topk(corpus: DataFrame, queries: DataFrame, k: int,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact top-k cosine neighbors for each query vector: every
    (query, corpus) pair is a candidate.

    Returns (query_id, neighbor_id, cosine, rn).  Ranking is on
    pround(cos, 6) with neighbor-id tiebreak → engine-independent.
    """
    return _score_and_rank(
        _side(with_norm(queries, vec_col), "query",
              id_col=id_col, vec_col=vec_col),
        _side(with_norm(corpus, vec_col), "neighbor",
              id_col=id_col, vec_col=vec_col), k)


def rademacher_weights(num_planes: int, dim: int) -> list[list[float]]:
    """±1 plane weights, weight_j of plane p = +1 iff the first hex
    nibble of md5("p_j") is >= 8.

    Derived ONCE driver-side (hashlib.md5 of an ASCII string is
    bit-identical to every engine's md5), then inlined as literals —
    the signature expression itself never hashes anything at runtime.
    """
    import hashlib

    return [
        [1.0 if int(hashlib.md5(f"{p}_{j}".encode()).hexdigest()[0], 16) >= 8
         else -1.0 for j in range(dim)]
        for p in range(num_planes)
    ]


def _plane_sign_bit_sql(vec_col: str, ws: list[float], dim: int) -> str:
    """SQL text of one hyperplane sign bit ('1'/'0').

    Emitted as SQL TEXT so callers can fold a whole H-plane signature
    into a single ``F.expr`` parse: the Column-API form (``F.array``
    of 64 ``F.lit`` weights + ``zip_with``/``aggregate`` lambdas)
    costs ~130 py4j round-trips per plane in classic mode
    (``F.lit(list)`` loops element-wise internally), which made plan
    CONSTRUCTION — not execution — the dominant cost of the sign-LSH
    bench queries.  The sign is taken of the dot product rounded with
    :func:`pround_expr` at 1e-9, as the oracles round it."""
    lits = ",".join(repr(w) + "D" for w in ws)
    # array-level CAST outside the lambda (r11): HOF lambdas are
    # interpreted per element, so the old per-element CAST(x AS
    # DOUBLE) paid one extra node eval per (row, plane, dim); the
    # float->double widening is exact either way — identical bits
    dot = (f"aggregate(zip_with("
           f"CAST(slice(`{vec_col}`, 1, {dim}) AS ARRAY<DOUBLE>),"
           f" array({lits}), (x, w) -> x * w),"
           f" 0.0D, (acc, x) -> acc + x)")
    return f"CASE WHEN {pround_expr(dot, 9)} > 0 THEN '1' ELSE '0' END"


def _signature_sql(vec_col: str, weights: list[list[float]],
                   dim: int) -> str:
    """SQL text of the '0'/'1' signature over ``weights``' planes."""
    return "concat(" + ",".join(_plane_sign_bit_sql(vec_col, ws, dim)
                                for ws in weights) + ")"


def lsh_cosine_topk(corpus: DataFrame, queries: DataFrame, k: int, dim: int,
                    num_planes: int = 6, id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    probe_hamming: int = 0, num_tables: int = 1) -> DataFrame:
    """Approximate top-k by random-hyperplane sign-LSH: exact cosine
    restricted to pairs that share a bucket.  Two orthogonal recall
    knobs:

    - ``num_tables=L``: L independent hyperplane sets; table t uses
      planes t·H..t·H+H-1 of :func:`rademacher_weights`, so table 0 IS
      the single-table search and more tables can only add candidates.
      A near neighbor only has to agree on one table's H planes.  Each
      side becomes one (id, table, bucket) row per table — the corpus
      is still scanned once — and candidate volume grows linearly in L.
      A pair can meet in several tables, so it is deduplicated (only
      then: with one table a vector has one bucket).
    - ``probe_hamming=r``: each QUERY additionally probes every bucket
      within Hamming distance r of its signature in each table (every
      subset of ≤ r bit flips), recovering neighbors that fell just
      across one or two hyperplanes.  Candidate volume grows
      ×Σ_{i≤r} C(H,i) on the QUERY side only, never a second corpus
      pass.  r is capped at H (flipping every bit) where the probe set
      is the whole keyspace.  The probe buckets are distinct, so a
      vector's one bucket per table matches at most one of them.

    Weights are precomputed literals, and each side's whole signature
    stack is ONE expression parse.
    """
    from itertools import combinations

    weights = rademacher_weights(num_tables * num_planes, dim)
    sigs = [_signature_sql(vec_col, weights[t * num_planes:
                                            (t + 1) * num_planes], dim)
            for t in range(num_tables)]
    if num_tables == 1:
        buckets = [F.expr(sigs[0]).alias("bucket")]
    else:
        buckets = [F.inline(F.expr("array(" + ",".join(
            f"named_struct('table', {t}, 'bucket', {sig})"
            for t, sig in enumerate(sigs)) + ")"))]

    qb = _side(with_norm(queries, vec_col), "query", *buckets,
               id_col=id_col, vec_col=vec_col)
    if probe_hamming >= 1:
        def flipped(positions: tuple[int, ...]):
            out, cursor = [], 0
            for p in positions:
                if p > cursor:
                    out.append(F.substring("bucket", cursor + 1, p - cursor))
                out.append(
                    F.when(F.substring("bucket", p + 1, 1) == "1",
                           F.lit("0")).otherwise(F.lit("1")))
                cursor = p + 1
            if cursor < num_planes:
                out.append(F.substring("bucket", cursor + 1,
                                       num_planes - cursor))
            return F.concat(*out)

        radius = min(probe_hamming, num_planes)
        flips = [flipped(combo)
                 for r in range(1, radius + 1)
                 for combo in combinations(range(num_planes), r)]
        qb = (qb.withColumn("bucket",
                            F.explode(F.array(F.col("bucket"), *flips))))
    cb = _side(with_norm(corpus, vec_col), "neighbor", *buckets,
               id_col=id_col, vec_col=vec_col)
    return _score_and_rank(qb, cb, k, dedup=num_tables > 1)


def fold_centroids(centroids: DataFrame,
                   vec_col: str = "embedding") -> DataFrame:
    """The k-row centroid table folded into ONE array row — the form
    :func:`ivf_assign` broadcasts.  Exposed (r12) so a plan with
    several assignments over the SAME trained table builds the fold
    once and passes it via ``prefolded`` (each fold chain costs py4j
    round-trips at construction; the folded trees were already
    identical, so runtime plans are unchanged)."""
    return (centroids.coalesce(1)
            .agg(F.expr(f"collect_list(struct(cluster_id, "
                        f"CAST(`{vec_col}` AS ARRAY<DOUBLE>) AS c_vec))")
                 .alias("__cents")))


def ivf_assign(df: DataFrame, centroids: DataFrame | None = None,
               id_col: str = "vec_id", vec_col: str = "embedding",
               nprobe: int = 1,
               prefolded: DataFrame | None = None) -> DataFrame:
    """IVF coarse quantization: assign every vector to its ``nprobe``
    nearest centroids (one output row per probed cell).

    Pass exactly one of ``centroids`` and ``prefolded`` (the
    :func:`fold_centroids` form of the same table); passing both would
    let a fold of a different table silently win, so it raises
    ``ValueError``.

    ``centroids`` is a tiny (cluster_id, centroid vector) table.  It is
    folded into ONE array row (``coalesce(1)`` first, so the k-row
    aggregate needs no SinglePartition exchange), broadcast, and each
    vector ranks the k cells with a pure per-row expression:
    ``array_sort`` over (pround(d2, 9), cluster_id) structs, then
    ``slice``+``explode`` of the first ``nprobe``.  One pass over the
    corpus, cost |corpus|·K·d — and, since r11, ZERO shuffle: the
    r1–r10 form ranked with ``row_number`` over a per-vector window,
    whose Exchange moved |corpus|·K rows each carrying TWO d-float
    vectors (measured 64x: 4M rows / ~4.2 GB, 40 s of map-side
    serialize CPU — the single largest stage of the ANN plan; guide
    §2.4 "remove shuffles outright").  ``array_sort`` on the struct
    compares (d, cluster_id) ascending — exactly the old window's
    ORDER BY, so the selected cells are identical row for row; explode
    of the sliced array yields one row per probed cell and drops rows
    only when the centroid table is empty, matching the old crossJoin.

    Corpus vectors are stored with nprobe=1 (each lives in ONE cell);
    queries probe nprobe>1 cells at search time — the standard IVF
    recall knob, paid per query, never as corpus duplication.

    pround (floor-form), NOT F.round: the oracle CTEs rank on
    pround_sql(d2, 9) while F.round is BigDecimal HALF_UP on the
    double's decimal string — the two can disagree on d2 values near
    a .5e-9 boundary, and once training reads assignments (r9), a
    single flipped row cascades into different trained centroids and
    a full digest mismatch (ADVICE r9, medium).  One shared formula,
    both engines.
    """
    if (centroids is None) == (prefolded is None):
        raise ValueError(
            "ivf_assign: pass exactly one of centroids and prefolded")
    c_arr = (prefolded if prefolded is not None
             else fold_centroids(centroids, vec_col))
    # The whole ranked expression is ONE F.expr parse: the Column-API
    # form (nested transform/zip_with/aggregate Python lambdas) cost
    # ~200 py4j round-trips per ivf_assign — ×4 per ANN plan (corpus,
    # query, one per Lloyd step), making plan CONSTRUCTION ~1/3 of the
    # sf0.1 wall.  The parsed tree is canonically identical
    # (sameSemantics-pinned in tests); the d struct field is
    # pround_expr(d2, 9).
    d2 = _d2_sql(f"CAST(`{vec_col}` AS ARRAY<DOUBLE>)", "cell.c_vec")
    ranked = F.expr(
        f"array_sort(transform(__cents, cell -> "
        f"struct({pround_expr(d2, 9)} AS d, "
        f"cell.cluster_id AS cluster_id)))")
    out_cols = [F.col(n) for n in df.columns]
    # two Projects, not three (withColumn+drop folded into one select):
    # each op re-analyzes the whole tree eagerly — optimized plan pinned
    # identical in tests/test_expr_parity.py
    probed = (df.crossJoin(F.broadcast(c_arr))
              .select(*out_cols,
                      F.explode(F.slice(ranked, 1, nprobe)).alias("__probe")))
    return probed.select(*[F.col(n) for n in df.columns],
                         F.col("__probe.cluster_id").alias("cluster_id"))


def _lloyd_step(df: DataFrame, centroids: DataFrame, id_col: str,
                vec_col: str, dim: int,
                quantize: int | None = None) -> DataFrame:
    """ONE Lloyd's iteration as a pure (lazy) DataFrame transform:
    assign every vector to its nearest centroid (broadcast cross, the
    :func:`ivf_assign` kernel), recompute each cell's element-wise
    mean, and keep the previous centroid for any cell that went empty
    (standard Lloyd's fallback; k never shrinks).  No action is
    triggered: :func:`kmeans_refine_lazy` chains these steps.

    ``quantize``: round each mean component with pround(·, quantize)
    (the portable floor-form).  Float SUMMATION ORDER differs between
    engines (and between partitionings), so raw means drift a few
    ulps; quantizing at 1e-9 pins both engines — and any cluster
    layout — to identical centroid bits, which is what lets a DuckDB
    oracle replay the trained quantizer exactly
    (embedding_ann_production since r9).

    ``dim`` is the vector width (every row is exactly that wide — the
    embeddings fixture contract): the per-cell mean is ``dim``
    per-position ``avg(vec[i])`` columns in ONE groupBy(cluster_id),
    one Exchange per iteration with no ×dim row multiplication (r12,
    guide §2.3/§2.4).  The per-position averages run over the same
    value sets as a posexplode → groupBy(cluster_id, pos) mean, so the
    centroids equal that form's row for row (pinned in
    tests/test_expr_parity.py)."""
    assigned = ivf_assign(df.select(id_col, vec_col), centroids,
                          id_col=id_col, vec_col=vec_col, nprobe=1)
    # the (quantized) mean is ONE F.expr parse (construction cost, r11;
    # sameSemantics-pinned in tests/test_expr_parity.py)
    def _q(sql: str) -> str:
        return sql if quantize is None else pround_expr(sql, quantize)
    mean_arr = ", ".join(
        _q(f"avg(CAST(`{vec_col}`[{i}] AS DOUBLE))") for i in range(dim))
    means = (assigned.groupBy("cluster_id")
             .agg(F.expr(f"array({mean_arr})").alias("__new")))
    return (centroids.select("cluster_id", F.col(vec_col))
            .join(means, "cluster_id", "left")
            .select("cluster_id",
                    F.coalesce(F.col("__new"), F.col(vec_col))
                    .alias(vec_col)))


def kmeans_refine_lazy(df: DataFrame, centroids: DataFrame, dim: int,
                       n_iter: int = 3, id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       quantize: int | None = None,
                       persist_steps: bool = False) -> DataFrame:
    """Lloyd's-iteration refinement with NO driver hops: the centroid
    table stays a lazy DataFrame through every iteration, so building
    the plan launches zero Spark jobs (VERDICT r7 #3 — registered
    queries must return lazy plans; the eager exception is gone).

    The plan nests one broadcast-cross + aggregate per iteration;
    identical centroid sub-plans referenced more than once are
    deduplicated by Spark's ReuseExchange rule, and the centroid
    tables are k·d scalars, so the nesting is cheap for the small,
    fixed iteration counts a coarse-quantizer trainer uses (≤ ~5);
    ``persist_steps`` keeps a table referenced more than once from
    re-deriving its lineage.  Ties in the assignment break by
    cluster_id, so two runs produce identical centroids, and an empty
    cell keeps its previous centroid (pinned in tests).

    ``dim`` (the vector width) and ``quantize`` (both forwarded to
    :func:`_lloyd_step`): one Exchange per iteration; pround each mean
    at 10^-quantize so the trained centroids are bit-identical across
    engines and partitionings — required when an SQL oracle replays
    the training.

    ``persist_steps``: mark each iteration's (k·d)-float centroid
    table with ``persist()`` — still zero jobs at construction (the
    cache fills on first use), but every LATER reference becomes an
    in-memory scan instead of a re-derivation.  Without it a consumer
    that references the trained table twice (e.g. corpus + query
    assignment in embedding_ann_production) re-expands the whole
    nested training lineage per reference — the plan grows
    exponentially in n_iter (measured: 27 windows / 35 exchanges for
    n_iter=2 consumed twice, vs 5/8 persisted).  This is the same
    iterative-lineage discipline dedup_clusters applies with
    localCheckpoint, at k·d-scalar cost.

    Cache lifetime (ADVICE r9, tracked-release r11): a lazy builder
    cannot know when its consumer is done, and eager unpersist of step
    i would re-trigger the very re-derivation the persist exists to
    prevent — so the step tables stay persisted by default.  Each
    entry is k·d floats (~16 KB at k=32, d=64), so the cost per
    invocation is negligible; one-shot harnesses (the driver's
    per-query loop) bound the accumulation with
    ``spark.catalog.clearCache()`` between plans (a plan over these
    persisted steps is never kept in the registry's query memo, so
    ``clearCache`` frees them for good)."""
    cur = centroids.select("cluster_id", F.col(vec_col))
    for _ in range(n_iter):
        cur = _lloyd_step(df, cur, id_col, vec_col, dim, quantize=quantize)
        if persist_steps:
            cur = cur.persist()
    return cur


def kmeans_wcss_df(df: DataFrame, centroids: DataFrame,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """Within-cluster sum of squares under nearest-centroid assignment
    — the quantity Lloyd's iterations never increase — as a LAZY
    one-row, one-column (``wcss`` double) aggregate, composable into
    a larger plan without launching a job.  SUM over an empty frame
    is NULL; an empty corpus has WCSS 0.0, so coalesce keeps
    monotonicity comparisons well-typed (ADVICE r5)."""
    assigned = ivf_assign(df.select(id_col, vec_col), centroids,
                          id_col=id_col, vec_col=vec_col, nprobe=1)
    d2 = F.expr(_d2_sql(f"CAST(`{vec_col}` AS ARRAY<DOUBLE>)",
                        "CAST(c_vec_kept AS ARRAY<DOUBLE>)"))
    cent = centroids.select(F.col("cluster_id"),
                            F.col(vec_col).alias("c_vec_kept"))
    return (assigned.join(cent, "cluster_id")
            .select(d2.alias("d2"))
            .agg(F.coalesce(F.sum("d2"), F.lit(0.0)).alias("wcss")))


def int8_quantize_stats(df: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """Per-vector symmetric int8 quantization audit: scale =
    max|x|/127, q = round-half-up(x/scale), and the reconstruction
    error stats (max abs error, MSE) a storage-compression rollout
    needs before switching an embedding store to int8.

    One stateless projection — array expressions only, no shuffle, no
    UDF; at 100 TB it runs at scan speed.  Rounding uses the portable
    ``half_up``/``pround`` so the DuckDB oracle reproduces every bit.
    """
    x = F.transform(F.col(vec_col), lambda e: e.cast("double"))
    staged = df.select(F.col(id_col), x.alias("_x"))
    scale = (F.aggregate("_x", F.lit(0.0),
                         lambda acc, e: F.greatest(acc, F.abs(e)))
             / F.lit(127.0))
    staged = staged.withColumn("_scale", scale)
    err = F.when(
        F.col("_scale") > 0,
        F.transform("_x", lambda e: F.abs(
            half_up(e / F.col("_scale")) * F.col("_scale") - e))
    ).otherwise(F.transform("_x", lambda e: F.lit(0.0)))
    staged = staged.withColumn("_err", err)
    n = F.size("_x")
    return staged.select(
        F.col(id_col),
        pround(F.col("_scale"), 8).alias("scale"),
        pround(F.aggregate("_err", F.lit(0.0),
                           lambda acc, e: F.greatest(acc, e)), 8)
            .alias("max_abs_err"),
        # n == 0 guard: sum/size would be 0/0 → NULL for an empty
        # vector while the SQL twin's unnest drops the row entirely;
        # both sides pin the empty-vector row to mse 0.0 instead
        pround(F.when(n > 0,
                      F.aggregate("_err", F.lit(0.0),
                                  lambda acc, e: acc + e * e) / n)
               .otherwise(F.lit(0.0)), 10).alias("mse"),
    )
