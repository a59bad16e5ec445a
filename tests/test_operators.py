"""Unit tests for the reusable operators: upsert, range join, top-k,
multimodal stubs, text functions."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ecommerce_data_engineering_spark.operators import (
    decode_media, frame_sample, insert_if_absent, keyed_upsert,
    range_join, range_join_by_expansion, to_media_table, topk_per_group)


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(
        [(1, "hello world of spark", "en", "web", 20),
         (2, "bonjour le monde", "fr", "web", 16),
         (3, "hello world of spark", "en", "crawl", 20)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


def test_keyed_upsert_batch_wins(spark):
    old = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    batch = spark.createDataFrame([(2, "B"), (3, "C")], "k long, v string")
    out = {(r.k, r.v) for r in keyed_upsert(old, batch, "k").collect()}
    assert out == {(1, "a"), (2, "B"), (3, "C")}


def test_insert_if_absent_first_writer_wins(spark):
    existing = spark.createDataFrame([(1, "a")], "k long, v string")
    incoming = spark.createDataFrame([(1, "A"), (2, "B")], "k long, v string")
    out = {(r.k, r.v) for r in insert_if_absent(existing, incoming, "k").collect()}
    assert out == {(1, "a"), (2, "B")}


def test_range_join_variants_agree(spark):
    points = spark.createDataFrame(
        [("2024-01-05",), ("2024-02-10",), ("2024-03-01",)], "d string"
    ).select(F.col("d").cast("date").alias("d"))
    intervals = spark.createDataFrame(
        [("I1", "2024-01-01", "2024-01-31"), ("I2", "2024-02-01", "2024-03-05")],
        "iid string, lo string, hi string",
    ).select("iid", F.col("lo").cast("date").alias("lo"),
             F.col("hi").cast("date").alias("hi"))
    a = {tuple(map(str, r)) for r in
         range_join(points, intervals, "d", "lo", "hi").collect()}
    b = {tuple(map(str, r)) for r in
         range_join_by_expansion(points, intervals, "d", "lo", "hi")
         .select("d", "iid", "lo", "hi").collect()}
    a_norm = {(r[0], r[1], r[2], r[3]) for r in a}
    assert len(a) == 3
    assert {x[0] for x in a_norm} == {x[0] for x in b}
    assert {x[1] for x in a_norm} == {x[1] for x in b}


def test_topk_per_group(spark):
    df = spark.createDataFrame(
        [("g1", 1.0), ("g1", 3.0), ("g1", 2.0), ("g2", 9.0)], "g string, v double")
    out = topk_per_group(df, ["g"], [F.desc("v")], 2)
    got = {(r.g, r.v) for r in out.collect()}
    assert got == {("g1", 3.0), ("g1", 2.0), ("g2", 9.0)}


def test_media_roundtrip_and_decode_stub(docs):
    media = to_media_table(docs)
    decoded = decode_media(media)
    rows = {r.doc_id: r for r in decoded.collect()}
    assert rows[1].n_bytes == 20 and rows[1].width == 21 and rows[1].height == 21
    assert rows[1].checksum == rows[3].checksum          # same payload bytes
    assert rows[2].checksum != rows[1].checksum


def test_frame_sample_offsets(docs):
    media = to_media_table(docs)
    out = frame_sample(media, every_n_bytes=8)
    offs = sorted(r.frame_offset for r in out.filter("doc_id = 1").collect())
    assert offs == [0, 8, 16]


def test_ann_recall_knobs_dominate_base_variants(spark, sf_dir):
    """Multi-probe LSH and IVF nprobe=2 search candidate SUPERSETS of
    their base variants, so at every (query, rank) the returned cosine
    must be >= the base variant's — the recall knob can only help."""
    from ecommerce_data_engineering_spark.plans import REGISTRY

    for base, knob in (("embedding_ann_lsh", "embedding_ann_lsh_multiprobe"),
                       ("embedding_ann_lsh", "embedding_ann_lsh_multitable"),
                       ("embedding_ann_ivf", "embedding_ann_ivf_nprobe")):
        b = {(r.query_id, r.rn): r.cosine for r in
             REGISTRY[base].fn(spark, sf_dir).collect()}
        k = {(r.query_id, r.rn): r.cosine for r in
             REGISTRY[knob].fn(spark, sf_dir).collect()}
        assert b, base
        for key, cb in b.items():
            assert key in k and k[key] >= cb, (base, key)


def test_ann_recall_at_k_vs_exact(spark, sf_dir):
    """Recall@5 of the ANN variants against the exact cosine baseline:
    the approximations must find a usable fraction of true neighbors at
    fixture scale, and each recall knob must not lower recall."""
    from ecommerce_data_engineering_spark.plans import REGISTRY

    def topk_sets(name):
        out = {}
        for r in REGISTRY[name].fn(spark, sf_dir).collect():
            out.setdefault(r.query_id, set()).add(r.neighbor_id)
        return out

    exact = topk_sets("embedding_cosine_topk")

    def recall(name):
        approx = topk_sets(name)
        hits = sum(len(exact[q] & approx.get(q, set())) for q in exact)
        return hits / sum(len(v) for v in exact.values())

    r_lsh, r_mp = recall("embedding_ann_lsh"), recall("embedding_ann_lsh_multiprobe")
    r_ivf, r_np = recall("embedding_ann_ivf"), recall("embedding_ann_ivf_nprobe")
    assert r_mp >= r_lsh and r_np >= r_ivf
    # the fixture embeddings are near-uniform (no cluster structure), the
    # hardest regime for ANN — multi-probe still multiplies LSH recall
    # (observed ~5x at sf0.001) and nprobe=2 lifts IVF well above 1/16
    assert r_mp >= 2 * r_lsh and r_mp >= 0.15, (r_lsh, r_mp)
    assert r_np >= 0.2, (r_ivf, r_np)


def test_multiprobe_flip_expressions_match_python_reference(spark):
    """The Hamming-probe bucket strings are built by a substring/concat
    combinator over ≤r-bit flip combinations (operators/similarity.py
    `flipped`); pin it against a plain-Python reference at several
    plane counts so an off-by-one at an untested H can't ship."""
    from itertools import combinations

    from ecommerce_data_engineering_spark.operators import similarity as S

    vecs = {i: [float(i + j) for j in range(4)] for i in range(6)}
    emb = spark.createDataFrame(list(vecs.items()),
                                "vec_id int, embedding array<double>")
    for num_planes in (1, 2, 3, 6, 8):
        # each vector's bucket from a plain-Python sign-bit reference:
        # integer vectors and ±1 weights make every dot product exact
        planes = S.rademacher_weights(num_planes, 4)
        base = {i: "".join("1" if sum(x * w for x, w in zip(v, p)) > 0
                           else "0" for p in planes)
                for i, v in vecs.items()}
        probed = S.lsh_cosine_topk(emb, emb, k=1, dim=4,
                                   num_planes=num_planes, probe_hamming=2)
        # reproduce the expected probe set in plain Python and assert
        # the OPERATOR result only pairs a query with neighbors whose
        # bucket lies inside it
        got = {}
        radius = min(2, num_planes)
        for vid, b in base.items():
            want = {b}
            for r in range(1, radius + 1):
                for combo in combinations(range(num_planes), r):
                    s = list(b)
                    for p in combo:
                        s[p] = "0" if s[p] == "1" else "1"
                    want.add("".join(s))
            got[vid] = want
        # every (query, neighbor) the operator emits must share a
        # bucket within Hamming radius 2 of the query's signature
        for row in probed.collect():
            qb_, nb_ = base[row.query_id], base[row.neighbor_id]
            assert nb_ in got[row.query_id], (
                num_planes, row.query_id, row.neighbor_id, qb_, nb_)
        # and when the radius covers the whole keyspace every pair is
        # a candidate: with H <= 2, radius 2 flips all planes, so each
        # query must find SOME neighbor (k=1, 6 vectors, no zero norms)
        if num_planes <= 2:
            assert probed.select("query_id").distinct().count() == 6, (
                num_planes)


def test_multiprobe_radius_widens_candidates_supersetwise(spark, sf_dir):
    """probe_hamming=r probes every bucket within Hamming distance r
    (r7 generalization): each radius's RESULT per query must contain at
    least the smaller radius's hits that survive top-k re-ranking, and
    the probed-candidate set is a strict lever — recall is monotone in
    r (the RECALL.json artifact records the measured curve; this pins
    the structural property at fixture scale)."""
    from pyspark.sql import functions as F
    from ecommerce_data_engineering_spark.operators import similarity as S
    from ecommerce_data_engineering_spark.plans.extensions import (
        ANN_PLANES, ANN_QUERY_LIMIT, EMB_DIM)
    from ecommerce_data_engineering_spark.sources import load

    emb = load(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < ANN_QUERY_LIMIT)
    # k large enough that re-ranking never evicts a found neighbor —
    # then result sets themselves must be supersets as radius grows
    big_k = 10_000
    per_radius = []
    for r in (0, 1, 2):
        rows = S.lsh_cosine_topk(emb, qs, big_k, EMB_DIM, ANN_PLANES,
                                 probe_hamming=r).collect()
        found = {}
        for row in rows:
            found.setdefault(row.query_id, set()).add(row.neighbor_id)
        per_radius.append(found)
    for smaller, larger in zip(per_radius, per_radius[1:]):
        for q, nbrs in smaller.items():
            assert nbrs <= larger.get(q, set()), q
    # radius 2 must genuinely add candidates beyond radius 1 somewhere
    n1 = sum(len(v) for v in per_radius[1].values())
    n2 = sum(len(v) for v in per_radius[2].values())
    assert n2 > n1, (n1, n2)


def test_lsh_tables_and_probes_return_each_pair_once(spark, sf_dir):
    """With L tables a pair can share a bucket in several of them, so
    lsh_cosine_topk deduplicates pairs when num_tables > 1 (and only
    then: one table gives a vector one bucket, and the probe buckets
    are distinct).  At every (num_tables, probe_hamming) the result
    holds each (query, neighbor) pair once, with rn running 1..n per
    query.  With k large enough that ranking evicts nothing, the result
    is the candidate set, and (2 tables, radius 1) must contain both
    (1, 1) and (2, 0): table 0 is the single table, and radius 1
    includes each query's own bucket."""
    from pyspark.sql import functions as F
    from ecommerce_data_engineering_spark.operators import similarity as S
    from ecommerce_data_engineering_spark.plans.extensions import (
        ANN_PLANES, ANN_QUERY_LIMIT, EMB_DIM)
    from ecommerce_data_engineering_spark.sources import load

    emb = load(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < ANN_QUERY_LIMIT)
    cands = {}
    for tables in (1, 2):
        for radius in (0, 1):
            rows = S.lsh_cosine_topk(emb, qs, 10_000, EMB_DIM, ANN_PLANES,
                                     probe_hamming=radius,
                                     num_tables=tables).collect()
            pairs = [(r.query_id, r.neighbor_id) for r in rows]
            assert len(pairs) == len(set(pairs)), (tables, radius)
            ranks = {}
            for r in rows:
                ranks.setdefault(r.query_id, []).append(r.rn)
            for q, rn in ranks.items():
                assert sorted(rn) == list(range(1, len(rn) + 1)), (
                    tables, radius, q)
            cands[tables, radius] = set(pairs)
    assert cands[1, 1] <= cands[2, 1] and cands[2, 0] <= cands[2, 1]
    # the two knobs each add candidates at fixture scale
    assert cands[1, 0] < cands[1, 1] and cands[1, 0] < cands[2, 0]


def test_deterministic_sampling_properties(spark, sf_dir):
    """Sampling/split invariants that matter for training pipelines:
    membership is a pure function of the id (stable under corpus
    growth), splits partition the corpus, rates land near target."""
    from ecommerce_data_engineering_spark.operators import sampling as SP
    from ecommerce_data_engineering_spark.sources import load
    from pyspark.sql import functions as F

    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    n = docs.count()

    # threshold encoding edges
    assert SP.threshold_hex(1.0) is None
    assert SP.threshold_hex(0.0) == "00000000"
    assert SP.threshold_hex(0.5) == "80000000"

    # rate lands near target (md5 is uniform; fixture ids are arbitrary)
    frac = 0.2
    sampled = SP.deterministic_sample(docs, "doc_id", frac, seed=3)
    k = sampled.count()
    assert abs(k / n - frac) < 0.08, (k, n)

    # stability: sampling a subset yields exactly the intersection —
    # growing the corpus never flips existing membership
    half = docs.filter(F.col("doc_id") % 2 == 0)
    s_half = {r.doc_id for r in
              SP.deterministic_sample(half, "doc_id", frac, seed=3).collect()}
    s_full = {r.doc_id for r in sampled.collect()}
    assert s_half == {d for d in s_full if d % 2 == 0}

    # splits partition: every row gets exactly one label; fractions sum
    splits = {"train": 0.8, "val": 0.1, "test": 0.1}
    assigned = SP.assign_splits(docs, "doc_id", splits, seed=5)
    by = {r.split: r.c for r in
          assigned.groupBy("split").agg(F.count("*").alias("c")).collect()}
    assert set(by) == set(splits) and sum(by.values()) == n
    assert abs(by["train"] / n - 0.8) < 0.1

    # a doc_id keeps its split when scored under a different corpus
    # subset (same function-of-id property as sampling)
    a_half = {r.doc_id: r.split for r in
              SP.assign_splits(half, "doc_id", splits, seed=5).collect()}
    a_full = {r.doc_id: r.split for r in assigned.collect()}
    assert all(a_full[d] == s for d, s in a_half.items())

    # stratified predicate: per-source rates honored (loose bound)
    fracs = {"src0": 0.0, "src1": 1.0}
    keep = SP.stratified_predicate("doc_id", "source", fracs,
                                   default=0.5, seed=9)
    got = {r.source: (r.kept, r.total) for r in
           docs.groupBy("source")
               .agg(F.count_if(keep).alias("kept"),
                    F.count("*").alias("total")).collect()}
    if "src0" in got:
        assert got["src0"][0] == 0
    if "src1" in got:
        assert got["src1"][0] == got["src1"][1]


def test_pack_sequences_chunk_semantics(spark):
    """Concat-and-chunk packing on a hand-computed frame: bins cut
    every `budget` tokens in id order within a shard; spill flags mark
    docs crossing a boundary; total token mass is conserved."""
    from pyspark.sql import functions as F
    from ecommerce_data_engineering_spark.operators.packing import pack_sequences

    rows = [(i, n) for i, n in enumerate([40, 40, 40, 10, 100, 5])]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    # one shard → the global order is the id order
    out = {r.doc_id: r for r in
           pack_sequences(df, "doc_id", "n_tokens", budget=100,
                          num_shards=1).collect()}
    # offsets: 0,40,80,120,130,230
    assert [out[i].start_offset for i in range(6)] == [0, 40, 80, 120, 130, 230]
    assert [out[i].bin_id for i in range(6)] == [0, 0, 0, 1, 1, 2]
    # doc2 spans 80..119 (crosses 100), doc4 spans 130..229 (crosses 200)
    assert [out[i].spills for i in range(6)] == [False, False, True, False, True, False]

    # sharded: token mass conserved, every shard packs independently
    packed = pack_sequences(df, "doc_id", "n_tokens", budget=100,
                            num_shards=4)
    assert packed.agg(F.sum("n_tokens")).collect()[0][0] == 235
    per_shard_first = (packed.filter(F.col("start_offset") == 0)
                       .groupBy("shard").count().collect())
    # each non-empty shard restarts its offsets at zero
    assert all(r["count"] == 1 for r in per_shard_first)


def test_gopher_quality_edge_cases(spark):
    """Quality rules on degenerate docs: empty text, <3 words, pure
    repetition — no nulls leak into `passes`, dup fraction behaves."""
    from ecommerce_data_engineering_spark.operators.text import gopher_quality

    rows = [(1, ""), (2, "one two"), (3, ("spam ham eggs " * 40).strip()),
            (4, " ".join(f"w{i}" for i in range(120)))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in
           gopher_quality(df, "text", "doc_id").collect()}
    assert out[1].n_words == 0 and out[1].passes is False
    assert out[2].n_words == 2 and out[2].dup_trigram_frac == 0.0
    assert out[2].passes is False                       # below min_words
    # 120 repeated trigrams, 3 distinct → dup fraction near 1; fails
    assert out[3].dup_trigram_frac > 0.9 and out[3].passes is False
    # 120 distinct words, mean length in band → passes
    assert out[4].dup_trigram_frac == 0.0 and out[4].passes is True


def test_split_fractions_reaching_one_rejected_on_both_engines(spark):
    """A cumulative non-final split fraction >= 1.0 starves later
    labels; Spark would compare against NULL while the SQL twin would
    compare against the string 'None' — both builders must refuse the
    degenerate dict identically (ADVICE r02)."""
    import pytest as _pytest

    from ecommerce_data_engineering_spark.operators.sampling import (
        split_column, sql_split_case)

    bad = {"train": 0.7, "val": 0.3, "test": 0.0}
    with _pytest.raises(ValueError, match="non-final"):
        split_column("doc_id", bad, seed=1)
    with _pytest.raises(ValueError, match="non-final"):
        sql_split_case("doc_id", bad, seed=1)
    # a healthy dict still builds on both sides
    ok = {"train": 0.8, "val": 0.1, "test": 0.1}
    assert split_column("doc_id", ok, seed=1) is not None
    assert "CASE" in sql_split_case("doc_id", ok, seed=1)


def test_gopher_gate_matches_gopher_quality_passes(spark, sf_dir):
    """gopher_gate (single lambda-bound filter expression) must select
    exactly the documents gopher_quality marks passes=true — on the
    fixture corpus AND on degenerate docs (NULL/empty text, <3 words,
    pure repetition, long-word salad, boundary word counts)."""
    from pyspark.sql import functions as F

    from ecommerce_data_engineering_spark.operators.text import (
        gopher_gate, gopher_quality)
    from ecommerce_data_engineering_spark.sources import load

    docs = load(spark, sf_dir, "documents")
    rows = [(100 + i, t) for i, t in enumerate([
        None, "", "one two",
        ("spam ham eggs " * 40).strip(),
        " ".join(f"w{i}" for i in range(120)),
        " ".join("x" * 11 for _ in range(60)),       # mean word len 11
        " ".join(f"w{i}" for i in range(49)),        # just below min
        " ".join(f"w{i}" for i in range(50)),        # exactly min
    ])]
    edge = spark.createDataFrame(rows, "doc_id long, text string")
    for df in (docs.select("doc_id", "text"), edge):
        want = {r.doc_id for r in gopher_quality(df, "text", "doc_id")
                .filter(F.col("passes")).select("doc_id").collect()}
        got = {r.doc_id for r in
               df.filter(gopher_gate("text")).select("doc_id").collect()}
        assert got == want


def test_int8_quantize_stats_edges(spark):
    """Quantization audit edges: zero vector yields zero scale/error;
    a known vector reproduces hand-computed scale and max error."""
    from ecommerce_data_engineering_spark.operators.similarity import (
        int8_quantize_stats)

    rows = [(1, [0.0, 0.0, 0.0]), (2, [1.27, -0.635, 0.0]), (3, [])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: r for r in
           int8_quantize_stats(df, "embedding", "vec_id").collect()}
    assert out[1].scale == 0.0 and out[1].max_abs_err == 0.0 and out[1].mse == 0.0
    # empty vector: pinned zero-stats row, not NULL mse / dropped row
    assert out[3].scale == 0.0 and out[3].max_abs_err == 0.0 and out[3].mse == 0.0
    # scale = 1.27/127 = 0.01; -0.635 sits on a half step and the
    # portable floor(x+0.5) rounds it toward +inf → err = scale/2
    assert out[2].scale == 0.01
    assert out[2].max_abs_err == 0.005
    assert out[2].mse == round((0.005 ** 2) / 3, 10)


def test_decontaminate_flags_cross_split_exact_dups(spark, sf_dir):
    """Semantic floor for corpus_decontaminate: any train-split doc
    whose normalized text exactly duplicates a test-split doc (with
    >= 8 words) shares all its 8-grams, so it MUST be flagged; and
    every flagged doc must be in the train split."""
    from pyspark.sql import functions as F

    from ecommerce_data_engineering_spark.operators import sampling as SP
    from ecommerce_data_engineering_spark.plans import REGISTRY
    from ecommerce_data_engineering_spark.plans.curation import (
        SPLITS, SPLIT_SEED)
    from ecommerce_data_engineering_spark.sources import load

    docs = (load(spark, sf_dir, "documents")
            .withColumn("split",
                        SP.split_column("doc_id", SPLITS, SPLIT_SEED))
            .withColumn("norm", F.md5(F.lower(F.trim(F.col("text")))))
            .select("doc_id", "split", "norm"))
    test_norms = (docs.filter(F.col("split") == "test")
                  .select("norm").distinct())
    expected = {r.doc_id for r in
                docs.filter(F.col("split") == "train")
                .join(test_norms, "norm").select("doc_id").collect()}
    flagged = {r.doc_id for r in
               REGISTRY["corpus_decontaminate"].fn(spark, sf_dir)
               .select("doc_id").collect()}
    assert expected <= flagged, expected - flagged
    train_ids = {r.doc_id for r in
                 docs.filter(F.col("split") == "train")
                 .select("doc_id").collect()}
    assert flagged <= train_ids


def test_minhash_lsh_recall_vs_exact_jaccard(spark, sf_dir):
    """dedup_minhash_lsh against its exact-recall baseline
    (dedup_ngram_jaccard, inverted-index all-candidates): LSH output
    must be a SUBSET (verification is exact Jaccard at the same
    threshold) and recall must stay high — fixture near-dups are
    exact-ish copies, so every banded signature collides; observed
    1.0 at sf0.001/0.01 with the universal-hash family."""
    from ecommerce_data_engineering_spark.plans import REGISTRY

    lsh = {(r.id_a, r.id_b) for r in
           REGISTRY["dedup_minhash_lsh"].fn(spark, sf_dir).collect()}
    exact = {(r.id_a, r.id_b) for r in
             REGISTRY["dedup_ngram_jaccard"].fn(spark, sf_dir).collect()}
    assert exact, "baseline found no near-dup pairs — fixture changed?"
    assert lsh <= exact
    assert len(lsh & exact) / len(exact) >= 0.9


def test_kmeans_refine_invariants(spark, sf_dir):
    """Lloyd's algorithm contract: WCSS under nearest-centroid
    assignment never increases across refinement iterations, the
    cluster count never shrinks (empty cells keep their previous
    centroid), and two runs produce bit-identical centroids."""
    from pyspark.sql import functions as F

    from ecommerce_data_engineering_spark.operators.similarity import (
        kmeans_refine_lazy, kmeans_wcss_df)
    from ecommerce_data_engineering_spark.plans.extensions import EMB_DIM
    from ecommerce_data_engineering_spark.sources import load

    def wcss_of(cents) -> float:
        return kmeans_wcss_df(emb, cents).first()["wcss"]

    emb = load(spark, sf_dir, "embeddings")
    seeds = (emb.filter((F.col("vec_id") % 31 == 0) & (F.col("vec_id") < 496))
             .select((F.col("vec_id") / 31).cast("int").alias("cluster_id"),
                     "embedding"))
    wcss = [wcss_of(seeds)]
    cur = seeds
    for _ in range(3):
        cur = kmeans_refine_lazy(emb, cur, EMB_DIM, n_iter=1,
                                 persist_steps=True)
        wcss.append(wcss_of(cur))
    assert all(b <= a * (1 + 1e-9) for a, b in zip(wcss, wcss[1:])), wcss
    assert wcss[-1] < wcss[0]                      # training actually helps
    assert cur.count() == seeds.count()

    again = kmeans_refine_lazy(emb, seeds, EMB_DIM, n_iter=3,
                               persist_steps=True)
    a = sorted((r.cluster_id, tuple(r.embedding)) for r in again.collect())
    b = sorted((r.cluster_id, tuple(r.embedding)) for r in cur.collect())
    assert a == b


def test_kmeans_empty_cell_keeps_previous_centroid(spark):
    """Two identical seed centroids: every vector ties and assignment
    breaks to the lower cluster_id, so cluster 1 goes empty — Lloyd's
    fallback must carry its previous centroid forward instead of
    dropping the cell or emitting nulls."""
    from ecommerce_data_engineering_spark.operators.similarity import (
        kmeans_refine_lazy)

    vecs = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(10)],
        "vec_id long, embedding array<double>")
    seeds = spark.createDataFrame(
        [(0, [5.0, 1.0]), (1, [5.0, 1.0])],
        "cluster_id int, embedding array<double>")
    out = {r.cluster_id: list(r.embedding) for r in
           kmeans_refine_lazy(vecs, seeds, 2, n_iter=1).collect()}
    assert set(out) == {0, 1}
    assert out[0] == [4.5, 1.0]          # mean of all ten vectors
    assert out[1] == [5.0, 1.0]          # empty cell: previous centroid


def test_chunk_exact_dedup_invariants(spark, sf_dir):
    """C4-style span dedup: (1) kept chunks = distinct chunk values
    (every repeated chunk survives exactly once, corpus-wide); (2) a
    synthetic corpus whose chunks are all unique drops nothing and
    reassembles to md5 of the original text; (3) the repeated span's
    first (doc, pos) occurrence is the survivor."""
    from ecommerce_data_engineering_spark.operators.dedup import (
        chunk_exact_dedup)
    from ecommerce_data_engineering_spark.sources import load

    docs = load(spark, sf_dir, "documents")
    out = chunk_exact_dedup(docs, "text", "doc_id", chunk_words=4).cache()
    agg = out.agg(F.sum("n_chunks").alias("total"),
                  F.sum("n_dropped").alias("dropped")).collect()[0]
    docs2 = docs.select(
        "doc_id", "text",
        F.filter(F.split("text", " "), lambda x: x != "").alias("ws"))
    n_distinct = (
        docs2.select(F.explode(F.expr(
            "CASE WHEN size(ws) >= 4 THEN"
            " transform(sequence(1, CAST(floor(size(ws)/4) AS INT)),"
            "   i -> array_join(slice(ws, (i-1)*4 + 1, 4), ' '))"
            " ELSE CAST(array() AS array<string>) END").alias("c")))
        .select("col").distinct().count())
    assert agg["total"] - agg["dropped"] == n_distinct
    out.unpersist()

    # unique-chunk corpus: nothing dropped, text reassembles exactly
    uniq = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "p q r s t u v w")],
        ["doc_id", "text"])
    got = {r["doc_id"]: r for r in
           chunk_exact_dedup(uniq, "text", "doc_id", 4).collect()}
    import hashlib
    assert got[1]["n_dropped"] == 0
    assert got[1]["kept_md5"] == hashlib.md5(b"a b c d e f g h").hexdigest()

    # repeated span: doc 1 pos 0 is first in (doc, pos) order → doc 2's
    # copy is the one dropped
    rep = spark.createDataFrame(
        [(1, "x y z w a b c d"), (2, "x y z w p q r s")],
        ["doc_id", "text"])
    got = {r["doc_id"]: r for r in
           chunk_exact_dedup(rep, "text", "doc_id", 4).collect()}
    assert got[1]["n_dropped"] == 0 and got[2]["n_dropped"] == 1
    assert got[2]["kept_md5"] == hashlib.md5(b"p q r s").hexdigest()


def test_zero_norm_vectors_excluded_from_similarity(spark):
    """Cosine against a zero-norm (all-zero or empty) vector is 0/0 —
    NULL in Spark, NaN in DuckDB, and DuckDB ranks NaN above
    everything — so both engines now DROP zero-norm vectors before any
    cosine (with_norm filter / norms HAVING).  Fixtures contain none;
    this pins the agreement on hand-built degenerate vectors."""
    import duckdb

    from ecommerce_data_engineering_spark.operators.similarity import (
        cosine_topk, with_norm)
    from ecommerce_data_engineering_spark.plans import REGISTRY
    from .oracle import compare

    rows = [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.0, 0.0]),
            (3, []), (4, [1.0, 1.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assert {r.vec_id for r in with_norm(emb).collect()} == {0, 1, 4}

    out = cosine_topk(emb, emb, k=5)
    pairs = out.collect()
    assert {r.query_id for r in pairs} == {0, 1, 4}
    assert not [r for r in pairs if r.neighbor_id in (2, 3)]

    con = duckdb.connect()
    vals = ", ".join(
        f"({i}, [{', '.join(map(str, v))}]::DOUBLE[])" for i, v in rows)
    con.execute(f"CREATE VIEW embeddings AS "
                f"SELECT * FROM (VALUES {vals}) AS t(vec_id, embedding)")
    oracle_pdf = con.execute(
        REGISTRY["embedding_cosine_topk"].oracle).fetchdf()
    assert compare(out, oracle_pdf, "zero_norm_similarity") == []


def test_chunk_dedup_short_doc_agrees_cross_engine(spark):
    """A document shorter than one chunk has zero chunks.  The Spark
    operator emits it with n_chunks = 0; the oracle's lateral unnest
    over range(0) produces no chunks row for it, so the oracle must
    LEFT JOIN back to the documents to keep the row — this pins the
    fixed oracle against the operator on exactly that input (the
    fixtures contain no short document, so the driver never exercises
    this path)."""
    import duckdb
    import hashlib

    from ecommerce_data_engineering_spark.operators.dedup import (
        chunk_exact_dedup)
    from ecommerce_data_engineering_spark.plans import REGISTRY
    from .oracle import compare

    rows = [(1, "only three words"), (2, "a b c d e f g h"),
            (3, "a b c d x y z w")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = chunk_exact_dedup(docs, "text", "doc_id", chunk_words=4)
    got = {r["doc_id"]: r for r in out.collect()}
    assert got[1]["n_chunks"] == 0 and got[1]["n_dropped"] == 0
    assert got[1]["kept_md5"] == hashlib.md5(b"").hexdigest()

    con = duckdb.connect()
    vals = ", ".join(f"({i}, '{t}')" for i, t in rows)
    con.execute(f"CREATE VIEW documents AS "
                f"SELECT * FROM (VALUES {vals}) AS t(doc_id, text)")
    oracle_pdf = con.execute(REGISTRY["corpus_chunk_dedup"].oracle).fetchdf()
    oracle_pdf["doc_id"] = oracle_pdf["doc_id"].astype("int64")
    assert compare(out, oracle_pdf, "chunk_dedup_short_doc") == []


def test_pii_scrub_removes_every_match(spark):
    """After masking, no PII pattern matches anywhere; counts and span
    boundaries are exact (adjacent text is untouched)."""
    from ecommerce_data_engineering_spark.operators.text import (
        PII_PATTERNS, pii_scrub)

    df = spark.createDataFrame(
        [(1, "mail a.b+c@x-y.co and 10.1.2.3 then call +1-555-0100 ok"),
         (2, "no pii here at all"),
         (3, "two mails p@q.io r@s.de and 255.255.255.255")],
        ["doc_id", "text"])
    out = {r["doc_id"]: r for r in pii_scrub(df, "text", "doc_id").collect()}
    assert (out[1]["n_email"], out[1]["n_ipv4"], out[1]["n_phone"]) == (1, 1, 1)
    assert (out[2]["n_email"], out[2]["n_ipv4"], out[2]["n_phone"]) == (0, 0, 0)
    assert (out[3]["n_email"], out[3]["n_ipv4"], out[3]["n_phone"]) == (2, 1, 0)

    import hashlib
    exp1 = "mail <EMAIL> and <IPV4> then call <PHONE> ok"
    assert out[1]["redacted_md5"] == hashlib.md5(exp1.encode()).hexdigest()

    # re-scrubbing the masked text finds nothing (masks are stable)
    masked = spark.createDataFrame(
        [(1, exp1), (3, "two mails <EMAIL> <EMAIL> and <IPV4>")],
        ["doc_id", "text"])
    again = pii_scrub(masked, "text", "doc_id").collect()
    assert all(r["n_email"] == r["n_ipv4"] == r["n_phone"] == 0
               for r in again)
    assert set(PII_PATTERNS) == {"email", "ipv4", "phone"}

    # nested classes: the IPv4 inside the email's domain is consumed by
    # the email redaction, so it is NOT double-counted (counts
    # reconcile with the mask), and NULL text counts as empty
    nested = spark.createDataFrame(
        [(1, "ping a@1.2.3.4.xy now"), (2, None)],
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           pii_scrub(nested, "text", "doc_id").collect()}
    assert (got[1]["n_email"], got[1]["n_ipv4"], got[1]["n_phone"]) == (1, 0, 0)
    assert got[1]["redacted_md5"] == hashlib.md5(
        b"ping <EMAIL> now").hexdigest()
    assert (got[2]["n_email"], got[2]["n_ipv4"], got[2]["n_phone"]) == (0, 0, 0)
    assert got[2]["redacted_md5"] == hashlib.md5(b"").hexdigest()


def test_shard_assignment_is_contiguous_permutation(spark, sf_dir):
    """Every doc is assigned exactly once; positions within a shard
    are contiguous 1..n; assignment is run-to-run deterministic."""
    from ecommerce_data_engineering_spark.plans import REGISTRY

    fn = REGISTRY["corpus_shard_assignment"].fn
    out = fn(spark, sf_dir).cache()
    n_docs = out.count()
    from ecommerce_data_engineering_spark.sources import load
    assert n_docs == load(spark, sf_dir, "documents").count()
    assert out.select("doc_id").distinct().count() == n_docs

    per_shard = (out.groupBy("shard")
                 .agg(F.count(F.lit(1)).alias("n"),
                      F.min("shard_pos").alias("lo"),
                      F.max("shard_pos").alias("hi"),
                      F.count_distinct("shard_pos").alias("nd"))
                 .collect())
    for r in per_shard:
        assert (r["lo"], r["hi"], r["nd"]) == (1, r["n"], r["n"])

    again = sorted(map(tuple, fn(spark, sf_dir).collect()))
    assert sorted(map(tuple, out.collect())) == again
    out.unpersist()


def test_intradoc_chunk_dedup_is_zero_shuffle_projection(spark):
    """Within-doc repeats drop (first occurrence survives), cross-doc
    repeats do NOT; the physical plan has no Exchange — the operator
    must stay a stateless projection so it can run inside the scan."""
    from ecommerce_data_engineering_spark.operators.dedup import (
        intradoc_chunk_dedup)
    import hashlib

    df = spark.createDataFrame(
        [(1, "a b c d p q r s a b c d"),       # chunk 'a b c d' twice
         (2, "a b c d x y z w")],              # same chunk, other doc
        ["doc_id", "text"])
    out = {r["doc_id"]: r for r in
           intradoc_chunk_dedup(df, "text", "doc_id", 4).collect()}
    assert out[1]["n_dropped"] == 1
    assert out[1]["kept_md5"] == hashlib.md5(
        b"a b c d p q r s").hexdigest()
    assert out[2]["n_dropped"] == 0          # cross-doc repeat untouched

    plan = intradoc_chunk_dedup(df, "text", "doc_id", 4) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_epoch_upsample_materializes_exact_copy_counts(spark, sf_dir):
    """The exploded corpus has exactly sum(n_copies) rows, copies are
    numbered 1..n, zero-copy docs vanish (fractional factor < 1 =
    deterministic downsampling), and the realized factor converges on
    the configured factor for uniform hashing."""
    from ecommerce_data_engineering_spark.operators.sampling import (
        epoch_factor_columns, epoch_upsample)
    from ecommerce_data_engineering_spark.sources import load

    factors = {"src0": 0.5, "src1": 2.5}
    docs = load(spark, sf_dir, "documents")
    n = epoch_factor_columns("doc_id", "source", factors,
                             default=1.0, seed=31)
    audited = docs.select("doc_id", "source", n.alias("n"))
    expected_rows = audited.agg(F.sum("n")).collect()[0][0]
    up = epoch_upsample(docs, "doc_id", "source", factors,
                        default=1.0, seed=31)
    assert up.count() == expected_rows

    per_doc = (up.groupBy("doc_id")
               .agg(F.count(F.lit(1)).alias("n"),
                    F.max("epoch_copy").alias("mx"),
                    F.min("epoch_copy").alias("mn")).collect())
    assert all(r["mn"] == 1 and r["mx"] == r["n"] for r in per_doc)

    stats = {r["source"]: r for r in
             (audited.groupBy("source")
              .agg(F.avg("n").alias("f"),
                   F.count_if(F.col("n") == 0).alias("zeros"))
              .collect()) if r["source"] in factors}
    assert 0.3 < stats["src0"]["f"] < 0.7          # ≈ 0.5
    assert 2.2 < stats["src1"]["f"] < 2.8          # ≈ 2.5
    assert stats["src0"]["zeros"] > 0              # real downsampling


def test_greedy_bfd_packing_invariants(spark):
    """Whole-doc best-fit-decreasing packing: no bin over budget
    (except dedicated oversize bins), every doc placed exactly once,
    oversized docs isolated one-per-bin, and the assignment is
    deterministic across runs and input partitionings."""
    import random

    from ecommerce_data_engineering_spark.operators.packing import (
        pack_greedy_bfd)

    rng = random.Random(11)
    budget = 100
    rows = [(i, rng.choice([5, 17, 33, 49, 60, 97, 130]))
            for i in range(800)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    out = pack_greedy_bfd(df, "doc_id", "n_tokens", budget,
                          num_shards=4).collect()

    assert len(out) == 800
    assert len({r.doc_id for r in out}) == 800      # exactly once
    fills = {}
    for r in out:
        fills.setdefault((r.shard, r.bin_id), []).append(r)
    for (shard, b), members in fills.items():
        total = sum(m.n_tokens for m in members)
        if any(m.oversized for m in members):
            assert len(members) == 1                # isolation
            assert members[0].n_tokens > budget
        else:
            assert total <= budget, (shard, b, total)
        for m in members:
            assert m.bin_fill == total              # reported fill

    # determinism under a different partitioning
    again = pack_greedy_bfd(df.repartition(13), "doc_id", "n_tokens",
                            budget, num_shards=4).collect()
    key = lambda r: (r.shard, r.doc_id)
    assert sorted(map(tuple, out), key=lambda t: (t[0], t[1])) \
        == sorted(map(tuple, again), key=lambda t: (t[0], t[1]))

    # a NULL size must fail loudly with the offending id — not a NaN
    # dtype traceback from the middle of the packing task
    import pytest as _pytest
    bad = spark.createDataFrame([(1, 10), (2, None)],
                                "doc_id long, n_tokens long")
    with _pytest.raises(Exception, match="NULL or negative"):
        pack_greedy_bfd(bad, "doc_id", "n_tokens", budget,
                        num_shards=2).collect()


def test_greedy_bfd_matches_linear_reference(spark):
    """The r4 ordered-set best-fit must produce BIT-IDENTICAL
    assignments to the r3 linear scan (fullest-fitting bin, tie →
    lowest bin id) — pinned against an in-test reimplementation of the
    old O(n·B) kernel on a randomized fixture including zero-size,
    exactly-budget and oversized docs."""
    import random

    from ecommerce_data_engineering_spark.operators.packing import (
        pack_greedy_bfd)

    rng = random.Random(41)
    budget = 100
    rows = [(i, rng.choice([0, 1, 5, 17, 33, 49, 50, 60, 97, 100, 130]))
            for i in range(600)]
    out = pack_greedy_bfd(
        spark.createDataFrame(rows, "doc_id long, n_tokens long"),
        "doc_id", "n_tokens", budget, num_shards=3).collect()

    import hashlib
    by_shard: dict[int, list[tuple[int, int]]] = {}
    for i, size in rows:
        h = hashlib.md5(f"0:{i}".encode()).hexdigest()
        shard = (int(h[0], 16) * 16 + int(h[1], 16)) % 3
        by_shard.setdefault(shard, []).append((i, size))
    expect = {}
    for shard, docs in by_shard.items():
        docs.sort(key=lambda t: (-t[1], t[0]))
        fills: list[int] = []
        for doc_id, size in docs:
            if size > budget:
                fills.append(size)
                expect[doc_id] = (shard, len(fills) - 1, True)
                continue
            best, best_fill = -1, -1
            for b, f in enumerate(fills):      # the r3 linear scan
                if f + size <= budget and f > best_fill:
                    best, best_fill = b, f
            if best < 0:
                fills.append(0)
                best = len(fills) - 1
            fills[best] += size
            expect[doc_id] = (shard, best, False)
    got = {r.doc_id: (r.shard, r.bin_id, r.oversized) for r in out}
    assert got == expect


def test_greedy_bfd_perf_one_big_shard(spark):
    """Perf pin (VERDICT r3 #4): 10⁵ docs in ONE shard — the
    docstring's own sizing guidance — must pack in seconds.  The r3
    O(n·bins) scan needed ~10⁹ Python comparisons here (minutes); the
    ordered-set kernel is O(n log bins)."""
    import random
    import time

    from ecommerce_data_engineering_spark.operators.packing import (
        pack_greedy_bfd)

    rng = random.Random(7)
    n, budget = 100_000, 2048
    rows = [(i, rng.randint(1, budget)) for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    t0 = time.perf_counter()
    out = pack_greedy_bfd(df, "doc_id", "n_tokens", budget,
                          num_shards=1)
    agg = out.groupBy("shard", "bin_id").agg(
        F.sum("n_tokens").alias("fill"),
        F.count(F.lit(1)).alias("n")).collect()
    elapsed = time.perf_counter() - t0
    assert sum(r.n for r in agg) == n
    assert all(r.fill <= budget for r in agg)
    # generous for a shared box; the r3 kernel took minutes here
    assert elapsed < 60, f"packing 1e5 rows took {elapsed:.1f}s"


def test_language_id_cjk_and_null(spark):
    """zh is detected by stopword CHARACTERS on the raw text (the Latin
    tokenizer deletes CJK, so a token-based count would be dead code);
    Latin langs still win on token hits; NULL/garbage → 'und'."""
    from ecommerce_data_engineering_spark.operators.text import language_id

    rows = [
        (1, "的是在了我的是在了我"),               # pure zh stopwords
        (2, "the cat and the dog of a town"),        # en
        (3, "el la de que y el la"),                 # es
        (4, "zzz qqq xxx"),                          # no hits -> und
        (5, None),                                   # NULL -> und
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r.id: r.lang for r in
           df.select("id", language_id(F.col("text")).alias("lang")).collect()}
    assert got == {1: "zh", 2: "en", 3: "es", 4: "und", 5: "und"}


def test_sampling_sql_twins_escape_quotes():
    """Stratum/label values containing quotes must emit valid SQL."""
    import duckdb

    from ecommerce_data_engineering_spark.operators.sampling import (
        sql_epoch_factor, sql_split_case, sql_stratified_predicate)

    pred = sql_stratified_predicate("id", "src", {"o'reilly": 0.5})
    case = sql_split_case("id", {"tr'ain": 0.5, "te'st": 0.5})
    fac = sql_epoch_factor("id", "src", {"o'reilly": 2.5})
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT 1 AS id, 'o''reilly' AS src")
    assert con.execute(f"SELECT {pred} FROM t").fetchone() is not None
    assert con.execute(f"SELECT {case} FROM t").fetchone()[0] in (
        "tr'ain", "te'st")
    assert con.execute(f"SELECT {fac} FROM t").fetchone()[0] in (2, 3)


def test_connected_components_first_check_cadence(spark):
    """A long chain (diameter 9) must converge to one component under
    the exponential probe schedule: probes before the fixpoint see the
    label sum still falling."""
    from ecommerce_data_engineering_spark.operators.dedup import (
        connected_components)

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], ["id_a", "id_b"])
    got = {(r.node, r.component) for r in
           connected_components(chain).collect()}
    assert got == {(i, 0) for i in range(10)}


def test_simhash_near_dups_rejects_unfoldable_parameters(spark):
    """Pigeonhole blocking is complete only for max_hamming < chunks,
    and the hamming fold packs at most 63 bits into one BIGINT."""
    from ecommerce_data_engineering_spark.operators.dedup import (
        simhash_near_dups)

    fp = spark.createDataFrame([(1, "0" * 64)], "doc_id INT, simhash STRING")
    with pytest.raises(ValueError, match="max_hamming=4"):
        simhash_near_dups(fp, "doc_id", 16, max_hamming=4, chunks=4)
    with pytest.raises(ValueError, match="width=64"):
        simhash_near_dups(fp, "doc_id", 64)


def test_leakage_safe_split_group_atomicity(spark):
    """The defining property of corpus_leakage_safe_split: every
    content-fingerprint group lands wholly in ONE split, and
    n_leaks_prevented counts exactly the multi-doc-group members whose
    naive doc_id-hash split disagrees with the group's split.  Planted
    duplicates include case/whitespace variants that must normalize to
    the same fingerprint."""
    from pyspark.sql import functions as F

    from ecommerce_data_engineering_spark.operators import sampling as SP
    from ecommerce_data_engineering_spark.plans.curation import (
        SPLITS, SPLIT_SEED, content_fingerprint)

    base = "alpha beta gamma delta " * 8          # > FP_PREFIX chars
    rows = [(i, base + f"unique tail {i}") for i in range(40)]
    rows += [(100, base.upper()), (101, "  " + base.replace(" ", "   "))]
    rows += [(200, f"short {i} text distinct head {i}") for i in (0,)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    assigned = (docs.select("doc_id",
                            content_fingerprint(F.col("text")).alias("fp"))
                .withColumn("grp_split",
                            SP.split_column(F.col("fp"), SPLITS, SPLIT_SEED))
                .withColumn("naive_split",
                            SP.split_column(F.col("doc_id"), SPLITS,
                                            SPLIT_SEED))).collect()

    by_fp: dict[str, list] = {}
    for r in assigned:
        by_fp.setdefault(r.fp, []).append(r)
    # the 40 planted copies + 2 normalization variants share one group
    assert max(len(v) for v in by_fp.values()) == 42
    for grp in by_fp.values():                    # atomicity
        assert len({r.grp_split for r in grp}) == 1
    want_leaks = sum(1 for grp in by_fp.values() if len(grp) > 1
                     for r in grp if r.naive_split != r.grp_split)

    from ecommerce_data_engineering_spark.plans import REGISTRY
    tmp = "/tmp/leak_split_fixture"
    docs.write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
    out = {r.split: r for r in
           REGISTRY["corpus_leakage_safe_split"].fn(spark, tmp).collect()}
    assert sum(r.n_docs for r in out.values()) == 43
    assert sum(r.n_dup_docs for r in out.values()) == 42
    assert sum(r.n_leaks_prevented for r in out.values()) == want_leaks
    assert all(r.n_leaks_prevented <= r.n_dup_docs for r in out.values())
