"""Measure ANN recall against the exact baselines → RECALL.json.

The repo keeps two deliberately-exhaustive yardsticks precisely so the
approximate scale paths can be MEASURED, not just trusted
(plans/extensions.py: `embedding_cosine_topk` for vector search,
`dedup_ngram_jaccard` for set-similarity dedup).  This script records
those measurements as a per-fixture artifact:

- recall@k of every registered ANN variant (sign-LSH single table,
  multi-probe, multi-table, IVF nprobe=1, IVF nprobe=2) against the
  exact brute-force top-k, averaged over the query set;
- an IVF nprobe sweep (1/2/4/8) via the same `ivf_assign` kernel the
  registered queries use, showing the recall/candidate-cost knob;
- MinHash-LSH pair recall against the exhaustive n-gram Jaccard pair
  set (precision is 1.0 by construction — LSH candidates are verified
  with the same exact Jaccard ≥ t predicate the oracle applies, so the
  only possible error is a MISSED pair).

Usage:
    python scripts/ann_recall.py [label=dir ...]
defaults to `sf0.1=/root/testdata/sf0.1 16x=/tmp/sf_16x`.

tests/test_recall_evidence.py asserts the artifact is fresh against the
current registry and that the structural dominance floors hold
(multi-table >= single-table, nprobe monotone, etc.).
"""

from __future__ import annotations

import datetime
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ANN_VARIANTS = [
    "embedding_ann_lsh",
    "embedding_ann_lsh_multiprobe",
    "embedding_ann_lsh_multitable",
    "embedding_ann_ivf",
    "embedding_ann_ivf_nprobe",
    "embedding_ann_production",
]
NPROBE_SWEEP = [1, 2, 4, 8]


def _ivf_candidates_per_query(spark, sf_dir: str, ivf_k: int,
                              seed_step: int, nprobe: int,
                              train_iters: int = 0,
                              train_sample_frac: float = 1.0,
                              train_sample_seed: int = 0) -> float:
    """Mean candidates examined per query = corpus rows living in the
    query's probed cells — the cost side of the recall/cost trade the
    production flagship must report (VERDICT r7 #2).  ``train_iters``
    and ``train_sample_frac`` mirror the registered plan's
    quantized-Lloyd's refinement (r9: the production point searches on
    the trained quantizer; r11: trained on a deterministic
    hash-sample)."""
    from pyspark.sql import functions as F

    from ecommerce_data_engineering_spark.operators import similarity as S
    from ecommerce_data_engineering_spark.operators.sampling import (
        sample_predicate)
    from ecommerce_data_engineering_spark.operators.similarity import (
        ivf_assign, kmeans_refine_lazy)
    from ecommerce_data_engineering_spark.plans.extensions import (
        ANN_QUERY_LIMIT, _seed_centroids)
    from ecommerce_data_engineering_spark.sources.readers import load

    emb = load(spark, sf_dir, "embeddings")
    cents = _seed_centroids(emb, ivf_k, seed_step)
    if train_iters:
        train_df = emb
        if train_sample_frac < 1.0:
            train_df = emb.filter(sample_predicate(
                F.col("vec_id"), train_sample_frac,
                seed=train_sample_seed))
        # persist_steps: cents is consumed twice below (cell_pop +
        # probed) — without it each reference re-expands the nested
        # training lineage (the exponential-plan case the production
        # plan persists against; ADVICE r9)
        cents = kmeans_refine_lazy(train_df, cents, n_iter=train_iters,
                                   quantize=9, persist_steps=True)
    cell_pop = ivf_assign(S.with_norm(emb), cents).groupBy("cluster_id").count()
    probed = ivf_assign(
        S.with_norm(emb.filter(F.col("vec_id") < ANN_QUERY_LIMIT)),
        cents, nprobe=nprobe).select("vec_id", "cluster_id")
    total = (probed.join(cell_pop, "cluster_id")
             .agg(F.sum("count")).collect()[0][0])
    return float(total) / ANN_QUERY_LIMIT


def _topk_sets(df) -> dict[int, set[int]]:
    out: dict[int, set[int]] = {}
    for r in df.select("query_id", "neighbor_id").collect():
        out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return out


def _recall(ann: dict[int, set[int]], exact: dict[int, set[int]]) -> float:
    """Mean per-query |ann ∩ exact| / |exact| over the EXACT query set —
    a query the ANN variant returns nothing for scores 0, not NaN."""
    if not exact:
        return 1.0
    total = sum(len(ann.get(q, set()) & nbrs) / len(nbrs)
                for q, nbrs in exact.items() if nbrs)
    return total / len(exact)


def _ivf_nprobe_topk(spark, sf_dir: str, nprobe: int, centroids=None,
                     ivf_k=None, seed_step=None):
    """The registered embedding_ann_ivf_nprobe plan with a parametric
    nprobe — same seed centroids, same kernels (plans/extensions.py
    `embedding_ann_ivf_nprobe` is exactly this with nprobe=2).

    ``centroids`` overrides the seed-centroid table (the kmeans_refine
    sweep passes trained centroids here, ADVICE r7 — one shared
    join/rank implementation, no inline re-derivation that can drift).
    ``ivf_k``/``seed_step`` override the seed grid (the production
    operating-point sweep uses a finer cell grid)."""
    from pyspark.sql import Window, functions as F

    from ecommerce_data_engineering_spark.functions.rounding import pround
    from ecommerce_data_engineering_spark.operators import similarity as S
    from ecommerce_data_engineering_spark.operators.similarity import ivf_assign
    from ecommerce_data_engineering_spark.plans.extensions import (
        ANN_K, ANN_QUERY_LIMIT, IVF_K, IVF_SEED_STEP)
    from ecommerce_data_engineering_spark.sources.readers import load

    ivf_k = IVF_K if ivf_k is None else ivf_k
    seed_step = IVF_SEED_STEP if seed_step is None else seed_step
    emb = load(spark, sf_dir, "embeddings")
    if centroids is None:
        centroids = (emb.filter((F.col("vec_id") % seed_step == 0)
                                & (F.col("vec_id") < ivf_k * seed_step))
                     .select((F.col("vec_id") / seed_step).cast("int")
                             .alias("cluster_id"), "embedding"))
    corpus_cells = ivf_assign(S.with_norm(emb), centroids)
    query_cells = ivf_assign(
        S.with_norm(emb.filter(F.col("vec_id") < ANN_QUERY_LIMIT)),
        centroids, nprobe=nprobe)
    q = query_cells.select(F.col("vec_id").alias("query_id"),
                           F.col("embedding").alias("q_vec"),
                           F.col("norm").alias("q_norm"), "cluster_id")
    c = corpus_cells.select(F.col("vec_id").alias("neighbor_id"),
                            F.col("embedding").alias("c_vec"),
                            F.col("norm").alias("c_norm"), "cluster_id")
    dot = F.aggregate(
        F.zip_with(F.col("q_vec"), F.col("c_vec"),
                   lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)
    sims = (q.join(c, "cluster_id")
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .withColumn("cosine",
                        pround(dot / (F.col("q_norm") * F.col("c_norm")), 6))
            .select("query_id", "neighbor_id", "cosine")
            .dropDuplicates(["query_id", "neighbor_id"]))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"),
                                               F.asc("neighbor_id"))
    return (sims.withColumn("rn", F.row_number().over(w).cast("int"))
            .filter(F.col("rn") <= ANN_K))


def main() -> None:
    fixtures = dict(a.split("=", 1) for a in sys.argv[1:] if "=" in a) or {
        "sf0.1": "/root/testdata/sf0.1", "16x": "/tmp/sf_16x"}
    for label, d in fixtures.items():
        if not os.path.isdir(d):
            sys.exit(f"fixture dir for {label!r} does not exist: {d}")

    from pyspark.sql import SparkSession

    from ecommerce_data_engineering_spark.plans import (REGISTRY,
                                                        clear_query_memo)
    from ecommerce_data_engineering_spark.session import driver_memory

    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.driver.memory", driver_memory())
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    rec: dict = {
        "date": datetime.date.today().isoformat(),
        "k": 5,
        "ann_variants": ANN_VARIANTS,
        "nprobe_sweep": NPROBE_SWEEP,
        "fixtures": {},
    }
    for label, sf_dir in fixtures.items():
        exact = _topk_sets(REGISTRY["embedding_cosine_topk"].fn(spark, sf_dir))
        ann = {}
        for name in ANN_VARIANTS:
            sets = _topk_sets(REGISTRY[name].fn(spark, sf_dir))
            ann[name] = {
                "recall_at_k": round(_recall(sets, exact), 4),
                "queries_answered": len(sets),
            }
            print(f"{label}: {name} recall@5 = {ann[name]['recall_at_k']}",
                  flush=True)
        # production operating point: recall is the registered-variant
        # number above; add the cost side (mean candidates per query
        # and the corpus fraction that represents) so the trade is a
        # recorded fact, not a docstring claim
        from ecommerce_data_engineering_spark.plans.extensions import (
            PROD_IVF_K, PROD_NPROBE, PROD_SEED_STEP, PROD_TRAIN_ITERS,
            PROD_TRAIN_SAMPLE_FRAC, PROD_TRAIN_SAMPLE_SEED)
        from ecommerce_data_engineering_spark.sources.readers import load
        n_corpus = load(spark, sf_dir, "embeddings").count()
        cand_q = _ivf_candidates_per_query(
            spark, sf_dir, PROD_IVF_K, PROD_SEED_STEP, PROD_NPROBE,
            train_iters=PROD_TRAIN_ITERS,
            train_sample_frac=PROD_TRAIN_SAMPLE_FRAC,
            train_sample_seed=PROD_TRAIN_SAMPLE_SEED)
        production = {
            "ivf_k": PROD_IVF_K, "nprobe": PROD_NPROBE,
            "train_iters": PROD_TRAIN_ITERS,
            "train_sample_frac": PROD_TRAIN_SAMPLE_FRAC,
            "recall_at_k": ann["embedding_ann_production"]["recall_at_k"],
            "candidates_per_query": round(cand_q, 1),
            "corpus_fraction": round(cand_q / n_corpus, 4),
            "n_corpus": n_corpus,
        }
        print(f"{label}: production K={PROD_IVF_K} nprobe={PROD_NPROBE} "
              f"recall@5 = {production['recall_at_k']} "
              f"cand/q = {production['candidates_per_query']} "
              f"({production['corpus_fraction']:.1%} of corpus)", flush=True)

        sweep = {}
        for nprobe in NPROBE_SWEEP:
            sets = _topk_sets(_ivf_nprobe_topk(spark, sf_dir, nprobe))
            sweep[str(nprobe)] = round(_recall(sets, exact), 4)
            print(f"{label}: ivf nprobe={nprobe} recall@5 = "
                  f"{sweep[str(nprobe)]}", flush=True)

        # LSH lever frontier: the two orthogonal recall knobs the
        # operators expose (operators/similarity.py) — probe_hamming
        # widens each QUERY's probe set (cost O(|Q|·H) extra rows),
        # num_tables adds independent plane sets (candidate volume
        # linear in L).  Recorded so capacity planning can pick the
        # cheapest lever for a recall target instead of guessing.
        from pyspark.sql import functions as SF

        from ecommerce_data_engineering_spark.operators import (
            similarity as S)
        from ecommerce_data_engineering_spark.plans.extensions import (
            ANN_K, ANN_PLANES, ANN_QUERY_LIMIT, EMB_DIM)
        from ecommerce_data_engineering_spark.sources.readers import load

        emb = load(spark, sf_dir, "embeddings")
        qs = emb.filter(SF.col("vec_id") < ANN_QUERY_LIMIT)
        probe_sweep = {}
        for ph in (0, 1, 2):
            sets = _topk_sets(S.lsh_cosine_topk(
                emb, qs, ANN_K, EMB_DIM, ANN_PLANES, probe_hamming=ph))
            probe_sweep[str(ph)] = round(_recall(sets, exact), 4)
            print(f"{label}: lsh probe_hamming={ph} recall@5 = "
                  f"{probe_sweep[str(ph)]}", flush=True)
        table_sweep = {}
        for nt in (1, 2, 4):
            sets = _topk_sets(S.lsh_cosine_topk_multitable(
                emb, qs, ANN_K, EMB_DIM, ANN_PLANES, num_tables=nt))
            table_sweep[str(nt)] = round(_recall(sets, exact), 4)
            print(f"{label}: lsh num_tables={nt} recall@5 = "
                  f"{table_sweep[str(nt)]}", flush=True)

        # What the k-means trainer buys: rerun IVF nprobe=1/2 with
        # Lloyd's-refined centroids (operators/similarity.kmeans_refine,
        # the embedding_ivf_kmeans query's kernel) instead of the raw
        # deterministic seeds — training the quantizer tightens cells,
        # so recall at the SAME probe budget should not degrade and
        # usually improves.  Measured here rather than registered as a
        # query because the iterative trainer is not SQL-expressible.
        from ecommerce_data_engineering_spark.operators.similarity import (
            ivf_assign, kmeans_refine)
        from ecommerce_data_engineering_spark.plans.extensions import (
            IVF_K, IVF_SEED_STEP)

        seeds = (emb.filter((SF.col("vec_id") % IVF_SEED_STEP == 0)
                            & (SF.col("vec_id") < IVF_K * IVF_SEED_STEP))
                 .select((SF.col("vec_id") / IVF_SEED_STEP).cast("int")
                         .alias("cluster_id"), "embedding"))
        trained = kmeans_refine(emb, seeds, n_iter=3)
        trained_sweep = {}
        for nprobe in (1, 2):
            sets = _topk_sets(
                _ivf_nprobe_topk(spark, sf_dir, nprobe, centroids=trained))
            trained_sweep[str(nprobe)] = round(_recall(sets, exact), 4)
            print(f"{label}: ivf TRAINED nprobe={nprobe} recall@5 = "
                  f"{trained_sweep[str(nprobe)]}", flush=True)

        def pair_set(name: str) -> set[tuple[int, int]]:
            return {(r["id_a"], r["id_b"]) for r in
                    REGISTRY[name].fn(spark, sf_dir)
                    .select("id_a", "id_b").collect()}

        exact_pairs = pair_set("dedup_ngram_jaccard")
        lsh_pairs = pair_set("dedup_minhash_lsh")
        false_pos = lsh_pairs - exact_pairs
        pair_recall = (len(lsh_pairs & exact_pairs) / len(exact_pairs)
                       if exact_pairs else 1.0)
        print(f"{label}: minhash pair recall = {pair_recall:.4f} "
              f"({len(lsh_pairs)}/{len(exact_pairs)} pairs, "
              f"{len(false_pos)} false positives)", flush=True)
        rec["fixtures"][label] = {
            "dir": sf_dir,
            "n_queries": len(exact),
            "ann": ann,
            "production": production,
            "ivf_nprobe_recall": sweep,
            "lsh_probe_hamming_recall": probe_sweep,
            "lsh_num_tables_recall": table_sweep,
            "ivf_trained_centroid_recall": trained_sweep,
            "minhash_vs_exhaustive_jaccard": {
                "exact_pairs": len(exact_pairs),
                "lsh_pairs": len(lsh_pairs),
                "false_positive_pairs": len(false_pos),
                "pair_recall": round(pair_recall, 4),
            },
        }
        # done with this fixture: free the memoized plans' shuffle files
        # and broadcasts with the cache
        clear_query_memo(spark)
        spark.catalog.clearCache()

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    evid = os.path.join(here, "evidence")
    os.makedirs(evid, exist_ok=True)
    with open(os.path.join(evid, "RECALL.json"), "w") as f:
        json.dump(rec, f, indent=1)
    print("wrote RECALL.json")
    spark.stop()


if __name__ == "__main__":
    main()
