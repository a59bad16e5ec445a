"""Measure ANN recall against the exact baselines → RECALL.json.

The repo keeps two deliberately-exhaustive yardsticks precisely so the
approximate scale paths can be MEASURED, not just trusted
(plans/extensions.py: `embedding_cosine_topk` for vector search,
`dedup_ngram_jaccard` for set-similarity dedup).  This script records
those measurements as a per-fixture artifact:

- recall@k of every registered ANN variant (sign-LSH single table,
  multi-probe, multi-table, IVF nprobe=1, IVF nprobe=2) against the
  exact brute-force top-k, averaged over the query set;
- an IVF nprobe sweep (1/2/4/8) through the registered queries' own
  search plan (`plans/extensions._ivf_search`), showing the
  recall/candidate-cost knob, with seed and trained centroids;
- MinHash-LSH pair recall against the exhaustive n-gram Jaccard pair
  set (precision is 1.0 by construction — LSH candidates are verified
  with the same exact Jaccard ≥ t predicate the oracle applies, so the
  only possible error is a MISSED pair).

Usage:
    python scripts/ann_recall.py [label=dir ...]
defaults to `sf0.1=/root/testdata/sf0.1 16x=/tmp/sf_16x`.
A run that lacks a fixture label the existing record holds prints its
numbers but does not write; scripts/regenerate_evidence.sh passes every
fixture the committed record holds.

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


def _candidates_per_query(emb, centroids, nprobe: int) -> float:
    """Mean candidates examined per query = corpus rows living in the
    query's ``nprobe`` probed cells of ``centroids`` — the cost side of
    the recall/cost trade the production flagship must report
    (VERDICT r7 #2)."""
    from pyspark.sql import functions as F

    from ecommerce_data_engineering_spark.operators.similarity import (
        ivf_assign, with_norm)
    from ecommerce_data_engineering_spark.plans.extensions import (
        ANN_QUERY_LIMIT)

    cell_pop = ivf_assign(with_norm(emb), centroids).groupBy("cluster_id").count()
    probed = ivf_assign(
        with_norm(emb.filter(F.col("vec_id") < ANN_QUERY_LIMIT)),
        centroids, nprobe=nprobe).select("vec_id", "cluster_id")
    total = (probed.join(cell_pop, "cluster_id")
             .agg(F.sum("count")).collect()[0][0])
    return float(total) / ANN_QUERY_LIMIT


def write_record(path: str, rec: dict, keys) -> None:
    """Write ``rec`` to ``path`` as JSON, unless the record already
    there holds a key (``keys(record)`` → set) this run lacks: a spot
    check at one fixture, or a run without the large fixtures, must
    not replace the full record.  To start over, delete the record by
    hand."""
    if os.path.exists(path):
        with open(path) as f:
            dropped = keys(json.load(f)) - keys(rec)
        if dropped:
            sys.exit(f"REFUSING to overwrite {os.path.basename(path)}: "
                     f"this run lacks {sorted(dropped)}, which the "
                     f"record holds; delete it by hand to start over")
    with open(path, "w") as f:
        json.dump(rec, f, indent=1)
    print(f"wrote {os.path.basename(path)}")


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


def main() -> None:
    fixtures = dict(a.split("=", 1) for a in sys.argv[1:] if "=" in a) or {
        "sf0.1": "/root/testdata/sf0.1", "16x": "/tmp/sf_16x"}
    for label, d in fixtures.items():
        if not os.path.isdir(d):
            sys.exit(f"fixture dir for {label!r} does not exist: {d}")

    from pyspark.sql import functions as F

    from ecommerce_data_engineering_spark.operators.similarity import (
        lsh_cosine_topk)
    from ecommerce_data_engineering_spark.plans import (REGISTRY,
                                                        clear_query_memo)
    from ecommerce_data_engineering_spark.plans.extensions import (
        ANN_K, ANN_PLANES, ANN_QUERY_LIMIT, EMB_DIM, IVF_K, IVF_SEED_STEP,
        PROD_IVF_K, PROD_NPROBE, PROD_TRAIN_ITERS, PROD_TRAIN_SAMPLE_FRAC,
        _ivf_search, _prod_centroids, _seed_centroids, _train_centroids)
    from ecommerce_data_engineering_spark.session import get_spark
    from ecommerce_data_engineering_spark.sources.readers import load

    spark = get_spark("ann_recall")
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
        emb = load(spark, sf_dir, "embeddings")
        n_corpus = emb.count()
        cand_q = _candidates_per_query(emb, _prod_centroids(emb), PROD_NPROBE)
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

        # the registered IVF search with a parametric nprobe:
        # embedding_ann_ivf is nprobe=1, embedding_ann_ivf_nprobe 2
        seeds = _seed_centroids(emb, IVF_K, IVF_SEED_STEP)
        sweep = {}
        for nprobe in NPROBE_SWEEP:
            sets = _topk_sets(_ivf_search(emb, seeds, nprobe))
            sweep[str(nprobe)] = round(_recall(sets, exact), 4)
            print(f"{label}: ivf nprobe={nprobe} recall@5 = "
                  f"{sweep[str(nprobe)]}", flush=True)

        # LSH lever frontier: the two orthogonal recall knobs
        # operators/similarity.lsh_cosine_topk exposes — probe_hamming
        # widens each QUERY's probe set (cost O(|Q|·H) extra rows),
        # num_tables adds independent plane sets (candidate volume
        # linear in L).  Recorded so capacity planning can pick the
        # cheapest lever for a recall target instead of guessing.
        qs = emb.filter(F.col("vec_id") < ANN_QUERY_LIMIT)
        probe_sweep = {}
        for ph in (0, 1, 2):
            sets = _topk_sets(lsh_cosine_topk(
                emb, qs, ANN_K, EMB_DIM, ANN_PLANES, probe_hamming=ph))
            probe_sweep[str(ph)] = round(_recall(sets, exact), 4)
            print(f"{label}: lsh probe_hamming={ph} recall@5 = "
                  f"{probe_sweep[str(ph)]}", flush=True)
        table_sweep = {}
        for nt in (1, 2, 4):
            sets = _topk_sets(lsh_cosine_topk(
                emb, qs, ANN_K, EMB_DIM, ANN_PLANES, num_tables=nt))
            table_sweep[str(nt)] = round(_recall(sets, exact), 4)
            print(f"{label}: lsh num_tables={nt} recall@5 = "
                  f"{table_sweep[str(nt)]}", flush=True)

        # What the k-means trainer buys: rerun IVF nprobe=1/2 with
        # centroids trained by the one IVF trainer (three Lloyd's
        # iterations over the full corpus) instead of the raw
        # deterministic seeds — training the quantizer tightens cells,
        # so recall at the SAME probe budget should not degrade and
        # usually improves.
        trained = _train_centroids(emb, seeds, 3)
        trained_sweep = {}
        for nprobe in (1, 2):
            sets = _topk_sets(_ivf_search(emb, trained, nprobe))
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
    write_record(os.path.join(here, "evidence", "RECALL.json"), rec,
                 lambda r: set(r["fixtures"]))
    spark.stop()


if __name__ == "__main__":
    main()
