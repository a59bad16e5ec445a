"""Measure the IVF k_cells ∝ √n scaling claim → evidence/ANN_SCALING.json
(VERDICT r9 #2).

The production ANN docstring (plans/extensions.py) claims that at
deployment scale the plan re-tunes k_cells with √n so per-query probe
cost stays sublinear.  This script turns that claim into a recorded
measurement: for each (fixture, k_cells) point it finds the smallest
nprobe on a ladder that reaches the 0.8 recall floor, then records
recall, candidates/query, corpus fraction, and wall time of the full
trained-search plan (training included — the registered production
query's own trainer and search, `plans/extensions._train_centroids`
and `_ivf_search`).

Two fixture families, deliberately:

- **uniform** (the driver's near-uniform vectors): the no-structure
  adversarial case.  Near neighbors are barely closer than random, so
  the probe FRACTION needed for recall ≥ 0.8 cannot fall with more
  cells — the honest worst-case bound (measured ~0.44 at every scale).
- **clustered** (mixture-of-Gaussians, scripts/make_clustered_fixture):
  the case IVF is designed for.  A query's true neighbors co-locate in
  its own coarse cell, so the needed fraction collapses and k_cells ∝
  √n holds candidates/query to O(√n) growth (vs O(n) at fixed k).

Seeding: every (n/k)-th vector by ROW-NUMBER rank over vec_id — NOT by
vec_id arithmetic: the scaled fixtures shift each copy's keys by
k·10,000,000 (make_scaled_fixture.py), so a `vec_id % step` grid
degenerates to the first copy's two seeds there.  Rank-stride gives k
seeds spread over the whole corpus on every fixture layout.  Training
= PROD_TRAIN_ITERS quantized Lloyd's iterations, identical to the
registered production plan — including (r11, VERDICT r10 #1) the
SAMPLED trainer: Lloyd's runs on a deterministic md5 hash-sample of
min(n, TRAIN_SAMPLES_PER_CELL·k_cells) rows (the standard IVF recipe;
the registered production query ships the same gate at a fixed
fraction), so training cost stops growing O(k·n) once n outruns the
per-cell sample budget.  Each leg records train_sample_frac and
n_train so the wall numbers are attributable.  A run that would drop a
(label, k_cells) leg the existing record holds (a fixture dir missing)
does not write.

    python scripts/make_clustered_fixture.py /tmp/sf_clustered 2000
    python scripts/make_clustered_fixture.py /tmp/sf_clustered16x 32000
    python scripts/make_clustered_fixture.py /tmp/sf_clustered64x 128000
    python scripts/ann_scaling.py
"""

from __future__ import annotations

import datetime
import math
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

RECALL_FLOOR = 0.8
TRAIN_SAMPLES_PER_CELL = 64   # Lloyd's sample budget: 64·k_cells rows

# (label, dir, kind, k_cells).  k_cells scales with √n: 32 at n=2000
# → 128 at 16× → 256 at 64× (√16=4, √64=8).  The 16× fixed-k=32 point
# is the contrast row: what happens when the corpus grows 16× and the
# quantizer is NOT re-tuned.
LEGS = [
    ("uniform-sf0.1", "/root/testdata/sf0.1", "uniform", 32),
    ("uniform-16x", "/tmp/sf_16x", "uniform", 32),
    ("uniform-16x", "/tmp/sf_16x", "uniform", 128),
    ("uniform-64x", "/tmp/sf_64x", "uniform", 256),
    ("clustered-2k", "/tmp/sf_clustered", "clustered", 32),
    ("clustered-32k", "/tmp/sf_clustered16x", "clustered", 128),
    ("clustered-128k", "/tmp/sf_clustered64x", "clustered", 256),
]


def _ladder(kind: str, k_cells: int) -> list[int]:
    if kind == "clustered":
        probes = [1, 2, 4, 8, 16]
    else:
        # uniform needs a large corpus fraction (~0.44 measured at the
        # production point) — ladder in fractions of k_cells
        probes = [max(1, math.ceil(k_cells * f))
                  for f in (0.35, 0.45, 0.55, 0.7)]
    return sorted({min(p, k_cells) for p in probes})


def main() -> None:
    from pyspark.sql import Window, functions as F

    from ann_recall import (_candidates_per_query, _recall, _topk_sets,
                            write_record)
    from ecommerce_data_engineering_spark.operators.sampling import (
        sample_predicate)
    from ecommerce_data_engineering_spark.plans import (REGISTRY,
                                                        clear_query_memo)
    from ecommerce_data_engineering_spark.plans.extensions import (
        ANN_QUERY_LIMIT, PROD_TRAIN_ITERS, _ivf_search, _train_centroids)
    from ecommerce_data_engineering_spark.session import get_spark
    from ecommerce_data_engineering_spark.sources.readers import load

    spark = get_spark("ann_scaling")
    spark.sparkContext.setLogLevel("ERROR")

    def rank_seeds(emb, k_cells: int, n: int):
        """k seed centroids at rank stride n//k over vec_id order —
        layout-independent (works on the key-shifted scaled fixtures
        where a vec_id-modulo grid would collapse to 2 seeds)."""
        step = max(1, n // k_cells)
        return (emb.withColumn(
                    "_rn", F.row_number().over(Window.orderBy("vec_id")) - 1)
                .filter((F.col("_rn") % step == 0)
                        & (F.col("_rn") < k_cells * step))
                .select((F.col("_rn") / step).cast("int")
                        .alias("cluster_id"), "embedding"))

    def train_frac(k_cells: int, n: int) -> float:
        return min(1.0, TRAIN_SAMPLES_PER_CELL * k_cells / max(n, 1))

    def trained_cents(emb, k_cells: int, n: int):
        return _train_centroids(emb, rank_seeds(emb, k_cells, n),
                                PROD_TRAIN_ITERS, train_frac(k_cells, n))

    exact_cache: dict[str, dict] = {}
    n_cache: dict[str, int] = {}
    rows = []
    for label, sf_dir, kind, k_cells in LEGS:
        if not os.path.isdir(sf_dir):
            print(f"SKIP {label}: {sf_dir} missing", flush=True)
            continue
        if sf_dir not in exact_cache:
            exact_cache[sf_dir] = _topk_sets(
                REGISTRY["embedding_cosine_topk"].fn(spark, sf_dir))
            n_cache[sf_dir] = load(spark, sf_dir, "embeddings").count()
            # the exact top-k runs once per dir: free its memoized plan's
            # shuffle files and broadcasts with the cache
            clear_query_memo(spark)
            spark.catalog.clearCache()
        exact, n = exact_cache[sf_dir], n_cache[sf_dir]
        emb = load(spark, sf_dir, "embeddings")
        trail, picked = {}, None
        for nprobe in _ladder(kind, k_cells):
            sets = _topk_sets(_ivf_search(
                emb, trained_cents(emb, k_cells, n), nprobe))
            r = round(_recall(sets, exact), 4)
            trail[str(nprobe)] = r
            spark.catalog.clearCache()
            print(f"{label} k={k_cells} nprobe={nprobe}: recall@5={r}",
                  flush=True)
            if r >= RECALL_FLOOR:
                picked = (nprobe, r)
                break
        if picked is None:
            nprobe, r = max(((int(p), v) for p, v in trail.items()),
                            key=lambda t: t[1])
            reached = False
        else:
            (nprobe, r), reached = picked, True
        # cost side at the picked point: mean corpus rows living in the
        # query set's probed cells
        cand_q = _candidates_per_query(
            emb, trained_cents(emb, k_cells, n), nprobe)
        spark.catalog.clearCache()

        def timed() -> float:
            t0 = time.perf_counter()
            _ivf_search(emb, trained_cents(emb, k_cells, n), nprobe) \
                .write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            spark.catalog.clearCache()
            return dt

        timed()  # warm
        wall = round(statistics.median(timed() for _ in range(3)), 3)
        frac = train_frac(k_cells, n)
        n_train = n if frac >= 1.0 else emb.filter(
            sample_predicate(F.col("vec_id"), frac, seed=0)).count()
        row = {
            "label": label, "dir": sf_dir, "kind": kind, "n_corpus": n,
            "n_queries": ANN_QUERY_LIMIT, "k_cells": k_cells,
            "train_iters": PROD_TRAIN_ITERS,
            "train_sample_frac": round(frac, 4), "n_train": n_train,
            "nprobe": nprobe, "recall_at_5": r, "floor_reached": reached,
            "nprobe_trail": trail,
            "candidates_per_query": round(cand_q, 1),
            "corpus_fraction": round(cand_q / n, 4),
            "wall_sec": wall,
        }
        rows.append(row)
        print(f"{label} k={k_cells}: nprobe={nprobe} recall={r} "
              f"cand/q={row['candidates_per_query']} "
              f"({row['corpus_fraction']:.1%}) wall={wall}s", flush=True)

    rec = {
        "date": datetime.date.today().isoformat(),
        "recall_floor": RECALL_FLOOR,
        "train_samples_per_cell": TRAIN_SAMPLES_PER_CELL,
        "note": ("k_cells ∝ √n scaling measurement for the production "
                 "IVF plan (VERDICT r9 #2): per (fixture, k_cells) "
                 "point, smallest ladder nprobe reaching the 0.8 "
                 "recall floor, with candidates/query, corpus "
                 "fraction, and wall of the full trained-search plan; "
                 "Lloyd's trains on a deterministic hash-sample of "
                 "min(n, 64*k_cells) rows (r11, VERDICT r10 #1); "
                 "generated by scripts/ann_scaling.py"),
        "legs": rows,
    }
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    write_record(os.path.join(here, "evidence", "ANN_SCALING.json"), rec,
                 lambda r: {(l["label"], l["k_cells"]) for l in r["legs"]})
    spark.stop()


if __name__ == "__main__":
    main()
