"""Invariant-based oracle for dedup_embedding_clusters at scale →
evidence/SCALE_SWEEP_<tag>_pairs_clusters.json (VERDICT r9 #3).

Why this exists: the registered DuckDB oracle for the clusters query
is a recursive-CTE transitive closure — quadratic in the largest
component, and its working blocks are PINNED (cannot spill), so on
the 16x fixture it exhausted a measured 70 GB budget after 51 min
(SCALE.md).  Semantics do not need a quadratic check, though: the
pair GENERATOR (dedup_embedding_cosine) is separately verified at 16x
against its exhaustive all-pairs oracle (SCALE_SWEEP_16x_pairs_cos),
so the pair set itself is trusted ground truth.  Given a trusted edge
list, connected components are verifiable in O(E α(N)) by a
plain-Python union-find — an engine-independent third implementation
(not Spark's iterative min-label propagation, not DuckDB's recursive
CTE).

Checks, per VERDICT r9 #3:
  (a) exact label equality: Spark's (node → component) mapping equals
      the union-find's min-reachable-id mapping — node for node
      (strictly stronger than equivalence-relation consistency);
  (b) edge consistency: every pair's endpoints share a label
      (re-asserted explicitly on the Spark output, not inferred);
  (c) canonical-min invariant: each component id equals the min node
      id among its members; node set equals the pair-endpoint set;
      component count and size histogram match the union-find's.

``--threshold=X`` (VERDICT r10 #2): the registered pair set at 16x is
ONE fully-connected component (every r10 check would also pass a
degenerate label-everything-min(all-ids) bug), so a second leg runs
the SAME connected_components operator on a pair graph built at a
custom cosine threshold — on the clustered fixture at 0.6 that yields
~1,600 components of ~20 nodes, where exact-label equality and the
size histogram have real discriminating power.  The pair plan uses
the identical kernels as the registered dedup_embedding_cosine query
(with_norm + all-pairs + pround-ed cosine), only the threshold knob
differs.

Bounded by construction: driver memory is O(|pairs| + |nodes|)
(hundreds of MB at worst for millions of pairs — recorded in the
artifact), never O(component²).

    python scripts/verify_clusters_invariant.py /tmp/sf_16x --tag=16x
    python scripts/verify_clusters_invariant.py /tmp/sf_clustered16x \
        --tag=clustered16x --threshold=0.6
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


class _UnionFind:
    """Path-halving union-by-size union-find over int node ids."""

    def __init__(self) -> None:
        self.parent: dict[int, int] = {}
        self.size: dict[int, int] = {}

    def find(self, x: int) -> int:
        p = self.parent
        if x not in p:
            p[x] = x
            self.size[x] = 1
        while p[x] != x:
            p[x] = p[p[x]]
            x = p[x]
        return x

    def union(self, a: int, b: int) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra == rb:
            return
        if self.size[ra] < self.size[rb]:
            ra, rb = rb, ra
        self.parent[rb] = ra
        self.size[ra] += self.size.pop(rb)


def _pairs_at_threshold(spark, sf_dir: str, threshold: float):
    """dedup_embedding_cosine's pair plan with a parametric threshold —
    same kernels (with_norm, all-pairs id_a<id_b join, pround(cos, 6)),
    only the cutoff differs, so the clusters operator under test sees
    the same edge shape the registered query feeds it."""
    from pyspark.sql import functions as F

    from ecommerce_data_engineering_spark.functions.rounding import pround
    from ecommerce_data_engineering_spark.operators import similarity as S
    from ecommerce_data_engineering_spark.sources.readers import load

    emb = load(spark, sf_dir, "embeddings")
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    a = (S.with_norm(emb).repartition(n_part)
         .select(F.col("vec_id").alias("id_a"),
                 F.col("embedding").alias("va"), F.col("norm").alias("na")))
    b = S.with_norm(emb).select(F.col("vec_id").alias("id_b"),
                                F.col("embedding").alias("vb"),
                                F.col("norm").alias("nb"))
    dot = F.aggregate(
        F.zip_with(F.col("va"), F.col("vb"),
                   lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)
    # explicit broadcast(b): with two same-sized sides the BNLJ may
    # broadcast the REPARTITIONED side and stream the raw scan — on a
    # single-file pyarrow fixture that collapses the O(n²·d) pair
    # compute onto the scan's 4 row-group tasks (measured: 3 cores
    # busy for >25 min at 32k).  Pinning b as the build side keeps the
    # stream side at the session's shuffle parallelism, the exact
    # fan-out the registered query's repartition exists to buy.
    return (a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
            .withColumn("cosine", pround(dot / (F.col("na") * F.col("nb")), 6))
            .filter(F.col("cosine") >= threshold)
            .select("id_a", "id_b"))


def main() -> None:
    sf_dir, tag, threshold = "/tmp/sf_16x", None, None
    for a in sys.argv[1:]:
        if a.startswith("--tag="):
            tag = a.split("=", 1)[1]
        elif a.startswith("--threshold="):
            threshold = float(a.split("=", 1)[1])
        elif a.startswith("-"):
            sys.exit(f"unknown flag {a!r}")
        else:
            sf_dir = a
    if tag is None:
        sys.exit("need --tag=<fixture tag> (e.g. --tag=16x)")
    if not os.path.isdir(sf_dir):
        sys.exit(f"fixture dir {sf_dir!r} does not exist")

    from pyspark.sql import SparkSession

    from ecommerce_data_engineering_spark.operators.dedup import (
        connected_components)
    from ecommerce_data_engineering_spark.plans import (REGISTRY,
                                                        clear_query_memo)
    from ecommerce_data_engineering_spark.session import driver_memory

    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.driver.memory", driver_memory())
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.time()
    problems: list[str] = []

    # trusted edge list: the SAME Spark pair plan the clusters query
    # consumes (16x-verified vs the exhaustive all-pairs oracle), or —
    # with --threshold — that plan at a custom cutoff that yields a
    # MULTI-component graph (VERDICT r10 #2)
    if threshold is None:
        pair_df = (REGISTRY["dedup_embedding_cosine"].fn(spark, sf_dir)
                   .select("id_a", "id_b"))
    else:
        pair_df = _pairs_at_threshold(spark, sf_dir, threshold)
    pairs = [(r["id_a"], r["id_b"]) for r in pair_df.collect()]
    # the pair plan runs once: free its memoized shuffle files and
    # broadcasts before the clusters build
    clear_query_memo(spark)
    t_pairs = time.time() - t0
    print(f"pairs collected: {len(pairs)} ({t_pairs:.1f}s)", flush=True)

    uf = _UnionFind()
    for a, b in pairs:
        uf.union(a, b)
    # min-reachable-id canonical label per node (what the operator and
    # the recursive oracle both define as the component id)
    root_min: dict[int, int] = {}
    nodes = {n for ab in pairs for n in ab}
    for n in nodes:
        r = uf.find(n)
        root_min[r] = min(root_min.get(r, n), n)
    expected = {n: root_min[uf.find(n)] for n in nodes}

    t1 = time.time()
    if threshold is None:
        clusters_df = REGISTRY["dedup_embedding_clusters"].fn(spark, sf_dir)
    else:
        clusters_df = connected_components(
            _pairs_at_threshold(spark, sf_dir, threshold))
    got = {r["node"]: r["component"] for r in clusters_df.collect()}
    t_spark = time.time() - t1
    print(f"spark labels: {len(got)} nodes ({t_spark:.1f}s)", flush=True)

    # (a) exact mapping equality vs the independent union-find
    if set(got) != nodes:
        problems.append(
            f"node set mismatch: spark {len(got)} vs pairs {len(nodes)} "
            f"(e.g. {sorted(set(got) ^ nodes)[:5]})")
    else:
        diff = [n for n in nodes if got[n] != expected[n]]
        if diff:
            n = diff[0]
            problems.append(
                f"{len(diff)} label mismatches (e.g. node {n}: spark "
                f"{got[n]} vs union-find {expected[n]})")

    # (b) every edge's endpoints share a Spark label
    bad_edges = [(a, b) for a, b in pairs if got.get(a) != got.get(b)]
    if bad_edges:
        problems.append(f"{len(bad_edges)} edges cross Spark components "
                        f"(e.g. {bad_edges[:3]})")

    # (c) canonical-min + size histogram vs union-find
    comp_members: dict[int, list[int]] = {}
    for n, c in got.items():
        comp_members.setdefault(c, []).append(n)
    not_min = [c for c, ms in comp_members.items() if c != min(ms)]
    if not_min:
        problems.append(f"{len(not_min)} components whose id is not the "
                        f"min member (e.g. {not_min[:3]})")
    sizes = sorted(len(ms) for ms in comp_members.values())
    exp_sizes = sorted(uf.size[r] for r in
                       {uf.find(n) for n in nodes})
    if sizes != exp_sizes:
        problems.append(
            f"component size histogram mismatch: spark n={len(sizes)} "
            f"max={sizes[-1] if sizes else 0} vs union-find "
            f"n={len(exp_sizes)} max={exp_sizes[-1] if exp_sizes else 0}")

    ok = not problems
    print(f"{'ok  ' if ok else 'FAIL'} dedup_embedding_clusters "
          f"[invariant oracle]: {len(nodes)} nodes, {len(pairs)} pairs, "
          f"{len(comp_members)} components, max size "
          f"{sizes[-1] if sizes else 0}", flush=True)
    for p in problems:
        print("  " + p, flush=True)

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    rec = {
        "fixture": sf_dir,
        "all": True,
        "subset": "only:dedup_embedding_clusters",
        "mode": "invariant_union_find",
        **({"threshold": threshold} if threshold is not None else {}),
        "note": ("linear invariant oracle (plain-Python union-find over "
                 "the 16x-verified dedup_embedding_cosine pair set) "
                 "replacing the recursive-CTE closure that exhausts "
                 "pinned DuckDB memory at this scale — VERDICT r9 #3; "
                 "checks exact label equality, edge consistency, "
                 "canonical-min ids, and the component size histogram"
                 + ("" if threshold is None else
                    f"; --threshold={threshold} leg (VERDICT r10 #2): "
                    f"same connected_components operator on a "
                    f"multi-component pair graph, where exact-label "
                    f"equality discriminates against label-collapse "
                    f"bugs the one-component leg cannot see")),
        "n_ok": 1 if ok else 0,
        "n_failed": 0 if ok else 1,
        "failed": [] if ok else ["dedup_embedding_clusters"],
        "problems": problems,
        "skipped": [],
        "n_pairs": len(pairs),
        "n_nodes": len(nodes),
        "n_components": len(comp_members),
        "max_component": sizes[-1] if sizes else 0,
        "seconds": {"pairs": round(t_pairs, 1),
                    "spark_clusters": round(t_spark, 1),
                    "total": round(time.time() - t0, 1)},
    }
    evid = os.path.join(here, "evidence")
    os.makedirs(evid, exist_ok=True)
    path = os.path.join(evid, f"SCALE_SWEEP_{tag}_pairs_clusters.json")
    with open(path, "w") as f:
        json.dump(rec, f, indent=1)
    print(f"wrote {os.path.basename(path)}")
    spark.stop()
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
