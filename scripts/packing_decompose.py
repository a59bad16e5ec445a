"""Decompose corpus_sequence_packing's 64× cost → evidence/PACKING_DECOMP.json.

SCALE.md's 64×-multiple table (last present at commit 5c22305) used
to explain the packing query's largest-in-roster multiple with its
8-shard cum-sum window ("the fixture constant stays put while
per-shard work grows").  Measuring it
(r11) shows that explanation is WRONG at this scale, in three steps:

1. **num_shards does not move the wall**: the full registered-shape
   plan at 8 / 64 / 512 shards costs the same — if the per-shard
   window were the bottleneck, 512 shards would collapse it.
2. **The tokenizer is most of the cost**: a fresh-lineage scalar
   aggregate over the token count alone costs 0.64× the full plan's
   wall; the window + packing aggregate on pre-materialized
   (doc_id, n_tokens) is 0.23×.  The record carries BOTH tokenizer
   forms — the definitional size(regexp_extract_all(...)) and the
   registered bpe_token_count (translate arithmetic + one greedy-run
   regexp_count, functions/tokens.py) that this decomposition motivated
   — so `conclusion.tokenizer_speedup` is the banked gain.
3. **Scan-split scaling is allocation-bound**: forcing the scan from
   its default ~10 splits (openCostInBytes bin-packing of the 40 MB /
   64-row-group fixture) to 32 splits showed the JVM's allocation
   ceiling directly.  With the OLD extract-all tokenizer (one
   substring allocation per match) the wall stayed FLAT while
   scan-stage CPU inflated 2.9× — more threads just fought the
   allocator/GC.  With the registered low-allocation bpe_token_count
   the same forcing buys a real 2.21× wall drop at only 1.09× CPU
   inflation: remove the allocations and the cores become usable.
   Either way it is a single-JVM ceiling, not the plan; on a real
   cluster the tokenize parallelizes ACROSS executor JVMs.

Timing discipline: every timed plan is rebuilt from load() so Spark
cannot serve it from an earlier job's shuffle files (a fresh-lineage
lesson this script exists to encode: reusing one DataFrame object
makes repeat runs skip the scan stage entirely and under-reports the
regex cost ~50×).

    python scripts/packing_decompose.py            # /tmp/sf_64x
    python scripts/packing_decompose.py /tmp/sf_16x
"""

from __future__ import annotations

import datetime
import json
import os
import shutil
import sys
import time
import urllib.request

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

from pyspark.sql import SparkSession, functions as F  # noqa: E402

from ecommerce_data_engineering_spark.operators import packing as PK  # noqa: E402
from ecommerce_data_engineering_spark.functions import tokens as T  # noqa: E402
from ecommerce_data_engineering_spark.plans.curation import (  # noqa: E402
    PACK_BUDGET, PACK_SEED)
from ecommerce_data_engineering_spark.session import driver_memory  # noqa: E402
from ecommerce_data_engineering_spark.sources.readers import load  # noqa: E402

REPS = 3
TOKS_TMP = "/tmp/packing_decomp_toks"


def _session(app: str, **conf) -> SparkSession:
    b = (SparkSession.builder.master("local[32]")
         .config("spark.sql.shuffle.partitions", "32")
         .config("spark.ui.enabled", "true")
         .config("spark.driver.memory", driver_memory())
         .appName(app))
    for k, v in conf.items():
        b = b.config(k, v)
    return b.getOrCreate()


def _toks(spark: SparkSession, fixture: str, definitional: bool = False):
    """(doc_id, n_tokens) — registered form (bpe_token_count: translate
    arithmetic + one greedy-run regexp_count) by default; pass
    definitional=True for the size(regexp_extract_all(...)) form the
    oracle states, so the record carries both and their gap IS the
    tokenizer speedup the registered plans bank."""
    docs = load(spark, fixture, "documents")
    if definitional:
        n_tokens = F.size(
            F.regexp_extract_all(F.col("text"), F.lit(T.BPE_ISH_PATTERN), 0))
    else:
        n_tokens = T.bpe_token_count(F.col("text"))
    return docs.select("doc_id", n_tokens.cast("long").alias("n_tokens"))


def _full_plan(spark: SparkSession, fixture: str, shards: int):
    packed = PK.pack_sequences(_toks(spark, fixture), "doc_id", "n_tokens",
                               PACK_BUDGET, num_shards=shards, seed=PACK_SEED)
    return (packed.groupBy("shard", "bin_id")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").alias("bin_tokens"),
                 F.count_if("spills").alias("n_spills")))


def _time(mk, reps: int = REPS) -> dict:
    walls = []
    for _ in range(reps):
        t0 = time.time()
        mk().collect()
        walls.append(round(time.time() - t0, 2))
    return {"walls_s": walls, "min_s": min(walls)}


def _scan_stage_cpu(spark: SparkSession, mk) -> dict:
    """Wall + the scan stage's summed executorRunTime for one fresh run."""
    ui = spark.sparkContext.uiWebUrl
    app = json.load(urllib.request.urlopen(
        f"{ui}/api/v1/applications"))[0]["id"]
    def _stages():
        return json.load(urllib.request.urlopen(
            f"{ui}/api/v1/applications/{app}/stages?status=complete"))
    before = {s["stageId"] for s in _stages()}
    t0 = time.time()
    mk().collect()
    wall = round(time.time() - t0, 2)
    new = [s for s in _stages() if s["stageId"] not in before]
    scan = max(new, key=lambda s: s["executorRunTime"])
    return {"wall_s": wall, "scan_tasks": scan["numCompleteTasks"],
            "scan_stage_cpu_s": round(scan["executorRunTime"] / 1000, 2)}


def main() -> None:
    fixture = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf_64x"
    if not os.path.isdir(fixture):
        sys.exit(f"fixture dir {fixture!r} does not exist — "
                 "run scripts/make_scaled_fixture.py first")
    out: dict = {"date": datetime.date.today().isoformat(),
                 "fixture": fixture, "reps": REPS, "legs": {}}

    spark = _session("packing-decompose")
    out["n_docs"] = load(spark, fixture, "documents").count()

    # 1. num_shards is not the knob: same plan, three shard counts.
    for shards in (8, 64, 512):
        leg = _time(lambda: _full_plan(spark, fixture, shards))
        out["legs"][f"full_shards{shards}"] = leg
        print(f"full plan, {shards} shards: {leg}", flush=True)

    # 2a. tokenize floor, both forms: fresh-lineage scalar aggregate,
    #     no window at all.  definitional − fast = the banked speedup.
    leg = _time(lambda: _toks(spark, fixture, definitional=True).groupBy()
                .agg(F.sum("n_tokens").alias("total_tokens")))
    out["legs"]["tokenize_definitional"] = leg
    print(f"tokenize (definitional extract-all): {leg}", flush=True)
    leg = _time(lambda: _toks(spark, fixture).groupBy()
                .agg(F.sum("n_tokens").alias("total_tokens")))
    out["legs"]["tokenize_only"] = leg
    print(f"tokenize (registered bpe_token_count): {leg}", flush=True)

    # 2b. everything-but-the-regex: window + aggregate over
    #     pre-materialized (doc_id, n_tokens).
    _toks(spark, fixture).write.mode("overwrite").parquet(TOKS_TMP)
    def _window_only():
        mat = spark.read.parquet(TOKS_TMP)
        packed = PK.pack_sequences(mat, "doc_id", "n_tokens", PACK_BUDGET,
                                   num_shards=8, seed=PACK_SEED)
        return (packed.groupBy("shard", "bin_id")
                .agg(F.count(F.lit(1)).alias("n_docs"),
                     F.sum("n_tokens").alias("bin_tokens"),
                     F.count_if("spills").alias("n_spills")))
    leg = _time(_window_only)
    out["legs"]["window_only_materialized"] = leg
    print(f"window+agg on materialized tokens: {leg}", flush=True)

    # 3a. scan-stage CPU at the default split layout.
    _full_plan(spark, fixture, 8).collect()  # JIT warm
    out["scan_stage_default"] = _scan_stage_cpu(
        spark, lambda: _full_plan(spark, fixture, 8))
    print(f"scan stage, default splits: {out['scan_stage_default']}",
          flush=True)
    spark.stop()

    # 3b. force one split per row-group-ish chunk: more tasks, same JVM.
    spark = _session("packing-decompose-split32",
                     **{"spark.sql.files.openCostInBytes": "131072",
                        "spark.sql.files.maxPartitionBytes": "2m"})
    _full_plan(spark, fixture, 8).collect()  # JIT warm
    out["scan_stage_split32"] = _scan_stage_cpu(
        spark, lambda: _full_plan(spark, fixture, 8))
    print(f"scan stage, forced splits: {out['scan_stage_split32']}",
          flush=True)
    spark.stop()
    shutil.rmtree(TOKS_TMP, ignore_errors=True)

    shard_walls = [out["legs"][f"full_shards{s}"]["min_s"]
                   for s in (8, 64, 512)]
    out["conclusion"] = {
        "num_shards_moves_wall": max(shard_walls) > 1.5 * min(shard_walls),
        "tokenize_frac_of_full": round(
            out["legs"]["tokenize_only"]["min_s"]
            / out["legs"]["full_shards8"]["min_s"], 2),
        "window_frac_of_full": round(
            out["legs"]["window_only_materialized"]["min_s"]
            / out["legs"]["full_shards8"]["min_s"], 2),
        "split32_speedup": round(
            out["scan_stage_default"]["wall_s"]
            / max(out["scan_stage_split32"]["wall_s"], 1e-9), 2),
        "split32_cpu_inflation": round(
            out["scan_stage_split32"]["scan_stage_cpu_s"]
            / max(out["scan_stage_default"]["scan_stage_cpu_s"], 1e-9), 2),
        "tokenizer_speedup": round(
            out["legs"]["tokenize_definitional"]["min_s"]
            / max(out["legs"]["tokenize_only"]["min_s"], 1e-9), 2),
    }
    dest = os.path.join(HERE, "evidence", "PACKING_DECOMP.json")
    with open(dest, "w") as f:
        json.dump(out, f, indent=1)
    print(f"wrote {dest}\nconclusion: {out['conclusion']}")


if __name__ == "__main__":
    main()
