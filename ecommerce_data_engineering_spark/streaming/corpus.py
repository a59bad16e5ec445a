"""Streaming corpus ingest: the LLM-training data funnel as a
continuous pipeline instead of a batch rebuild.

Micro-batches of documents are exact-deduplicated against EVERYTHING
admitted so far (a versioned content-key registry), quality-gated with
the single-expression Gopher verdict (operators/text.gopher_gate), and
landed in per-epoch output directories.  The composition mirrors the
batch ``corpus_curation_funnel`` stages.

Keeper semantics under streaming are FIRST-ARRIVAL-WINS: within a
batch the keeper is the min doc_id, but across batches whoever arrived
first holds the content key forever — a smaller-id duplicate arriving
in a later micro-batch is dropped, where the batch funnel (global min
doc_id over the full corpus) would have kept it instead.  That is the
inherent streaming contract (state cannot be revised retroactively);
streaming-equals-batch therefore holds exactly when arrival order is
consistent with doc_id order, which the equivalence test arranges via
file mtimes (tests/test_streaming.py).

Exactly-once shape:
- admitted docs write to ``out_path/epoch=N`` with overwrite — a batch
  retry rewrites its own epoch directory instead of duplicating rows;
- every registry key is tagged with the EPOCH that admitted it, and a
  batch ignores keys tagged with its own epoch id when computing what
  has been "seen".  That makes the fold idempotent across the WHOLE
  batch, including the window after the registry publish but before
  Spark commits the batch to the checkpoint: a replay of epoch N sees
  its own failed attempt's keys, excludes them, recomputes the
  identical admitted set, rewrites the identical epoch directory, and
  republishes an identical registry version.  (A crash BEFORE the
  publish trivially replays the same way — the registry is unchanged.)
- the registry publishes through the versioned-table commit marker
  (sources/versioned.py), so a reader never sees a half-written
  registry version.

The registry and the streaming checkpoint share a lifetime: epoch ids
come from the checkpoint, so reusing a registry with a FRESH
checkpoint directory (epoch numbering restarts) is a misuse — start
both empty together.

Scale notes: the registry holds one 32-byte key + epoch long per
distinct document ever seen — compact, but republished per batch here;
at 100 TB it becomes a bucketed keyed table (merge-on-read) or a
Bloom-guarded store, and the per-epoch output directories become
date-partitioned appends.  The per-batch joins are hash joins on the
key column only — document bodies never shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.tokens import content_key
from ..operators.text import gopher_gate
from ..schemas import FIXTURES
from ..sources import versioned as V
from .source import drain


def curated_corpus_incremental(spark: SparkSession, src_dir: str,
                               registry_path: str, out_path: str,
                               checkpoint: str,
                               timeout_s: int = 180) -> DataFrame:
    """Drive the documents feed under ``src_dir`` through the
    streaming curation funnel; returns the curated corpus (union of
    all epoch outputs).  One parquet file per micro-batch
    (maxFilesPerTrigger=1) so redelivered/overlapping feed files
    exercise the cross-batch dedup path."""
    docs = (spark.readStream.schema(FIXTURES["documents"])
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir.rstrip("/")))

    def fold(batch_df: DataFrame, epoch_id: int) -> None:
        sess = batch_df.sparkSession
        keyed = batch_df.withColumn("content_key",
                                    content_key(F.col("text")))
        # in-batch dedup: deterministic keeper = min doc_id per key;
        # the trailing dropDuplicates collapses byte-identical rows
        # (same doc_id AND text repeated inside one feed file), which
        # the join alone would preserve — and which would otherwise
        # admit the document twice and register its key twice
        firsts = (keyed.groupBy("content_key")
                  .agg(F.min("doc_id").alias("doc_id")))
        batch_unique = (keyed.join(firsts, ["content_key", "doc_id"])
                        .dropDuplicates(["content_key"]))
        if V.current_version(sess, registry_path) is None:
            seen = None
            fresh = batch_unique
        else:
            reg = V.read_current(sess, registry_path)
            if "epoch" not in reg.columns:
                # registry written by the pre-epoch-tag code: treat all
                # its keys as admitted by a foreign epoch so they stay
                # "seen" (the tag only matters for replays of batches
                # run under the new code)
                reg = reg.withColumn("epoch", F.lit(-1))
            # a key tagged with THIS epoch id came from a failed attempt
            # of this very batch — treating it as unseen is what makes
            # the replay recompute the identical admitted set instead
            # of overwriting the epoch directory with an empty one
            seen = (reg.filter(F.col("epoch") != epoch_id)
                    .select("content_key", "epoch"))
            fresh = batch_unique.join(seen.select("content_key"),
                                      "content_key", "left_anti")
        fresh_keys = (fresh.select("content_key")
                      .withColumn("epoch", F.lit(epoch_id)))
        merged_keys = (fresh_keys if seen is None
                       else seen.unionByName(fresh_keys))
        # register BEFORE gating: a rejected document's content stays
        # seen, exactly like the batch funnel (dedup keepers are chosen
        # from the full corpus, the gate filters afterward)
        admitted = fresh.filter(gopher_gate("text")).drop("content_key")
        admitted.write.mode("overwrite").parquet(
            f"{out_path.rstrip('/')}/epoch={epoch_id}")
        V.publish_version(merged_keys, registry_path)
        V.vacuum(sess, registry_path, keep=2)

    drain(docs.writeStream.outputMode("append").foreachBatch(fold)
          .option("checkpointLocation", checkpoint),
          "streaming corpus ingest", timeout_s)
    out_glob = f"{out_path.rstrip('/')}/epoch=*"
    # an empty feed (first scheduler run before the producer lands any
    # file) finishes with zero batches and zero epoch directories; the
    # glob read would then raise PATH_NOT_FOUND — a poll loop tolerating
    # an empty feed should get 0 rows, not a crash
    jvm_conf = spark._jsc.hadoopConfiguration()
    jpath = spark._jvm.org.apache.hadoop.fs.Path(out_path)
    fs = jpath.getFileSystem(jvm_conf)
    if not fs.exists(jpath) or not fs.globStatus(
            spark._jvm.org.apache.hadoop.fs.Path(out_glob)):
        return (spark.createDataFrame([], FIXTURES["documents"])
                .withColumn("epoch", F.lit(None).cast("int")))
    return spark.read.option("basePath", out_path).parquet(out_glob)
