#!/bin/bash
# Regenerate every machine evidence record under evidence/ from scratch.
#
# Run pieces selectively — the full script is hours (the quadratic
# single-node DuckDB oracles dominate; Spark is never the bottleneck).
# The legacy bench harness is retired (last present at commit 767b712)
# and its records with it (last present at commit 5c22305), as are the
# streaming-soak, bucketed-join and packing-decomposition timing
# scripts and their records (last present at commit a27ea52);
# perfbench/run.py is the repo's benchmark.
#
# Fixture derivation first — driver testdata regenerates every round,
# so derived fixtures must be rebuilt before any sweep that reads them.
set -euo pipefail
cd "$(dirname "$0")/.."

# commit-time guard (VERDICT r8 #1): make sure the pre-commit hook that
# re-asserts evidence freshness is installed in this checkout, so a
# regenerated record can't be committed with a stale SCALE.md citation
bash scripts/install_hooks.sh

echo "== fixtures =="
python scripts/make_scaled_fixture.py /tmp/sf_synth 4
python scripts/make_scaled_fixture.py /tmp/sf_16x 16
python scripts/make_scaled_fixture.py /tmp/sf_64x 64
python scripts/make_skewed_fixture.py /tmp/sf_skew01
python scripts/make_skewed_fixture.py /tmp/sf_skew16x /tmp/sf_16x
python scripts/make_seeded_fixture.py /tmp/sf_seed1 1
python scripts/make_seeded_fixture.py /tmp/sf_seed2 2
python scripts/make_seeded_fixture.py /tmp/sf_seed3 3
# clustered-embedding fixtures (r10): the structured case the IVF
# scaling evidence measures — see ANN_SCALING.json / RECALL.json
python scripts/make_clustered_fixture.py /tmp/sf_clustered 2000 --docs-from=/root/testdata/sf0.1
python scripts/make_clustered_fixture.py /tmp/sf_clustered16x 32000
python scripts/make_clustered_fixture.py /tmp/sf_clustered64x 128000

# --bounded everywhere since r8 (VERDICT r7 #4): the value compare runs
# engine-side (count + order-insensitive digest), so sweeps pay DuckDB
# oracle compute but never the pandas row-canonicalization tax;
# non-scalar outputs fall back to the full compare automatically.
echo "== 1. correctness sweeps (full suites) =="
python scripts/scale_correctness.py /tmp/sf_synth --all --bounded --force
python scripts/scale_correctness.py /root/testdata/sf0.1 --all --bounded --tag=sf01 --force
python scripts/scale_correctness.py /tmp/sf_skew01 --all --bounded --tag=skew --force
for s in 1 2 3; do
  python scripts/scale_correctness.py /tmp/sf_seed$s --all --bounded --tag=seed$s --force
done

echo "== 2. frontier sweeps (16x / 64x / skewed 16x) =="
python scripts/scale_correctness.py /tmp/sf_16x --bench --bounded --tag=16x --force
python scripts/scale_correctness.py /tmp/sf_16x --bounded --tag=16x_full --force
# ALL six quadratic-oracle pair-emitters verify at 16x since r10: the
# word-based four in one record, dedup_embedding_cosine (a ~16-min
# true all-pairs DuckDB oracle at 16x) in its own, and
# dedup_embedding_clusters via the LINEAR invariant oracle (plain-
# Python union-find over the verified cosine pair set — its recursive-
# CTE closure oracle exhausted a measured 70GB DuckDB pin budget,
# VERDICT r9 #3).  Do NOT run the DuckDB-heavy two concurrently with
# other heavy oracles: DuckDB claims ~80% of RAM per process and
# concurrent sweeps OOM each other (r9 lesson; SPARK_GRAFT_DUCK_MEM
# caps a run, but recursive-CTE oracles hold PINNED blocks that cannot
# spill).
python scripts/scale_correctness.py /tmp/sf_16x --all --bounded \
  --only dedup_clusters,dedup_jaccard_prefix,dedup_ngram_jaccard,dedup_simhash_pairs \
  --tag=16x_pairs --force
python scripts/scale_correctness.py /tmp/sf_16x --all --bounded \
  --only dedup_embedding_cosine --tag=16x_pairs_cos --force
python scripts/verify_clusters_invariant.py /tmp/sf_16x --tag=16x
# 64x: FULL --bench sweep since r11 (tests/test_scale_evidence.py::
# test_scaled_fixture_records_cover_the_bench_set pins n_ok == |bench|;
# the r6-r10 exclusion of fact_lineitem_build/events_sessionization is
# gone — the ~164 s single-node fact-build oracle is paid knowingly).
# An interrupted r11 session re-ran this leg from THIS script's stale
# --only list and shrank the record to 20 queries; keep the script and
# the test in lockstep.
python scripts/scale_correctness.py /tmp/sf_64x --bench --bounded --tag=64x --force
# skew AND volume compounded (VERDICT r7 #6): the full bench set on the
# pathological-key fixture derived from the 16x corpus
python scripts/scale_correctness.py /tmp/sf_skew16x --bench --bounded --tag=skew16x --force

echo "== 3. recall vs exact yardsticks =="
# clustered leg since r10 (VERDICT r9 #4): mixture-of-Gaussians
# embeddings measure the structured case next to the uniform ones
python scripts/ann_recall.py sf0.1=/root/testdata/sf0.1 16x=/tmp/sf_16x \
  clustered=/tmp/sf_clustered

echo "== 3b. IVF k_cells scaling (VERDICT r9 #2) =="
python scripts/ann_scaling.py

echo "== assert everything green and cited =="
python scripts/check_scale_evidence.py
