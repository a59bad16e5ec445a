"""The scale-evidence records are part of the repo's contract: every
committed SCALE_SWEEP*.json must be green (0 failures) and cited in
SCALE.md (r4 lesson — a stale/red evidence record is a red build even
while the unit and oracle suites stay green).  The same assertions run
in the verify recipe via scripts/check_scale_evidence.py; this test
keeps them inside `pytest tests/` so a red record can't be committed
quietly between verify runs.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
EVID = os.path.join(HERE, "evidence")


def test_every_sweep_record_green_and_cited():
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "scripts",
                                      "check_scale_evidence.py")],
        capture_output=True, text=True)
    assert proc.returncode == 0, proc.stdout + proc.stderr


def test_untagged_record_is_the_authoritative_full_sweep():
    rec = json.load(open(os.path.join(EVID, "SCALE_SWEEP.json")))
    # pre-r6 records predate the subset field; absent means full
    assert rec.get("subset", "full") == "full" and rec["all"] is True
    assert not rec["skipped"], (
        "the authoritative record must include the pair-emitters")


def test_seed_records_cover_full_registry():
    # seed-robustness sweeps (VERDICT r5 #3) rerun the FULL suite per
    # seeded fixture; a subset run would silently weaken the claim
    for path in glob.glob(os.path.join(EVID, "SCALE_SWEEP_seed*.json")):
        rec = json.load(open(path))
        assert rec["subset"] == "full" and rec["all"] is True, path


def test_scaled_fixture_records_cover_the_bench_set():
    """The r6 frontier records (16x / 64x) must keep covering the bench
    set they claim: since r11 BOTH are full --bench sweeps (the r6–r10
    64x record excluded fact_lineitem_build / events_sessionization
    for oracle cost; the r11 refresh pays the 164 s single-node
    fact-build oracle and covers everything), 16x_pairs = the four
    word-based pair-emitters whose exhaustive oracles stay tractable.
    A future bench-set change that silently shrinks a record's
    coverage fails here instead of reading as still-green."""
    from ecommerce_data_engineering_spark.plans import REGISTRY
    bench = {n for n, s in REGISTRY.items()
             if s.bench and s.oracle is not None}

    rec16 = json.load(open(os.path.join(EVID, "SCALE_SWEEP_16x.json")))
    assert rec16["subset"] == "bench" and rec16["n_ok"] == len(bench)

    rec64 = json.load(open(os.path.join(EVID, "SCALE_SWEEP_64x.json")))
    assert rec64["subset"] == "bench" and rec64["n_ok"] == len(bench), (
        rec64["subset"], rec64["n_ok"], len(bench))

    # Since r10 the pair-emitter records jointly cover ALL SIX
    # quadratic-oracle queries: the word-based four in one record,
    # dedup_embedding_cosine via its own (~16-minute all-pairs DuckDB
    # oracle), and dedup_embedding_clusters via the LINEAR invariant
    # oracle (scripts/verify_clusters_invariant.py, VERDICT r9 #3 —
    # plain-Python union-find over the separately-verified cosine pair
    # set; its recursive-CTE closure oracle exhausted a measured 70 GB
    # DuckDB pin budget on this fixture's corpus-spanning component).
    covered: set[str] = set()
    for tag, want in (("16x_pairs", 4), ("16x_pairs_cos", 1),
                      ("16x_pairs_clusters", 1)):
        rec = json.load(open(os.path.join(EVID,
                                          f"SCALE_SWEEP_{tag}.json")))
        names = set(rec["subset"].removeprefix("only:").split(","))
        assert rec["n_ok"] == len(names) == want and rec["all"] is True, tag
        assert rec["n_failed"] == 0, tag
        assert "sf_16x" in rec["fixture"], tag
        covered |= names
    assert covered == {
        "dedup_clusters", "dedup_jaccard_prefix",
        "dedup_ngram_jaccard", "dedup_simhash_pairs",
        "dedup_embedding_cosine", "dedup_embedding_clusters"}
    # the invariant record must really be the union-find mode and must
    # have checked a non-trivial graph
    inv = json.load(open(os.path.join(
        EVID, "SCALE_SWEEP_16x_pairs_clusters.json")))
    assert inv["mode"] == "invariant_union_find"
    assert inv["n_nodes"] > 0 and inv["n_pairs"] > 0
    assert inv["problems"] == []


def test_skew_at_volume_record_covers_the_bench_set():
    """VERDICT r7 #6: skew and volume must compound — the pathological
    -key fixture regenerated FROM the 16x corpus (hot keys, NULL mass,
    giant dup cliques at 16x volume) sweeps the full bench set with 0
    failures, proving the salted/null-safe join paths and the LSH
    hot-bucket cap hold when both stresses apply at once."""
    from ecommerce_data_engineering_spark.plans import REGISTRY

    bench = {n for n, s in REGISTRY.items()
             if s.bench and s.oracle is not None}
    rec = json.load(open(os.path.join(EVID, "SCALE_SWEEP_skew16x.json")))
    assert rec["subset"] == "bench" and rec["n_failed"] == 0
    assert rec["n_ok"] == len(bench)
    assert "skew16x" in rec["fixture"]


def test_16x_full_registry_record_covers_everything_tractable():
    """VERDICT r6 #4: the FULL registry verifies at 16x, not just the
    bench subset — every oracled query runs except the six
    quadratic-oracle pair-emitters (skipped with an explicit list in
    the record; since r9 ALL six are separately verified at 16x by the
    _16x_pairs record, so the tier as a whole has zero skips)."""
    from ecommerce_data_engineering_spark.plans import REGISTRY

    rec = json.load(open(os.path.join(EVID, "SCALE_SWEEP_16x_full.json")))
    assert rec["subset"] == "full" and rec["n_failed"] == 0
    oracled = {n for n, s in REGISTRY.items() if s.oracle is not None}
    skipped = set(rec["skipped"])
    assert skipped == {
        "dedup_ngram_jaccard", "dedup_jaccard_prefix", "dedup_clusters",
        "dedup_simhash_pairs", "dedup_embedding_cosine",
        "dedup_embedding_clusters"}
    assert rec["n_ok"] == len(oracled - skipped)
