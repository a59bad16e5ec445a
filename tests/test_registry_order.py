"""Pins the driver-window contract: the first DRIVER_WINDOW registry
entries must cover every SURVEY.md §2 operator id (S7 excluded by
documented design — COVERAGE.md §2.1) AND every LLM-extension operator
family, because the external verification budget checks entries in
iteration order (VERDICT r01 finding 1)."""

from __future__ import annotations

from ecommerce_data_engineering_spark.plans import (
    DRIVER_WINDOW, REGISTRY, _PRIORITY)

SURVEY_IDS = (
    [f"S{i}" for i in (1, 2, 3, 4, 5, 6, 8)]        # S7: by-design exclusion
    + [f"P{i}" for i in range(1, 22)]
    + [f"F{i}" for i in range(1, 9)]
    + [f"J{i}" for i in range(1, 10)]
    + [f"A{i}" for i in range(1, 9)]
    + ["W1", "W2", "O1", "O2", "O3"]
    + [f"M{i}" for i in range(1, 6)]
    + [f"Q{i}" for i in range(1, 8)]
)

EXT_FAMILIES = {"EXT-dedup", "EXT-similarity", "EXT-text", "EXT-multimodal",
                "EXT-asof", "EXT-skew", "EXT-window", "EXT-rollup",
                "EXT-pivot", "EXT-session", "EXT-approx", "EXT-curation",
                "EXT-json", "EXT-percentile"}

# Permanent window residents: the flagship representative of each
# extension family never rotates out (COVERAGE.md "Driver-window rotation").
EXT_MUST_HAVE = {
    "dedup_minhash_lsh", "dedup_clusters",
    "embedding_ann_ivf", "embedding_ann_production",
    "text_pii_redaction",
    "multimodal_audio_decode",
    "purchase_click_asof", "event_user_enrichment",
    "events_session_window_native",
    "corpus_curation_funnel", "corpus_chunk_dedup",
    "corpus_decontaminate",
}

# r8 rotation cohort — the FINAL one (VERDICT r7 #1): the last 7
# never-driver-verified queries (all EXT-curation) plus the new
# production ANN flagship (VERDICT r7 #2) take their first official
# CORRECTNESS rows.  After r8, every registered query holds at least
# one official driver row and the rotation program is complete.
ROTATION_COHORT_R8 = {
    "corpus_deterministic_sample", "corpus_eval_quota_sample",
    "corpus_greedy_packing", "corpus_intradoc_dedup",
    "corpus_mix_rebalance", "corpus_source_mix",
    "corpus_token_histogram",
    "embedding_ann_production",
    "embedding_index_delta",
}


def test_priority_names_all_registered():
    missing = [n for n in _PRIORITY if n not in REGISTRY]
    assert not missing, f"_PRIORITY names not in REGISTRY: {missing}"
    assert len(set(_PRIORITY)) == len(_PRIORITY), "duplicate priority names"


def test_registry_starts_with_priority_order():
    names = list(REGISTRY)
    assert names[:len(_PRIORITY)] == _PRIORITY


def test_driver_window_covers_full_survey_matrix():
    window = list(REGISTRY.values())[:DRIVER_WINDOW]
    covered = {c for spec in window for c in spec.covers}
    missing = [i for i in SURVEY_IDS if i not in covered]
    assert not missing, f"§2 ids uncovered in first {DRIVER_WINDOW}: {missing}"
    ext_missing = EXT_FAMILIES - covered
    assert not ext_missing, f"EXT families uncovered: {ext_missing}"


def test_driver_window_contains_extension_queries():
    window_names = set(list(REGISTRY)[:DRIVER_WINDOW])
    missing = EXT_MUST_HAVE - window_names
    assert not missing, f"extension queries outside driver window: {missing}"


def test_rotation_cohort_in_window_and_truly_first_time():
    """VERDICT r7 #1: the r8 cohort must sit inside the driver window
    AND have no row in any committed past-round CORRECTNESS artifact —
    the rotation's whole point is first-time official verification."""
    import glob
    import json
    import os

    window_names = set(list(REGISTRY)[:DRIVER_WINDOW])
    missing = ROTATION_COHORT_R8 - window_names
    assert not missing, f"cohort outside driver window: {missing}"

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    seen: set[str] = set()
    # rounds strictly BEFORE the cohort's own round (r8) — parse the
    # round number instead of a single-digit glob so the check stays
    # right past r9 (ADVICE r8)
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        rnd = int(os.path.basename(path)[len("CORRECTNESS_r"):-len(".json")])
        if rnd >= 8:
            continue
        with open(path) as f:
            seen |= set(json.load(f))
    assert seen, "past CORRECTNESS artifacts missing — wrong cwd?"
    stale = ROTATION_COHORT_R8 & seen
    assert not stale, f"cohort members already driver-verified: {stale}"
    # the r8 done-bar (VERDICT r7 #1+#2): 7 curation + the ANN flagship
    # + the new O(new) index-maintenance query (born in r8, enters the
    # window immediately — the rotation-complete invariant requires it)
    assert len(ROTATION_COHORT_R8) == 9


def test_rotation_program_complete():
    """After the r8 window landed, EVERY registered query is either in
    the current driver window or already holds an official driver row
    from a committed past round — the rotation program's completion claim,
    pinned so a future query addition must enter the window (or this
    test forces the claim to be restated)."""
    import glob
    import json
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    seen: set[str] = set()
    # ALL committed driver artifacts count as official rows here —
    # glob every round so the completion invariant keeps growing past
    # r9 instead of silently freezing at r7 (ADVICE r8)
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        with open(path) as f:
            seen |= set(json.load(f))
    window_names = set(list(REGISTRY)[:DRIVER_WINDOW])
    never = set(REGISTRY) - seen - window_names
    assert not never, (
        f"queries with no official driver row that are also outside "
        f"the current window: {sorted(never)}")


def test_window_queries_are_oracle_checked():
    """Every window query carries a full SQL oracle — since r4 even the
    HLL sketch verifies via its exact-count + bounded-error-flag
    contract (the raw estimate stays out of the output)."""
    window = list(REGISTRY.items())[:DRIVER_WINDOW]
    rows_only = {n for n, s in window if s.oracle is None}
    assert not rows_only, rows_only


def test_bench_headliners_never_lose_verification():
    """VERDICT r3 #8: _PRIORITY carries 30+ past-window names, so a
    bench=True query can drift out of the driver window — pin that
    every benched query still carries a SQL oracle (past-window
    queries are swept by test_oracle_diff + scripts/scale_correctness,
    in-window ones by the driver), i.e. a bench headliner can never
    silently become rows-only."""
    unverified = sorted(n for n, s in REGISTRY.items()
                        if s.bench and s.oracle is None)
    assert not unverified, (
        f"bench=True queries without an oracle: {unverified}")


def test_r12_revert_of_r11_window_swap():
    """VERDICT r11 #1: the r11-born corpus_leakage_safe_split displaced
    corpus_filter_pipeline from the 50-slot driver window — the r11
    gate failure.  r12 reverts the swap: corpus_filter_pipeline is back
    in its tier-9 slot; corpus_leakage_safe_split (which took its first
    official driver row in r11 — pinned below) heads tier 10 and stays
    locally oracle-diffed.  Coverage of the demoted query's ids must be
    carried by window stayers."""
    import json
    import os

    window = list(REGISTRY.items())[:DRIVER_WINDOW]
    window_names = {n for n, _ in window}
    assert "corpus_filter_pipeline" in window_names
    assert "corpus_leakage_safe_split" not in window_names
    # the demotion is safe only because the r11 driver row exists
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "CORRECTNESS_r11.json")) as f:
        r11 = json.load(f)
    row = r11.get("corpus_leakage_safe_split")
    assert row and row["rows_match"] and row["schema_match"] \
        and row["hash_match"], (
            "corpus_leakage_safe_split has no green r11 driver row — "
            "it must not leave the window")
    covered = {c for _, s in window for c in s.covers}
    for cid in REGISTRY["corpus_leakage_safe_split"].covers:
        assert cid in covered, f"demoted id {cid} lost from window"


# The driver window as of the r12 revert — FROZEN (VERDICT r11 #1).
# Every swap produces a one-round "dropped" entry in the driver's PERF
# comparison, so the window may only change when a BUILD round
# deliberately registers a new query (restate this list in the same
# commit).  Optimization rounds must never touch it.
FROZEN_WINDOW_R12 = (
    "clean_customer_strings", "coerce_event_props", "dq_summary",
    "dim_time_from_orders", "dim_time_insert_if_absent",
    "scd2_customer_merge", "fact_orders_build", "customer_metrics",
    "product_metrics", "monthly_trends", "acquisition_summary",
    "campaign_attribution", "top_products", "pricing_summary",
    "sql_api_revenue_by_status", "customer_set_ops",
    "top_revenue_orders", "shipmode_priority_buckets",
    "customer_full_name", "dq_contract", "ingest_refresh_roundtrip",
    "pipeline_daily_sales", "purchase_click_asof",
    "event_user_enrichment", "events_session_window_native",
    "cdc_incremental_metrics", "customer_value_quartiles",
    "events_rollup_cascade", "unpivot_monthly_metrics",
    "order_value_percentiles_approx", "events_json_props",
    "dedup_minhash_lsh", "dedup_clusters", "corpus_intradoc_dedup",
    "embedding_ann_ivf", "embedding_ann_production",
    "embedding_index_delta", "embedding_ivf_kmeans",
    "text_pii_redaction", "multimodal_audio_decode",
    "corpus_curation_funnel", "corpus_chunk_dedup",
    "corpus_decontaminate", "corpus_filter_pipeline",
    "corpus_deterministic_sample", "corpus_eval_quota_sample",
    "corpus_greedy_packing", "corpus_mix_rebalance",
    "corpus_source_mix", "corpus_token_histogram",
)


def test_driver_window_frozen_r12():
    """The exact, ordered driver window is pinned: a dropped/renamed/
    reordered window query is a driver-level regression regardless of
    anything else (the r11 verdict).  Any deliberate future change must
    restate FROZEN_WINDOW_R12 in the same commit with its rationale."""
    assert len(FROZEN_WINDOW_R12) == DRIVER_WINDOW
    assert list(REGISTRY)[:DRIVER_WINDOW] == list(FROZEN_WINDOW_R12)
