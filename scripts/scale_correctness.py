"""Scale-correctness sweep: run every oracled query Spark-vs-DuckDB on
an arbitrary fixture directory (e.g. the synthetic 4×-sf0.1 corpus from
``make_scaled_fixture.py``) and report per-query verdict + wall time.

    python scripts/make_scaled_fixture.py /tmp/sf_synth 4
    python scripts/scale_correctness.py /tmp/sf_synth

This is the evidence that nothing diverges with SCALE (ties, caps,
overflow, hash-bucket boundaries) rather than with data shape.  The
pair-emitting dedup queries are excluded by DEFAULT purely for
turnaround: their ORACLES are deliberately single-node quadratic
(exhaustive Jaccard, exact all-pairs cosine, recursive-CTE closure) —
~10-15 min each at 4×sf0.1 even on the r4 perturbed fixture (which
keeps cross-copy duplicate density linear: injective per-copy word
map + orthogonal embedding shift, see make_scaled_fixture.py).  Pass
--all for the full record; the authoritative result lands in
SCALE_SWEEP.json and is quoted in SCALE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"))

# oracle cost is O(n_docs^2 · shingles) or O(|Q|·|C|·dim) single-node —
# the Spark side of each has a bucketed/blocked plan, the DuckDB twin
# does not (by construction: the oracle states semantics, not strategy)
QUADRATIC_ORACLES = {
    # pair-EMITTING operators whose single-node DuckDB oracles are
    # exhaustive by construction (the oracle states semantics, not
    # strategy) — the slow tail of a full sweep, skipped by default
    # for turnaround and included via --all for the record.
    "dedup_ngram_jaccard", "dedup_jaccard_prefix", "dedup_clusters",
    "dedup_simhash_pairs", "dedup_embedding_cosine",
    "dedup_embedding_clusters",
}


def _usage_abort(msg: str) -> None:
    sys.stderr.write(
        f"scale_correctness: {msg}\n"
        "usage: scale_correctness.py [FIXTURE_DIR] [--all] [--bench] "
        "[--bounded] [--only NAME[,NAME...]] [--tag=NAME] [--force]\n"
        "  --all    include the quadratic-oracle pair-emitters\n"
        "  --bounded  compare via engine-side count+digest (VERDICT r7 "
        "#4: row-emitters stop paying the pandas canonicalization tax); "
        "queries with non-scalar outputs fall back to the full compare "
        "and are listed in the record's digest_fallback\n"
        "  --bench  restrict to bench-flagged queries (still writes a "
        "record, marked subset=bench)\n"
        "  --only   spot-check named queries only (writes a record only "
        "when --tag names one; untagged spot checks never write)\n"
        "  --tag    write SCALE_SWEEP_<tag>.json instead of "
        "SCALE_SWEEP.json (per-fixture records)\n"
        "  --force  allow overwriting a record made from a DIFFERENT "
        "fixture dir\n")
    sys.exit(2)


def main() -> None:
    # Strict flag parsing (ADVICE r5): a mistyped/misformatted flag used
    # to be silently ignored, so '--only name' (space form) ran the FULL
    # sweep and clobbered the authoritative scale-evidence record.
    sf_dir, include_all, only, tag, force, bench = None, False, None, None, False, False
    bounded = False
    argv, i = sys.argv[1:], 0
    while i < len(argv):
        a = argv[i]
        if a == "--all":
            include_all = True
        elif a == "--bench":
            bench = True
        elif a == "--bounded":
            bounded = True
        elif a == "--force":
            force = True
        elif a == "--only":
            i += 1
            if i >= len(argv) or argv[i].startswith("--"):
                _usage_abort("--only needs a query-name argument")
            only = set(argv[i].split(","))
        elif a.startswith("--only="):
            only = set(a.split("=", 1)[1].split(","))
        elif a.startswith("--tag="):
            tag = a.split("=", 1)[1]
            if not tag or not all(c.isalnum() or c == "_" for c in tag):
                _usage_abort(f"bad --tag {tag!r} (want [A-Za-z0-9_]+; "
                             "'16x' is a fine tag)")
        elif a.startswith("-"):
            _usage_abort(f"unknown flag {a!r}")
        elif sf_dir is None:
            sf_dir = a
        else:
            _usage_abort(f"unexpected extra positional {a!r}")
        i += 1
    sf_dir = sf_dir or "/tmp/sf_synth"
    if not os.path.isdir(sf_dir):
        _usage_abort(f"fixture dir {sf_dir!r} does not exist")

    from pyspark.sql import SparkSession

    from oracle import DigestUnsupported, compare, digest_compare, duckdb_run
    from ecommerce_data_engineering_spark.plans import (REGISTRY,
                                                        clear_query_memo)
    from ecommerce_data_engineering_spark.session import driver_memory

    # 4x-sf0.1 pair-emitting queries need real executor heap (the 1g
    # JVM default OOMs on the ~1.2M-pair simhash/jaccard volume the
    # tiny fixture vocabulary produces); at cluster scale this is the
    # executor memory the cluster manager provides.
    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.driver.memory", driver_memory())
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    fails, skipped, n_ok, secs = [], [], 0, {}
    failed_names, digest_fallback = [], []
    for name, spec in sorted(REGISTRY.items()):
        if spec.oracle is None:
            continue
        if only is not None and name not in only:
            continue
        if bench and not spec.bench:
            continue
        if name in QUADRATIC_ORACLES and not include_all:
            skipped.append(name)
            continue
        t0 = time.time()
        try:
            if bounded:
                try:
                    errs = digest_compare(spec.fn(spark, sf_dir),
                                          spec.oracle, sf_dir, name)
                except DigestUnsupported:
                    digest_fallback.append(name)
                    errs = compare(spec.fn(spark, sf_dir),
                                   duckdb_run(spec.oracle, sf_dir), name)
            else:
                errs = compare(spec.fn(spark, sf_dir),
                               duckdb_run(spec.oracle, sf_dir), name)
        except Exception as ex:                       # noqa: BLE001
            errs = [f"{name}: {type(ex).__name__}: {ex}"]
        # each query runs once here: drop its memoized plan so Spark can
        # clean its shuffle files and broadcasts before the next one
        clear_query_memo(spark)
        dt = time.time() - t0
        secs[name] = round(dt, 1)
        if errs:
            fails += errs
            failed_names.append(name)
            print(f"FAIL {name} ({dt:.1f}s): {errs[0][:160]}", flush=True)
        else:
            n_ok += 1
            print(f"ok   {name} ({dt:.1f}s)", flush=True)
    print(f"\n{n_ok} ok, {len(fails)} failed, "
          f"{len(skipped)} skipped (quadratic single-node oracle): "
          f"{sorted(skipped)}")
    # Machine artifact (r4 VERDICT #8): the verify recipe asserts
    # SCALE.md's recorded counts against the LAST RUN of each record, so
    # the evidence can't silently go stale while the unit/oracle suites
    # stay green.  --only spot checks never write; since r6 records are
    # PER-FIXTURE (--tag → SCALE_SWEEP_<tag>.json) and a record made
    # from a different fixture dir refuses to be overwritten without
    # --force (ADVICE r5: a mistyped spot-check at a small fixture must
    # not clobber the authoritative 4x record).
    # --only alone never writes (spot checks are throwaway); --only
    # WITH --tag is a deliberate named-subset record (e.g. the 16x
    # pair-emitter sweep, whose two all-pairs embedding oracles are
    # excluded by cost and documented in SCALE.md).
    if only is None or tag:
        here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        rec_name = f"SCALE_SWEEP_{tag}.json" if tag else "SCALE_SWEEP.json"
        evid = os.path.join(here, "evidence")     # records live under
        os.makedirs(evid, exist_ok=True)          # evidence/ since r7
        rec_path = os.path.join(evid, rec_name)
        if os.path.exists(rec_path) and not force:
            with open(rec_path) as f:
                prev = json.load(f)
            if prev.get("fixture") != sf_dir:
                sys.stderr.write(
                    f"REFUSING to overwrite {rec_name} (records fixture "
                    f"{prev.get('fixture')!r}, this run used {sf_dir!r}). "
                    "Use --tag=<name> for a per-fixture record or --force "
                    "to replace it.\n")
                sys.exit(2)
        with open(rec_path, "w") as f:
            subset = ("only:" + ",".join(sorted(only)) if only is not None
                      else "bench" if bench else "full")
            rec = {"fixture": sf_dir, "all": include_all,
                   "subset": subset,
                   "n_ok": n_ok, "n_failed": len(failed_names),
                   "failed": sorted(failed_names),
                   "skipped": sorted(skipped),
                   "seconds": secs}
            if bounded:
                rec["mode"] = "bounded"
                rec["digest_fallback"] = sorted(digest_fallback)
            json.dump(rec, f, indent=1)
        print(f"wrote {rec_name}")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
