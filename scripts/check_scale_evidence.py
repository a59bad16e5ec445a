"""Assert the repo's scale-correctness evidence is green AND quoted
fresh in SCALE.md — one command for the verify recipe instead of a
growing pile of inline snippets (r4 lesson: evidence records go stale
silently while the unit/oracle suites stay green).

Checks every SCALE_SWEEP*.json under evidence/ (the records moved off
the repo root in r7; SCALE.md carries the index):

- ``n_failed == 0`` (a recorded failure is a red build, full stop);
- SCALE.md cites the record by filename (so a new record can't land
  without the prose that says what it proves);
- the untagged SCALE_SWEEP.json (the authoritative 4x full sweep)
  keeps the exact "N of the M" claim SCALE.md quotes.

The other records (RECALL, ANN_SCALING) must be cited too, and the
verdict that ANN_SCALING carries must still hold.

Exit 0 with a one-line summary per record, exit 1 with the reason
otherwise.
"""

from __future__ import annotations

import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
EVID = os.path.join(HERE, "evidence")


def main() -> None:
    md = open(os.path.join(HERE, "SCALE.md")).read()
    records = sorted(glob.glob(os.path.join(EVID, "SCALE_SWEEP*.json")))
    if not records:
        sys.exit("no SCALE_SWEEP*.json records found")
    bad = []
    # a record at the repo root is a write from pre-r7 tooling (or an
    # in-flight sweep started before the move).  It is an ERROR, not a
    # note: a stale root duplicate sharing its basename with the
    # evidence/ copy would otherwise pass the SCALE.md citation check
    # and count as green evidence (ADVICE r7) — and it is NOT added to
    # the checked record set.
    for s in sorted(glob.glob(os.path.join(HERE, "SCALE_SWEEP*.json"))):
        bad.append(f"{os.path.basename(s)}: sits at the repo root — "
                   f"move it under evidence/ (root strays are not "
                   f"counted as evidence)")
    for path in records:
        name = os.path.basename(path)
        rec = json.load(open(path))
        n_total = rec["n_ok"] + rec["n_failed"] + len(rec["skipped"])
        if rec["n_failed"]:
            bad.append(f"{name}: {rec['n_failed']} failed: {rec['failed']}")
        if f"`{name}`" not in md and name not in md:
            bad.append(f"{name}: not cited in SCALE.md")
        if name == "SCALE_SWEEP.json":
            claim = f"{rec['n_ok']} of the {n_total}"
            if claim not in md:
                bad.append(f"SCALE.md does not quote the last full sweep "
                           f"({claim})")
        print(f"{name}: {rec['n_ok']}/{n_total} ok "
              f"(subset={rec.get('subset', 'full')}, "
              f"fixture={rec['fixture']})")
    # r7 artifacts under the same staleness rule: if they exist, SCALE.md
    # must cite them next to the numbers they back (content-level floors
    # are asserted by tests/test_recall_evidence.py for RECALL.json)
    recall = os.path.join(EVID, "RECALL.json")
    if os.path.exists(recall):
        rec = json.load(open(recall))
        if "RECALL.json" not in md:
            bad.append("RECALL.json: not cited in SCALE.md")
        else:
            print(f"RECALL.json: {len(rec['fixtures'])} fixtures, "
                  f"k={rec['k']}, {len(rec['ann_variants'])} ANN variants")
    ann = os.path.join(EVID, "ANN_SCALING.json")
    if os.path.exists(ann):
        rec = json.load(open(ann))
        if "ANN_SCALING.json" not in md:
            bad.append("ANN_SCALING.json: not cited in SCALE.md")
        else:
            legs = rec.get("legs", [])
            miss = [l["label"] for l in legs if not l.get("floor_reached")
                    and l["kind"] == "clustered"]
            if miss:
                bad.append(f"ANN_SCALING.json: clustered legs below the "
                           f"recall floor: {miss}")
            print(f"ANN_SCALING.json: {len(legs)} (fixture, k_cells) "
                  f"legs, floor {rec.get('recall_floor')}")
    if bad:
        sys.exit("STALE/RED scale evidence:\n  " + "\n  ".join(bad))
    print(f"scale evidence fresh: {len(records)} records, all green, "
          f"all cited in SCALE.md")


if __name__ == "__main__":
    main()
