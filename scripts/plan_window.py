"""Mechanical driver-window rotation planner.

The driver's correctness harness emits rows for the FIRST 50
`queries()` entries only, so each round the registry must be ordered
so that never-driver-verified entries (and any entry whose only row
predates its oracle, or was red on a since-fixed artifact) occupy the
front. This script computes the CURRENT window and the NEXT round's
recommended ordering from the shipped CORRECTNESS_r*.json files —
the re-order each round is a copy-paste, not a judgment call.

Ordering rule for the next round:
  1. registry entries with NO row in any shipped CORRECTNESS file
     (this round's spill-over block), in current registry order;
  2. entries whose LATEST row is red (rows/schema/hash mismatch) —
     they need a re-verification slot after their fix;
  3. everything else, least-recently-verified first.

Run:  python scripts/plan_window.py
"""

from __future__ import annotations

import glob
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

WINDOW = 50


def main() -> None:
    from shaha_spark.catalog import oracle_sql, queries

    registry = list(queries())
    oracled = set(oracle_sql())

    latest_round: dict[str, str] = {}
    latest_green: dict[str, bool] = {}
    # NUMERIC round order: lexicographic sort would put r10 before r2
    # and let an old round's row overwrite a newer round's verdict
    rounds = sorted(
        glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")),
        key=lambda p: int(os.path.basename(p)[len("CORRECTNESS_r"):-len(".json")]),
    )
    for path in rounds:
        rnd = os.path.basename(path)[len("CORRECTNESS_"):-len(".json")]
        rows = json.load(open(path))
        for name, row in rows.items():
            latest_round[name] = rnd
            if row.get("err") == "no_oracle":
                # a rows-only row is the STRONGEST check available for a
                # query with no oracle; it is stale evidence if the query
                # has since gained one (e.g. similarity_ivf, r1), and it
                # is no evidence at all if the harness recorded no count
                latest_green[name] = (
                    name not in oracled
                    and row.get("spark_rows") is not None
                )
            else:
                latest_green[name] = bool(
                    row.get("rows_match")
                    and row.get("schema_match")
                    and row.get("hash_match") is not False
                    and not row.get("err")
                )

    never = [q for q in registry if q not in latest_round]
    red = [q for q in registry if q in latest_round and not latest_green[q]]
    rest = sorted(
        (q for q in registry if q in latest_round and latest_green[q]),
        key=lambda q: (int(latest_round[q].lstrip("r")), registry.index(q)),
    )

    print(f"# registry: {len(registry)}  never-verified: {len(never)}  "
          f"latest-red: {len(red)}")
    print(f"# CURRENT window (first {WINDOW} registry entries):")
    for i, name in enumerate(registry[:WINDOW], 1):
        tag = ("never" if name in never
               else ("RED " + latest_round[name] if name in red
                     else "green " + latest_round[name]))
        print(f"{i:3d}. {name}  [{tag}]")
    print()
    order = never + red + rest
    print(f"# NEXT-round recommended ordering (window = first {WINDOW}):")
    for i, name in enumerate(order[:WINDOW], 1):
        tag = ("never" if name in never
               else ("red " + latest_round[name] if name in red
                     else latest_round[name]))
        print(f"{i:3d}. {name}  [{tag}]")
    spill = len(never) + len(red) - WINDOW
    if spill > 0:
        print(f"# WARNING: {spill} needs-verification entries fall outside "
              "the next window; list order above decides priority")


if __name__ == "__main__":
    main()
