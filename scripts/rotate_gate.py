"""Gate-rotation helper: which registry names has the driver's
correctness gate never sampled?

The driver records a 50-entry prefix of the registry's iteration order
each round (CORRECTNESS_r*.json). The builder rotates `_SHOWCASE` in
``plans/registry.py`` every round so never-sampled queries reach the
gate (VERDICT r3 item 1 / r5 item 1). This script computes the
never-sampled set from whatever CORRECTNESS files exist and prints a
suggested next prefix: the 50 numerically-highest never-sampled
oracle-paired names (newest-first bias, rows-only tier deferred), as a
ready-to-paste Python list.

Usage: python scripts/rotate_gate.py [n]    (default n=50)

Post-saturation regime (round 9+): once CORRECTNESS_r08 lands, every
oracle-paired query has been driver-sampled at least once and this
script will report 0 never-sampled names. The rotation policy then
becomes: lead the prefix with the CURRENT round's new additions (gate
them the round they ship), and fill the rest with re-samples of (a)
queries whose implementation changed this round (hash-neutrality
proof) and (b) the heaviest oracle-paired queries, freshest-green
last. Keep the rows-only tier (and shape-only q50/q74 unless their
partial-green rows are explicitly wanted) off the prefix.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def qnum(name: str) -> int:
    m = re.match(r"q(\d+)", name)
    return int(m.group(1)) if m else 10**9


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 50
    sampled: set[str] = set()
    for path in sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))):
        data = json.load(open(path))
        qs = data.get("queries", data)
        if isinstance(qs, dict):
            sampled.update(qs.keys())
        elif isinstance(qs, list):
            sampled.update(
                x.get("name", x.get("query")) for x in qs
            )
        print(f"read {path}: cumulative sampled = {len(sampled)}")

    from etl_globalretail_spark.plans.registry import ALL_ORACLE, ALL_QUERIES

    never = sorted(set(ALL_QUERIES) - sampled, key=qnum)
    rows_only = [q for q in never if q not in ALL_ORACLE]
    oracle_paired = [q for q in never if q in ALL_ORACLE]
    print(f"registry={len(ALL_QUERIES)} sampled={len(sampled)} "
          f"never={len(never)} (oracle-paired {len(oracle_paired)}, "
          f"rows-only {rows_only})")

    suggestion = sorted(oracle_paired, key=qnum, reverse=True)[:n]
    suggestion = sorted(suggestion, key=qnum)
    if len(suggestion) < n:
        print(f"NOTE: only {len(suggestion)} oracle-paired never-sampled "
              f"names remain; pad the prefix with the rows-only tier or "
              f"re-sampled names.")
    print("\n_SHOWCASE = [")
    for q in suggestion:
        print(f'    "{q}",')
    print("]")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
