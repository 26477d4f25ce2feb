"""Print the registry census: totals, rows-only set, per-family counts.

Usage: python scripts/census.py
"""

from __future__ import annotations

import collections
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    import __spark_entry__ as m

    qs = m.queries()
    oracles = m.oracle_sql()
    rows_only = [k for k in qs if k not in oracles]
    fams = collections.Counter()
    for name, fn in qs.items():
        mod = getattr(fn, "__module__", "?")
        fams[mod.rsplit(".", 1)[-1] if mod else "?"] += 1
    print(f"queries: {len(qs)}")
    print(f"oracle-paired: {len(oracles)}")
    print(f"rows-only: {len(rows_only)} -> {sorted(rows_only)}")
    import bench

    # HEADLINE = None means "bench the whole registry" (round 3+).
    headline = bench.HEADLINE if bench.HEADLINE is not None else list(qs)
    print(f"bench HEADLINE: {len(headline)}"
          + (" (None -> full registry)" if bench.HEADLINE is None else ""))
    missing_bench = [k for k in headline if k not in qs]
    assert not missing_bench, f"bench names not registered: {missing_bench}"


if __name__ == "__main__":
    main()
