"""Synthesize a larger scale factor as N deterministic key-shifted
replicas of an existing testdata dir (VERDICT r6 item 4's scale
rehearsal). Writes OUTSIDE /root/testdata (default /tmp/sfr<N>).

Replica i shifts every primary/foreign key by i x (max_key + 1) of its
table, so referential integrity and key-space density are preserved and
volume scales linearly. Content perturbations:

- documents: replica i != 0 appends a replica tag token " r<i>" to the
  text (and bumps n_chars). This breaks EXACT-duplicate identity only:
  replicas of a doc remain NEAR-duplicates of each other (shingle
  Jaccard ~0.95, far above any banding tau), so every source doc
  becomes a 10-member near-dup family and verified pair counts grow
  ~1000x, not 10x (measured: 237 -> 239,947 q66 pairs). This is a
  DELIBERATE dup-bomb stress for the near-dup/banding tiers — their
  wall time should scale with OUTPUT pair mass, which PLANS.md's soak
  section analyzes; do NOT read near-dup-family query ratios from this
  replica as plan-scaling signal.
- embeddings: replica i perturbs component 0 by i * 1e-3 — breaks
  bit-identity, keeps cosine ~0.9999 (same near-dup-family stress for
  the cosine tiers).
- events: replica i shifts ts by i seconds so per-user streams don't
  carry 10 identical timestamps (as-of/dedup tie semantics).

Usage: python scripts/make_scale_replica.py [n] [src_dir] [out_dir]
Defaults: n=10, src=/root/testdata/sf0.1, out=/tmp/sfr1
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    src = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    out = sys.argv[3] if len(sys.argv) > 3 else "/tmp/sfr1"
    assert not out.startswith("/root/testdata"), "never write testdata"

    from etl_globalretail_spark.session import get_spark
    from etl_globalretail_spark.sources.readers import load_table

    spark = get_spark("scale-replica")
    spark.sparkContext.setLogLevel("ERROR")

    # key gap per table = max(key) + 1, read once
    gaps = {}
    for tbl, key in [
        ("customer", "c_custkey"), ("supplier", "s_suppkey"),
        ("part", "p_partkey"), ("orders", "o_orderkey"),
        ("events", "event_id"), ("documents", "doc_id"),
        ("embeddings", "vec_id"),
    ]:
        gaps[tbl] = (
            load_table(spark, tbl, src).agg(F.max(key)).collect()[0][0] + 1
        )
    ugap = load_table(spark, "events", src).agg(
        F.max("user_id")
    ).collect()[0][0] + 1

    shifts = {
        "region": {}, "nation": {},
        "customer": {"c_custkey": gaps["customer"]},
        "supplier": {"s_suppkey": gaps["supplier"]},
        "part": {"p_partkey": gaps["part"]},
        "orders": {"o_orderkey": gaps["orders"],
                   "o_custkey": gaps["customer"]},
        "lineitem": {"l_orderkey": gaps["orders"],
                     "l_partkey": gaps["part"],
                     "l_suppkey": gaps["supplier"]},
        "events": {"event_id": gaps["events"], "user_id": ugap},
        "documents": {"doc_id": gaps["documents"]},
        "embeddings": {"vec_id": gaps["embeddings"]},
    }

    for tbl, keymap in shifts.items():
        base = load_table(spark, tbl, src)
        if not keymap:  # fixed dims: copy once
            base.write.mode("overwrite").parquet(f"{out}/{tbl}.parquet")
            print(f"WROTE {tbl} (fixed dim)")
            continue
        reps = []
        for i in range(n):
            r = base
            for col, gap in keymap.items():
                r = r.withColumn(
                    col, (F.col(col) + F.lit(i * gap)).cast(
                        dict(base.dtypes)[col]
                    )
                )
            if i and tbl == "documents":
                r = r.withColumn(
                    "text", F.concat(F.col("text"), F.lit(f" r{i}"))
                ).withColumn(
                    "n_chars", F.col("n_chars") + F.lit(len(f" r{i}"))
                )
            if i and tbl == "embeddings":
                r = r.withColumn(
                    "embedding",
                    F.concat(
                        F.array(
                            (F.element_at("embedding", 1)
                             + F.lit(i * 1e-3)).cast("float")
                        ),
                        F.expr(
                            "slice(embedding, 2, size(embedding) - 1)"
                        ).cast("array<float>"),
                    ),
                )
            if i and tbl == "events":
                r = r.withColumn(
                    "ts", F.col("ts") + F.expr(f"INTERVAL {i} SECOND")
                )
            reps.append(r)
        df = reps[0]
        for r in reps[1:]:
            df = df.unionAll(r)
        df.write.mode("overwrite").parquet(f"{out}/{tbl}.parquet")
        print(f"WROTE {tbl} x{n}")
    print("DONE", out)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
