"""Scale rehearsal (VERDICT r6 item 4): run a set of expensive queries
at sf0.1 AND at the synthetic sf1 replica (scripts/make_scale_replica),
interleaved in ONE session, and report per-query wall-time ratios.
A plan that survives 10x data shows time ratio ~ data ratio (~10) or
better; a blowup (>> 10) flags a scale defect.

Usage: python scripts/scale_rehearsal.py [sf1_dir] > report
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

QUERIES = [
    # heaviest bench entries (BENCH_r06 tail) across operator families
    "q252_hits_scores", "q218_kendall_tau", "q96_late_supplier_blame",
    "q260_pareto_frontier", "q217_spearman_corr", "q215_bom_explosion",
    "q220_cohort_ltv", "q213_rollup_rank", "q214_fifo_allocation",
    "q108_min_cost_supplier", "q60_volume_shipping", "q212_kcore_peeling",
    "q127_pricing_summary",
    # LLM-pipeline ops over documents/embeddings (10x corpus)
    "q122_kmeans_exact", "q43_dedup_clusters", "q27_ann_bruteforce",
    "q292_semdedup_prune", "q293_hard_negatives", "q294_dsir_weights",
    "q302_ivf_adc_search",
]


def main() -> int:
    sf1 = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sfr1"
    from etl_globalretail_spark.session import get_spark

    import __spark_entry__ as entry

    spark = get_spark("scale-rehearsal")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    # warmups
    qs["q01_revenue_by_region"](spark, "/root/testdata/sf0.1").write.format(
        "noop").mode("overwrite").save()
    spark.range(0, 1000, 1, 32).mapInPandas(
        lambda it: it, "id long").write.format("noop").mode(
        "overwrite").save()

    def run(name: str, sf_dir: str) -> float:
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            qs[name](spark, sf_dir).write.format("noop").mode(
                "overwrite").save()
            best = min(best, time.time() - t0)
            spark.catalog.clearCache()
        return round(best, 3)

    out = {}
    for name in QUERIES:
        try:
            a = run(name, "/root/testdata/sf0.1")
            b = run(name, sf1)
            out[name] = {"sf0.1": a, "sf1": b,
                         "ratio": round(b / a, 2)}
            print(f"ROW {name} sf0.1={a} sf1={b} ratio={round(b/a,2)}",
                  flush=True)
        except Exception as e:
            out[name] = {"err": str(e)[:300]}
            print(f"ROW {name} ERROR {str(e)[:300]}", flush=True)
    print("JSON " + json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
