"""Full-registry soak at a 10x replica dir: run EVERY registered query
once against /tmp/sfr1 (or argv[1]) and report OK/ERR + wall time.

Complements scripts/scale_rehearsal.py (which measures ratios on the 20
heaviest): the soak is the EMPIRICAL scale gate — ANSI mode turns any
int64 overflow in a quantized-integer accumulator into a loud error,
and a hang/blowup shows up as an outlier wall time. A latent N^2-class
accumulator that is silent at sf0.1 (q217's 4N^3 rank moments were) has
10x less headroom to hide here.

Usage: python scripts/sf1_soak.py [sf1_dir] > report
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf1 = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sfr1"
    from etl_globalretail_spark.session import get_spark

    import __spark_entry__ as entry

    spark = get_spark("sf1-soak")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    # warmups: JVM/codegen + the Python worker pool
    qs["q01_revenue_by_region"](spark, sf1).write.format("noop").mode(
        "overwrite").save()
    spark.range(0, 1000, 1, 32).mapInPandas(
        lambda it: it, "id long").write.format("noop").mode(
        "overwrite").save()

    ok, err = {}, {}
    for name in qs:
        t0 = time.time()
        try:
            qs[name](spark, sf1).write.format("noop").mode(
                "overwrite").save()
            ok[name] = round(time.time() - t0, 3)
            print(f"OK {name} {ok[name]}", flush=True)
        except Exception as e:
            err[name] = str(e)[:300]
            print(f"ERR {name} {err[name]}", flush=True)
        spark.catalog.clearCache()
    print(f"DONE ok={len(ok)} err={len(err)}", flush=True)
    print("JSON " + json.dumps({"ok": ok, "err": err}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
