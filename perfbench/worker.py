"""One benchmark process: start the engine, run timed passes or the check.

``run.py`` starts this script in a fresh interpreter, so every process
pays the engine's real set-up cost (JVM launch, session, query registry
import) and its first pass is cold. The process writes one JSON document
with its spans and counters to ``--out``.

What a process does after set-up depends on its flags:

- ``--measure``: a cold pass, then steady passes until ``--seconds`` have
  been spent and at least ``STEADY_PASSES`` have run. Each pass visits
  every workload query once, in an order drawn from the seed. Queries
  listed under ``write`` save parquet into the run's DW directory in
  overwrite mode; ``read`` queries go to the noop sink.
- ``--check``: afterwards, compare every query's result with its DuckDB
  oracle on the same data, outside the timed passes. Write queries are
  checked by reading back the parquet this process wrote last.
- neither: the process only sets up, which gives one more set-up sample.

Spans are recorded around the two calls made into the engine per query:
the query function ``queries()[name](spark, data_dir)`` and the action that
runs the plan.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import random
import sys
import time
import traceback

import procs

# Steady passes still get faster as the JVM warms up, so the metrics use
# exactly the first STEADY_PASSES of them (run.py), however many ran: a
# faster tree that fits more passes into --seconds is not credited with
# later, warmer ones. This also fixes the latency samples behind
# query_tail_s.
STEADY_PASSES = 5


def pass_order(names: list[str], seed: int, index: int) -> list[str]:
    """The order of one pass: a permutation fixed by (seed, pass)."""
    order = list(names)
    random.Random(f"{seed}/{index}").shuffle(order)
    return order


def _load_check_rule(root: str):
    """The multiset comparison of ``scripts/check_oracle.py``, reused as is."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_check_oracle", os.path.join(root, "scripts", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def run_query(spark, fn, name: str, data_dir: str, dw_dir: str | None) -> dict:
    """Build and run one query; return its span (epoch seconds)."""
    span = {"query": name, "t0": time.time()}
    try:
        df = fn(spark, data_dir)
        span["t_build"] = time.time()
        if dw_dir is not None:
            out = os.path.join(dw_dir, name)
            df.write.mode("overwrite").parquet(out)
            span["t_action"] = time.time()
            span["files"] = sum(f.startswith("part-") for f in os.listdir(out))
        else:
            df.write.format("noop").mode("overwrite").save()
            span["t_action"] = time.time()
    except Exception:  # a failing query is counted, the pass goes on
        span["error"] = traceback.format_exc(limit=3)[-2000:]
    finally:
        # The action was the terminal use of any cache tied to the plan.
        spark.catalog.clearCache()
        span["t_end"] = time.time()
    return span


def measure(spark, qs, spec: dict, args) -> dict:
    writes = set(spec["write"])
    names = spec["write"] + spec["read"]
    passes = []
    deadline = None
    index = 0
    while deadline is None or index <= STEADY_PASSES or time.time() < deadline:
        cpu0 = procs.cpu_seconds(os.getpid())
        t0 = time.time()
        spans = [
            run_query(spark, qs[name], name, args.data,
                      args.dw if name in writes else None)
            for name in pass_order(names, args.seed, index)
        ]
        t1 = time.time()
        passes.append({
            "index": index, "cold": index == 0, "t0": t0, "t1": t1,
            "wall_s": t1 - t0,
            "cpu_s": procs.cpu_seconds(os.getpid()) - cpu0,
            "mem_mb": procs.memory_bytes(os.getpid()) / 2**20,
            "spans": spans,
        })
        if deadline is None:  # the cold pass is not part of --seconds
            deadline = time.time() + args.seconds
        index += 1
    return {"passes": passes}


def check(spark, qs, oracles: dict, spec: dict, args) -> dict:
    import duckdb

    rule = _load_check_rule(args.root)
    con = duckdb.connect()
    for table in rule.TABLES:
        path = os.path.join(args.data, f"{table}.parquet")
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
    results = []
    for name in spec["write"] + spec["read"]:
        problem = None
        try:
            if name in spec["write"]:
                df = spark.read.parquet(os.path.join(args.dw, name))
            else:
                df = qs[name](spark, args.data)
            srows = df.collect()
            scols = [f.name for f in df.schema.fields]
            spark.catalog.clearCache()
            res = con.execute(oracles[name])
            drows = res.fetchall()
            dcols = [d[0].lower() for d in res.description]
            if len(srows) != len(drows):
                problem = f"rows spark={len(srows)} duckdb={len(drows)}"
            elif sorted(scols) != sorted(dcols):
                problem = f"columns spark={sorted(scols)} duckdb={sorted(dcols)}"
            elif not oracles[name].lstrip().startswith(rule.SHAPE_ONLY_MARKER):
                if rule.multiset(srows, scols) != rule.multiset(drows, dcols):
                    problem = "values differ"
        except Exception:  # counted as a failed check
            problem = traceback.format_exc(limit=3)[-2000:]
        results.append({"query": name, "ok": problem is None, "problem": problem})
    return {"checks": results}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--root", required=True)
    ap.add_argument("--workload", required=True, help="names the Spark app")
    ap.add_argument("--spec", required=True,
                    help='the queries, JSON: {"write": [...], "read": [...]}')
    ap.add_argument("--measure", action="store_true")
    ap.add_argument("--check", action="store_true")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=0.0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--dw", required=True)
    ap.add_argument("--conf", default="{}", help="extra Spark conf, JSON")
    ap.add_argument("--t0", type=float, required=True,
                    help="epoch time at which the parent started this process")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    sys.path.insert(0, args.root)
    spec = json.loads(args.spec)

    from etl_globalretail_spark.session import get_spark

    t_gs = time.time()
    spark = get_spark(f"perfbench-{args.workload}", extra_conf=json.loads(args.conf))
    t_gs_end = time.time()
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entry

    qs = entry.queries()
    out = {
        "setup_s": time.time() - args.t0,
        "get_spark_s": t_gs_end - t_gs,
        "cores": spark.sparkContext.defaultParallelism,
    }
    if args.measure:
        out.update(measure(spark, qs, spec, args))
    if args.check:
        out.update(check(spark, qs, entry.oracle_sql(), spec, args))
    spark.stop()  # flushes and closes the event log, if one is on
    with open(args.out, "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main()
