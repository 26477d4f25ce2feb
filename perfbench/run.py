"""The repository's benchmark: one workload, measured end to end.

Usage (from the repository root)::

    python3 perfbench/run.py --workload dw --seed 1 --seconds 8 --trace 0

One run generates its input tables from ``--seed`` (``datagen.py``), then
starts ``worker.py`` three times in a row, each in a fresh interpreter:

1. and 2. set-up only: two more samples of ``setup_s``, which is reported
   as the median of three.
3. set-up, one cold pass, then steady passes for ``--seconds`` and at
   least ``worker.STEADY_PASSES``. The metrics use the first
   ``STEADY_PASSES`` steady passes, so every run averages the same passes.
   Every pass visits each query of the workload once, in an order drawn
   from the seed. One client, closed loop, ``local[nproc]``. Then every
   query's result is compared with its DuckDB oracle (write queries
   through the parquet they wrote), outside the timed passes.

The JVM keeps warming up for tens of seconds, so nearly all of a run's
measured time goes to steady passes in one process rather than to more
processes, each of which would pay set-up and a cold pass again.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` turns on Spark's event log in the
measuring process and reports per-layer metrics attributed from it
(``eventlog.py``). The line before it holds the run's details: host, tail
percentile and sample counts, failures.

Everything the run writes goes under ``.perfbench_work/`` in the
repository root, which is cleared when a run starts.
"""

from __future__ import annotations

import argparse
import fcntl
import importlib.metadata
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import procs  # noqa: E402
import eventlog  # noqa: E402
from worker import STEADY_PASSES  # noqa: E402

WORKLOADS = os.path.join(HERE, "workloads.json")
ENGINE_FILES = (
    "etl_globalretail_spark/session.py",
    "__spark_entry__.py",
    "scripts/check_oracle.py",
)
# (measure, check) for each worker process, in the order they run.
PLAN = ((False, False), (False, False), (True, True))
RUN_LIMIT_S = 170.0
TAIL_PERCENTILES = (99.9, 99, 95, 90, 75, 50)
TAIL_MIN_ABOVE = 10


def _mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        return int(f.readline().split()[1])  # the MemTotal line


def host_record() -> dict:
    """What the host looked like when the run started."""
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    sha = "unknown"
    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
            env={**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(ROOT)},
        ).stdout.strip() or "unknown"
    except (OSError, subprocess.TimeoutExpired):
        pass
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gib": round(_mem_total_kb() / 2**20, 1),
        "loadavg": load,
        "git_sha": sha,
        "pyspark": importlib.metadata.version("pyspark"),
    }


def cpu_steal() -> tuple[int, int]:
    """(steal ticks, all ticks) from the host's aggregate CPU line."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def pinned_env(work: str) -> dict[str, str]:
    """The engine's defaults (local[32], 16g of driver memory) do not fit a small
    host, so the harness sets cores, memory and every scratch directory."""
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_DRIVER_MEM=f"{min(1024, _mem_total_kb() // 4096)}m",
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=os.path.join(work, "tmp"),
        PYTHONPATH=os.pathsep.join(filter(None, (ROOT, os.environ.get("PYTHONPATH")))),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    return env


def spark_conf(work: str, traced: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if traced:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _stop_group(pgid: int) -> None:
    """Stop every process left in the worker's process group and wait."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.time() + wait_s
        while time.time() < end:
            if not procs.group_members(pgid):
                return
            time.sleep(0.1)


def run_worker(proc: int, measure: bool, check: bool, spec: dict, args,
               work: str, env: dict, traced: bool, deadline: float) -> dict:
    out = os.path.join(work, "out", f"proc-{proc}.json")
    log = os.path.join(work, "out", f"proc-{proc}.log")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--root", ROOT, "--workload", args.workload, "--spec", json.dumps(spec),
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--data", os.path.join(work, "data"),
        "--dw", os.path.join(work, "dw"),
        "--conf", json.dumps(spark_conf(work, traced)),
        "--t0", repr(time.time()), "--out", out,
    ] + ["--measure"] * measure + ["--check"] * check
    with open(log, "w") as logf:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=logf,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _stop_group(p.pid)
            p.wait()
    if code != 0 or not os.path.exists(out):
        with open(log) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(
            f"worker process {proc} "
            f"{'timed out' if code is None else f'exited with {code}'}:\n{tail}")
    with open(out) as f:
        return json.load(f)


def tail_latency(values: list[float]) -> tuple[float, float, int]:
    """(percentile, value, samples): the highest percentile with at least
    ``TAIL_MIN_ABOVE`` samples above it, nearest-rank; the maximum if no
    percentile has that many."""
    xs = sorted(values)
    n = len(xs)
    for p in TAIL_PERCENTILES:
        rank = max(1, math.ceil(p * n / 100))
        if n - rank >= TAIL_MIN_ABOVE:
            return p, xs[rank - 1], n
    return 100.0, xs[-1], n


def end_to_end(results: list[dict]) -> tuple[dict, dict]:
    passes = next(r for r in results if "passes" in r)["passes"]
    cold, steady = passes[0], passes[1:1 + STEADY_PASSES]
    lat = [s["t_action"] - s["t0"] for p in steady for s in p["spans"]
           if "error" not in s]
    pct, tail, n = tail_latency(lat)
    metrics = {
        "setup_s": (statistics.median(r["setup_s"] for r in results), "s"),
        "cold_wall_s": (cold["wall_s"], "s"),
        # Means, not medians: the steady passes still speed up one after
        # another, so their median jumps between neighbouring passes while
        # the mean of the same passes in every run does not.
        "wall_s": (statistics.fmean(p["wall_s"] for p in steady), "s"),
        "cpu_s": (statistics.fmean(p["cpu_s"] for p in steady), "s"),
        "query_p50_s": (statistics.median(lat), "s"),
        "query_tail_s": (tail, "s"),
        "peak_rss_mb": (max(p["mem_mb"] for p in [cold, *steady]), "MB"),
    }
    details = {
        "query_tail_percentile": pct, "query_samples": n,
        "steady_passes_used": len(steady),
        "steady_passes_run": len(passes) - 1, "processes": len(results),
    }
    return metrics, details


def per_layer(results: list[dict], records: list[dict], writes: set[str]) -> dict:
    traced = next(r for r in results if "passes" in r)
    cores = traced["cores"]
    by_pass: dict[int, list[dict]] = {}
    for rec in records:
        by_pass.setdefault(rec["pass"], []).append(rec)
    steady = traced["passes"][1:1 + STEADY_PASSES]

    def per_pass(p: dict) -> dict:
        recs = by_pass[p["index"]]
        tot = {k: sum(r[k] for r in recs) for k in eventlog.COUNTERS}
        build = sum(r["build_s"] for r in recs)
        action = sum(r["action_s"] for r in recs)
        py = tot["py_start_s"] + tot["py_init_s"] + tot["py_run_s"]
        w = [s for s in p["spans"] if s["query"] in writes and "error" not in s]
        return {
            "plans.build_s": (build, "s"),
            "plans.build_jobs": (tot["build_jobs"], "count"),
            "plans.build_share": (build / (build + action), "ratio"),
            "plans.action_s": (action, "s"),
            "plans.action_jobs": (tot["action_jobs"], "count"),
            "plans.stages": (tot["stages"], "count"),
            "plans.tasks": (tot["tasks"], "count"),
            "plans.task_run_s": (tot["task_run_s"], "s"),
            "plans.task_cpu_s": (tot["task_cpu_s"], "s"),
            "plans.gc_s": (tot["gc_s"], "s"),
            "plans.slot_util": (tot["task_run_s"] / (cores * p["wall_s"]),
                                "ratio"),
            "plans.sched_gap_s": (sum(r["sched_gap_s"] for r in recs), "s"),
            "plans.shuffle_write_bytes": (tot["shuffle_write_bytes"], "B"),
            "plans.shuffle_read_bytes": (tot["shuffle_read_bytes"], "B"),
            "plans.shuffle_fetch_wait_s": (tot["shuffle_fetch_wait_s"], "s"),
            "plans.spill_bytes": (tot["spill_bytes"], "B"),
            "sources.input_bytes": (tot["input_bytes"], "B"),
            "sources.input_rows": (tot["input_rows"], "count"),
            "sources.scan_time_s": (tot["scan_time_s"], "s"),
            "sources.write_s": (sum(s["t_action"] - s["t_build"] for s in w), "s"),
            "sources.bytes_written": (tot["bytes_written"], "B"),
            "sources.files_written": (sum(s["files"] for s in w), "count"),
            "sources.rows_written": (tot["rows_written"], "count"),
            "operators.py_start_s": (tot["py_start_s"], "s"),
            "operators.py_init_s": (tot["py_init_s"], "s"),
            "operators.py_run_s": (tot["py_run_s"], "s"),
            "operators.arrow_bytes_to_py": (tot["arrow_bytes_to_py"], "B"),
            "operators.arrow_bytes_from_py": (tot["arrow_bytes_from_py"], "B"),
            "operators.py_run_ratio": (tot["py_run_s"] / py if py else 0.0,
                                       "ratio"),
            "streaming.batch_jobs": (tot["stream_jobs"], "count"),
            "streaming.batch_s": (tot["stream_s"], "s"),
            "harness.self_s": (sum(r["self_s"] for r in recs), "s"),
        }

    rows = [per_pass(p) for p in steady]
    metrics = {k: (statistics.fmean(r[k][0] for r in rows), rows[0][k][1])
               for k in rows[0]}
    metrics["session.get_spark_s"] = (
        statistics.median(r["get_spark_s"] for r in results), "s")
    # Minus wall_s of an untraced run, this is the tracing overhead.
    metrics["trace.wall_s"] = (statistics.fmean(p["wall_s"] for p in steady), "s")
    metrics["trace.split_violations"] = (
        sum(not r["split_ok"] for r in records), "count")
    return metrics


def trace_records(result: dict, work: str) -> list[dict]:
    logs = [os.path.join(work, "eventlog", f) for f in
            os.listdir(os.path.join(work, "eventlog"))]
    if len(logs) != 1 or logs[0].endswith(".inprogress"):
        raise RuntimeError(f"expected one finished event log, found {logs}")
    spans = []
    for p in result["passes"]:
        for s in p["spans"]:
            spans.append({**s, "pass": p["index"]})
    records = eventlog.attribute(eventlog.read_events(logs[0]), spans)
    for rec, span in zip(records, spans):
        rec["pass"] = span["pass"]
    return records


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=None,
                    help="data scale factor (default: workloads.json)")
    args = ap.parse_args()
    # Turn a kill into SystemExit, so the running worker's group is stopped.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    start = time.time()
    deadline = start + RUN_LIMIT_S

    missing = [f for f in ENGINE_FILES if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        print(f"engine source not found next to perfbench/: {missing}",
              file=sys.stderr)
        return 2
    with open(WORKLOADS) as f:
        catalog = json.load(f)
    if args.workload not in catalog["workloads"]:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    spec = catalog["workloads"][args.workload]
    scale = args.scale if args.scale is not None else catalog["scale"]

    work = os.path.join(ROOT, ".perfbench_work")
    # Runs in one checkout share the work directory: refuse to overlap.
    lock = open(work + ".lock", "w")
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except BlockingIOError:
        print("another benchmark run holds " + lock.name, file=sys.stderr)
        return 2
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("data", "dw", "local", "tmp", "eventlog", "out", "warehouse"):
        os.makedirs(os.path.join(work, sub))
    host = host_record()
    steal0 = cpu_steal()
    data_rows = datagen.write(os.path.join(work, "data"), scale, args.seed)
    env = pinned_env(work)

    results = [
        run_worker(i, measure, check, spec, args, work, env,
                   args.trace == 1 and measure, deadline)
        for i, (measure, check) in enumerate(PLAN)
    ]
    steal1 = cpu_steal()
    host["cpu_steal_pct"] = round(
        100.0 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]), 2)

    spans = [s for r in results for p in r.get("passes", ()) for s in p["spans"]]
    checks = [c for r in results for c in r.get("checks", ())]
    errors = [{"query": s["query"], "error": s["error"]} for s in spans
              if "error" in s]
    errors += [{"query": c["query"], "error": c["problem"]} for c in checks
               if not c["ok"]]
    attempted = len(spans) + len(checks)
    failed = len(errors)
    if all("error" in s for s in spans):
        print("every query execution failed; the first error:\n"
              + errors[0]["error"], file=sys.stderr)
        return 1

    if args.trace:
        records = trace_records(results[-1], work)
        for rec in records:
            print("trace " + json.dumps(rec, sort_keys=True))
        metrics = per_layer(results, records, set(spec["write"]))
        details = {}
    else:
        metrics, details = end_to_end(results)
    details.update(
        workload=args.workload, seed=args.seed, scale=scale,
        data_rows=data_rows, host=host, failed_frac=failed / attempted,
        errors=errors[:5], run_s=round(time.time() - start, 2),
    )
    print(json.dumps(details, sort_keys=True))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
