"""Self-test of the benchmark harness.

    python3 perfbench/selftest.py          # unit checks, then every workload
    python3 perfbench/selftest.py --unit   # unit checks only (seconds)

The unit checks exercise the trace attribution and the tail rule on
hand-made inputs. The full test then runs each workload of
``BENCHMARK.json`` on scale-0.001 data with the shortest measurement, once
with ``--trace 1`` and once with ``--trace 0``, and requires a correct
result line that carries every metric ``BENCHMARK.json`` names, with its
unit.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402
import eventlog  # noqa: E402


def _fail(msg: str) -> None:
    raise SystemExit(f"selftest FAILED: {msg}")


def unit_checks() -> None:
    if eventlog._union_s([(0, 2), (1, 3), (5, 6)]) != 4:
        _fail("interval union")
    if run.tail_latency([float(i) for i in range(1, 21)]) != (50, 10.0, 20):
        _fail("tail percentile with 20 samples")
    if run.tail_latency([1.0, 2.0, 3.0])[:2] != (100.0, 3.0):
        _fail("tail falls back to the maximum")
    spans = [
        {"query": "a", "t0": 10.0, "t_build": 11.0, "t_action": 13.0, "t_end": 13.1},
        {"query": "b", "t0": 13.2, "t_build": 13.3, "t_action": 14.0, "t_end": 14.0},
    ]
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 10500,
         "Properties": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 10900},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 11500,
         "Properties": {"sql.streaming.queryId": "x"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 12500},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0, "Submission Time": 11500, "Completion Time": 12500}},
        {"Event": "SparkListenerTaskEnd", "Task Info": {
            "Launch Time": 11600, "Finish Time": 12400, "Accumulables": [
                {"ID": 7, "Name": "time to run Python workers", "Update": "250"}]},
         "Task Metrics": {"Executor Run Time": 800, "Executor CPU Time": 5e8}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 20000,
         "Properties": {}},
    ]
    a, b = eventlog.attribute(events, spans)
    want = {"build_jobs": 1, "action_jobs": 1, "stream_jobs": 1, "stages": 1,
            "tasks": 1, "task_run_s": 0.8, "task_cpu_s": 0.5, "py_run_s": 0.25,
            "stream_s": 1.0, "stage_union_s": 1.0}
    got = {k: a[k] for k in want}
    if any(abs(got[k] - v) > 1e-9 for k, v in want.items()):
        _fail(f"attribution of query a: {got}")
    if abs(a["sched_gap_s"] - 2.1) > 1e-9 or not a["split_ok"]:
        _fail(f"split of query a: {a}")
    if b["build_jobs"] + b["action_jobs"] + b["tasks"]:
        _fail(f"work leaked into query b: {b}")
    # A stream job that b started and that was still running when b returned.
    late = [
        {"Event": "SparkListenerJobStart", "Job ID": 3, "Submission Time": 13900,
         "Properties": {"sql.streaming.queryId": "y"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 3, "Completion Time": 14500},
    ]
    a, b = eventlog.attribute(late, spans)
    if not a["split_ok"] or b["split_ok"] or abs(b["overrun_s"] - 0.5) > 1e-9:
        _fail(f"overrun of query b: {b}")


def result_line(workload: str, traced: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", str(traced),
           "--scale", "0.001"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=600)
    if proc.returncode != 0:
        _fail(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def workload_checks() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for w in bench["workloads"]:
        for traced, declared in ((1, bench["per_layer"]), (0, bench["end_to_end"])):
            res = result_line(w["name"], traced)
            if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
                _fail(f"{w['name']}: result keys {sorted(res)}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                _fail(f"{w['name']} trace={traced}: {res}")
            for m in declared:
                got = res["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"]:
                    _fail(f"{w['name']} trace={traced}: {m['name']} is {got}")
                if not isinstance(got["value"], (int, float)):
                    _fail(f"{w['name']}: {m['name']} value {got['value']!r}")
            extra = set(res["metrics"]) - {m["name"] for m in declared}
            if extra:
                _fail(f"{w['name']} trace={traced}: undeclared metrics {extra}")
            print(f"ok {w['name']} trace={traced}: {len(declared)} metrics")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--unit", action="store_true", help="unit checks only")
    args = ap.parse_args()
    unit_checks()
    print("ok unit checks")
    if not args.unit:
        workload_checks()


if __name__ == "__main__":
    main()
