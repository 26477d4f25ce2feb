"""Per-query layer split from Spark's local event log.

The benchmark runs one query at a time, so every job, stage and task can
be given to the query whose span contains its submission (or launch) time.
Spark's job group cannot be used for this: streaming micro-batch jobs carry
their stream's run id as job group, not the caller's.

A query span has two harness timestamps besides its start and end:
``t_build`` (the query function returned its plan) and ``t_action`` (the
action returned). Jobs submitted before ``t_build`` ran eagerly while the
plan was built. Build, action and harness self time are differences of
these timestamps and add up to the span exactly; what the split can get
wrong is work that outlives its span (a stream job still running when the
call returned), which would be charged to the wrong query or to none. The
record's ``overrun_s`` measures that from the log's own times, and
``split_ok`` is false when it is above zero.

The log must be uncompressed and non-rolling (``spark.eventLog.compress``
and ``spark.eventLog.rolling.enabled`` both false): none of the project's
Python dependencies reads Spark's default zstd codec.
"""

from __future__ import annotations

import bisect
import json
from collections import defaultdict

# SQL metric names (as Spark 4.1 prints them) -> record keys.
SQL_METRICS = {
    "time to start Python workers": "py_start_s",
    "time to initialize Python workers": "py_init_s",
    "time to run Python workers": "py_run_s",
    "data sent to Python workers": "arrow_bytes_to_py",
    "data returned from Python workers": "arrow_bytes_from_py",
    "scan time": "scan_time_s",
}
# How each SQL metric type is scaled to seconds or bytes.
_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}

COUNTERS = (
    "build_jobs", "action_jobs", "stream_jobs", "stages", "tasks",
    "task_run_s", "task_cpu_s", "gc_s", "shuffle_write_bytes",
    "shuffle_read_bytes", "shuffle_fetch_wait_s", "spill_bytes",
    "input_bytes", "input_rows", "bytes_written", "rows_written",
    "stream_s", "stage_union_s", *SQL_METRICS.values(),
)


def read_events(path: str):
    with open(path) as f:
        for line in f:
            if line.strip():
                yield json.loads(line)


def _metric_types(plan: dict, out: dict[int, str]) -> None:
    for m in plan.get("metrics", ()):
        out[m["accumulatorId"]] = m["metricType"]
    for child in plan.get("children", ()):
        _metric_types(child, out)


def _is_stream_job(props: dict) -> bool:
    # Micro-batch jobs carry the stream's query id as a local property.
    return "sql.streaming.queryId" in props or "streaming.sql.batchId" in props


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


class _Spans:
    """Finds the span that contains a time, in epoch seconds."""

    def __init__(self, spans: list[dict]):
        self.spans = sorted(spans, key=lambda s: s["t0"])
        self.starts = [s["t0"] for s in self.spans]

    def find(self, t: float) -> dict | None:
        i = bisect.bisect_right(self.starts, t)
        if i and t <= self.spans[i - 1]["t_end"]:
            return self.spans[i - 1]
        return None


def attribute(events, spans: list[dict]) -> list[dict]:
    """One record per span: the harness split plus the work attributed to it.

    Work submitted outside every span (session start, the check) is dropped.
    """
    index = _Spans(spans)
    # last_end: when the span's last job, stage or task finished.
    recs = {id(s): {**dict.fromkeys(COUNTERS, 0), "last_end": 0.0} for s in spans}
    stage_intervals: dict[int, list[tuple[float, float]]] = defaultdict(list)
    job_start: dict[int, tuple[dict, float, bool]] = {}
    metric_type: dict[int, str] = {}
    for e in events:
        kind = e["Event"]
        if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            _metric_types(e["sparkPlanInfo"], metric_type)
        elif kind == "SparkListenerJobStart":
            t = e["Submission Time"] / 1e3
            span = index.find(t)
            if span is None:
                continue
            rec = recs[id(span)]
            stream = _is_stream_job(e.get("Properties") or {})
            rec["build_jobs" if t < span.get("t_build", span["t_end"])
                else "action_jobs"] += 1
            rec["stream_jobs"] += stream
            job_start[e["Job ID"]] = (rec, t, stream)
        elif kind == "SparkListenerJobEnd":
            rec, t, stream = job_start.pop(e["Job ID"], (None, 0.0, False))
            if rec is not None:
                t_end = e["Completion Time"] / 1e3
                rec["last_end"] = max(rec["last_end"], t_end)
                if stream:
                    rec["stream_s"] += t_end - t
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            t0 = info.get("Submission Time")
            span = index.find(t0 / 1e3) if t0 else None
            if span is None:
                continue
            rec = recs[id(span)]
            rec["stages"] += 1
            t1 = info["Completion Time"] / 1e3
            rec["last_end"] = max(rec["last_end"], t1)
            stage_intervals[id(span)].append((t0 / 1e3, t1))
        elif kind == "SparkListenerTaskEnd":
            info = e["Task Info"]
            span = index.find(info["Launch Time"] / 1e3)
            if span is None:
                continue
            rec = recs[id(span)]
            rec["last_end"] = max(rec["last_end"], info["Finish Time"] / 1e3)
            _add_task(rec, e, metric_type)
    out = []
    for span in spans:
        rec = recs[id(span)]
        last_end = rec.pop("last_end")
        t_build = span.get("t_build", span["t_end"])
        t_action = span.get("t_action", t_build)
        rec["stage_union_s"] = _union_s([
            (max(a, span["t0"]), min(b, span["t_end"]))
            for a, b in stage_intervals[id(span)]
        ])
        wall = span["t_end"] - span["t0"]
        rec.update(
            query=span["query"], wall_s=wall,
            build_s=t_build - span["t0"], action_s=t_action - t_build,
            self_s=span["t_end"] - t_action,
            sched_gap_s=wall - rec["stage_union_s"],
            # Both clocks are the host's wall clock; the log's are whole ms.
            overrun_s=max(0.0, last_end - span["t_end"]),
        )
        rec["split_ok"] = rec["overrun_s"] == 0.0
        out.append(rec)
    return out


def _add_task(rec: dict, e: dict, metric_type: dict[int, str]) -> None:
    rec["tasks"] += 1
    m = e.get("Task Metrics") or {}
    rec["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
    rec["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    rec["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    rec["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    rec["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
        "Local Bytes Read", 0)
    rec["shuffle_fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
    rec["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0)
    inp = m.get("Input Metrics") or {}
    rec["input_bytes"] += inp.get("Bytes Read", 0)
    rec["input_rows"] += inp.get("Records Read", 0)
    outp = m.get("Output Metrics") or {}
    rec["bytes_written"] += outp.get("Bytes Written", 0)
    rec["rows_written"] += outp.get("Records Written", 0)
    for acc in e["Task Info"].get("Accumulables", ()):
        key = SQL_METRICS.get(acc.get("Name"))
        if key is None or "Update" not in acc:
            continue
        scale = _SCALE.get(metric_type.get(acc["ID"], ""), 1.0)
        if key.endswith("_s") and scale == 1.0:
            scale = 1e-3  # a timing metric whose plan node was not seen
        rec[key] += float(acc["Update"]) * scale
