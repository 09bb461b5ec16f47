"""Fold a Spark event log onto benchmark spans, with the standard library.

A span is ``(name, start_ms, end_ms)`` in epoch milliseconds: one call into
the engine, run under ``setJobGroup(name)``. A job belongs to the span whose
group id it carries. A job without a group id (a job submitted from another
thread, such as the crawl's auxiliary writer pool, does not inherit the
caller's job group) belongs to the span whose interval holds its submission
time. Stages belong to the first job that lists them, tasks to their stage.

Units are normalised on the way in: Spark reports executor CPU time, the
shuffle write time and ``nsTiming`` SQL metrics in nanoseconds and every
other time in milliseconds. Every time this module returns is in seconds
and every size in bytes.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict

# SQL metrics of the Python operators (MapInArrow, ArrowEvalPython, ...),
# by the name Spark gives them, and the key this module reports them under
PYTHON_METRICS = {
    "time to run Python workers": "python_run_s",
    "time to start Python workers": "python_boot_s",
    "time to initialize Python workers": "python_init_s",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_returned",
}

_SQL_UNIT = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1.0, "sum": 1.0}

_SQL_PLAN_EVENTS = (
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
)
_SQL_METRIC_EVENT = (
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveSQLMetricUpdates")

FIELDS = (
    "wall_s", "jobs", "stages", "tasks", "failed_tasks", "driver_gap_s",
    "executor_run_s", "executor_cpu_s", "gc_s", "task_skew",
    "python_run_s", "python_boot_s", "python_init_s",
    "python_bytes_sent", "python_bytes_returned",
    "scan_bytes_read", "scan_rows",
    "exchange_bytes_written", "exchange_write_s", "exchange_fetch_wait_s",
    "spill_bytes", "output_bytes_written",
)


def _plan_metrics(node: dict, out: dict) -> None:
    for m in node.get("metrics", ()):
        out[m["accumulatorId"]] = (m["name"], m["metricType"])
    for child in node.get("children", ()):
        _plan_metrics(child, out)


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def read_events(path: str):
    with open(path, encoding="utf-8") as f:
        for line in f:
            if line.strip():
                yield json.loads(line)


def fold(events, spans: list[tuple[str, float, float]]) -> dict[str, dict]:
    """Per-span totals (see ``FIELDS``) for the spans given."""
    acc_meta: dict[int, tuple[str, str]] = {}
    job_span: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    stage_wall: dict[int, float] = {}
    tasks: list[dict] = []
    by_name = {name: (start, end) for name, start, end in spans}

    def span_at(t_ms: float) -> str | None:
        best = None
        for name, start, end in spans:
            if start <= t_ms <= end and (best is None or start >= by_name[best][0]):
                best = name
        return best

    for ev in events:
        kind = ev.get("Event")
        if kind in _SQL_PLAN_EVENTS:
            _plan_metrics(ev["sparkPlanInfo"], acc_meta)
        elif kind == _SQL_METRIC_EVENT:
            for m in ev.get("sqlPlanMetrics", ()):
                acc_meta[m["accumulatorId"]] = (m["name"], m["metricType"])
        elif kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            span = group if group in by_name else span_at(ev["Submission Time"])
            if span is not None:
                job_span[ev["Job ID"]] = span
            for sid in ev["Stage IDs"]:
                stage_job.setdefault(sid, ev["Job ID"])
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if "Submission Time" in info and "Completion Time" in info:
                stage_wall[info["Stage ID"]] = (
                    info["Completion Time"] - info["Submission Time"])
        elif kind == "SparkListenerTaskEnd":
            tasks.append(ev)

    out = {name: dict.fromkeys(FIELDS, 0) for name, _, _ in spans}
    busy: dict[str, list] = defaultdict(list)
    stage_runs: dict[str, dict[int, list]] = defaultdict(lambda: defaultdict(list))
    span_stages: dict[str, set] = defaultdict(set)
    for job, span in job_span.items():
        out[span]["jobs"] += 1

    for ev in tasks:
        sid = ev["Stage ID"]
        span = job_span.get(stage_job.get(sid))
        if span is None:
            continue
        row = out[span]
        info = ev["Task Info"]
        m = ev.get("Task Metrics") or {}
        row["tasks"] += 1
        ok = (ev.get("Task End Reason") or {}).get("Reason") == "Success"
        if not ok or info.get("Failed") or info.get("Killed"):
            row["failed_tasks"] += 1
        span_stages[span].add(sid)
        start, end = by_name[span]
        launch = max(info["Launch Time"], start)
        finish = min(info["Finish Time"], end)
        if finish > launch:
            busy[span].append((launch, finish))
        run_ms = m.get("Executor Run Time", 0)
        stage_runs[span][sid].append(run_ms)
        row["executor_run_s"] += run_ms * 1e-3
        row["executor_cpu_s"] += m.get("Executor CPU Time", 0) * 1e-9
        row["gc_s"] += m.get("JVM GC Time", 0) * 1e-3
        row["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
        inp = m.get("Input Metrics") or {}
        row["scan_bytes_read"] += inp.get("Bytes Read", 0)
        row["scan_rows"] += inp.get("Records Read", 0)
        row["output_bytes_written"] += (m.get("Output Metrics") or {}).get(
            "Bytes Written", 0)
        sw = m.get("Shuffle Write Metrics") or {}
        row["exchange_bytes_written"] += sw.get("Shuffle Bytes Written", 0)
        row["exchange_write_s"] += sw.get("Shuffle Write Time", 0) * 1e-9
        sr = m.get("Shuffle Read Metrics") or {}
        row["exchange_fetch_wait_s"] += sr.get("Fetch Wait Time", 0) * 1e-3
        for acc in info.get("Accumulables", ()):
            meta = acc_meta.get(acc.get("ID"))
            if meta is None or meta[0] not in PYTHON_METRICS:
                continue
            update = acc.get("Update")
            if update is not None:
                row[PYTHON_METRICS[meta[0]]] += (
                    float(update) * _SQL_UNIT.get(meta[1], 1.0))

    for name, start, end in spans:
        row = out[name]
        row["wall_s"] = (end - start) * 1e-3
        row["stages"] = len(span_stages[name])
        row["driver_gap_s"] = (end - start - _union_ms(busy[name])) * 1e-3
        runs = stage_runs[name]
        if runs:
            longest = max(runs, key=lambda s: (stage_wall.get(s, 0), s))
            med = statistics.median(runs[longest])
            row["task_skew"] = max(runs[longest]) / med if med > 0 else 1.0
    return out
