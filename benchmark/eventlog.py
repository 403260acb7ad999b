"""Fold a Spark event log into per-layer rows.

The benchmark tags every layer call with a Spark job group (its layer
name) and records the call's wall-clock interval.  This module reads the
uncompressed JSON-lines event log(s) Spark writes with
``spark.eventLog.enabled=true`` and sums executor-side work per layer:

* a job belongs to the layer named by its ``spark.jobGroup.id``; jobs
  whose group is not a known layer (streaming jobs carry the query's
  run id, ``foreachBatch`` jobs may carry none) belong to the layer whose
  recorded interval contains the job's submission time;
* task metrics (run/CPU time, GC, shuffle, spill, output bytes)
  come from ``SparkListenerTaskEnd``;
* SQL metrics (scan time, Python worker time and bytes) come from the
  stage-level accumulables in ``SparkListenerStageCompleted``.  Their
  values are cumulative per accumulator, so each stage contributes the
  increase since the accumulator was last seen;
* bytes scanned come from the scan nodes' driver-side "size of files
  read" metric (``SparkListenerDriverAccumUpdates``), attributed through
  the SQL execution's job group.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

# stage-level SQL accumulables folded per layer: name -> (row key, scale)
_SQL_METRICS = {
    "scan time": ("scan_s", 1e-3),
    "time to run Python workers": ("python_s", 1e-3),
    "data sent to Python workers": ("to_python_mb", 1e-6),
    "data returned from Python workers": ("from_python_mb", 1e-6),
}

ROW_KEYS = (
    "jobs",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "max_task_s",
    "shuffle_write_mb",
    "fetch_wait_s",
    "gc_s",
    "spill_mb",
    "files_read_mb",
    "output_mb",
    "scan_s",
    "python_s",
    "to_python_mb",
    "from_python_mb",
)


def event_files(log_dir: str) -> list[str]:
    """Every event file under ``log_dir``: Spark 4 writes one
    ``eventlog_v2_<app>`` directory per application with rolled
    ``events_<n>_<app>`` files inside; sorted by application, then n."""

    def key(path: str):
        return (os.path.dirname(path), int(os.path.basename(path).split("_")[1]))

    return sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")), key=key)


def read_events(paths: list[str]):
    for path in paths:
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


def fold(events, spans: list[tuple[str, float, float]] | None = None) -> dict[str, dict]:
    """Per-layer sums.  ``spans`` lists ``(layer, start_ms, end_ms)``
    wall-clock intervals used for jobs without a known group."""
    spans = spans or []
    known = {name for name, _, _ in spans}
    rows: dict[str, dict] = defaultdict(lambda: dict.fromkeys(ROW_KEYS, 0.0))
    stage_layer: dict[int, str] = {}
    acc_last: dict[int, float] = {}
    exec_layer: dict[int, str] = {}
    file_size_ids: set[int] = set()

    def layer_of(group: str | None, t_ms: float) -> str | None:
        if group in known:
            return group
        for name, lo, hi in spans:
            if lo <= t_ms <= hi:
                return name
        return group

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerLogStart":
            # a new application: stage, execution and accumulator ids restart
            stage_layer, acc_last, exec_layer, file_size_ids = {}, {}, {}, set()
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            layer = layer_of(props.get("spark.jobGroup.id"), ev.get("Submission Time", 0))
            if layer is None:
                continue
            rows[layer]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_layer.setdefault(sid, layer)
        elif kind == "SparkListenerTaskEnd":
            layer = stage_layer.get(ev.get("Stage ID"))
            tm = ev.get("Task Metrics")
            if layer is None or not tm:
                continue
            r = rows[layer]
            info = ev.get("Task Info", {})
            r["tasks"] += 1
            r["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
            r["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            r["max_task_s"] = max(r["max_task_s"], (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1e3)
            r["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            r["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / 1e6
            sw = tm.get("Shuffle Write Metrics") or {}
            r["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
            sr = tm.get("Shuffle Read Metrics") or {}
            r["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
            r["output_mb"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0) / 1e6
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            if kind.endswith("SQLExecutionStart"):
                layer = layer_of(ev.get("jobGroupId"), ev.get("time", 0))
                if layer is not None:
                    exec_layer[ev["executionId"]] = layer
            file_size_ids.update(_plan_metric_ids(ev.get("sparkPlanInfo") or {}, "size of files read"))
        elif kind.endswith("DriverAccumUpdates"):
            layer = exec_layer.get(ev.get("executionId"))
            if layer is not None:
                for acc_id, value in ev.get("accumUpdates", []):
                    if acc_id in file_size_ids:
                        rows[layer]["files_read_mb"] += value / 1e6
        elif kind == "SparkListenerStageCompleted":
            info = ev.get("Stage Info", {})
            layer = stage_layer.get(info.get("Stage ID"))
            for acc in info.get("Accumulables", []):
                metric = _SQL_METRICS.get(acc.get("Name"))
                if metric is None:
                    continue
                try:
                    value = float(acc.get("Value", 0))
                except (TypeError, ValueError):
                    continue
                delta = value - acc_last.get(acc["ID"], 0.0)
                acc_last[acc["ID"]] = value
                if layer is not None and delta > 0:
                    key, scale = metric
                    rows[layer][key] += delta * scale
    return dict(rows)


def _plan_metric_ids(node: dict, name: str):
    for m in node.get("metrics", []):
        if m.get("name") == name:
            yield m["accumulatorId"]
    for child in node.get("children", []):
        yield from _plan_metric_ids(child, name)


def fold_dir(log_dir: str, spans=None) -> dict[str, dict]:
    return fold(read_events(event_files(log_dir)), spans)
