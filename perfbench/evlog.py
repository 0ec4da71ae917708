"""Reduce a Spark event log to per-job-group layer metrics.

The benchmark runs each public call of the program under its own job
group (``SparkContext.setJobGroup``). Every stage carries its job's
group in its submit properties, so the stage-level task metrics and the
SQL operator metrics (Python worker time and bytes, join and refine row
counts, scan time) can be summed per group without any code inside the
program.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

GROUP = "spark.jobGroup.id"
TASK_METRICS = {
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
}
PYTHON_METRICS = {
    "time to run Python workers": "python_s",
    "data sent to Python workers": "python_bytes_in",
    "data returned from Python workers": "python_bytes_out",
}
TIME_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


def events(log_dir: str):
    """Yield the JSON events of the one event-log file in ``log_dir``
    (one application, uncompressed, not rolled over)."""
    (name,) = os.listdir(log_dir)
    with open(os.path.join(log_dir, name)) as f:
        for line in f:
            if line.strip():
                yield json.loads(line)


def _walk(node, meta: dict) -> None:
    for m in node.get("metrics", []):
        meta[m["accumulatorId"]] = (node["nodeName"], m["name"],
                                    m.get("metricType", "sum"))
    for c in node.get("children", []):
        _walk(c, meta)


def _is_python(node: str) -> bool:
    return "InPandas" in node or "Python" in node or "InArrow" in node


def reduce_groups(log_dir: str) -> dict:
    """{job group: {metric: total}} with the metrics jobs, tasks,
    cpu_ns, run_ms, shuffle_bytes, spill_bytes, scan_bytes, scan_s,
    python_s, python_bytes_in, python_bytes_out, join_rows_out and
    python_rows_out."""
    meta: dict = {}
    stage_group: dict = {}
    sql_value: dict = {}
    sql_group: dict = {}
    exec_group: dict = {}
    driver_value: dict = {}
    out: dict = defaultdict(lambda: defaultdict(float))
    for e in events(log_dir):
        ev = e["Event"]
        if ev.endswith("SQLExecutionStart") or ev.endswith(
                "SQLAdaptiveExecutionUpdate"):
            _walk(e["sparkPlanInfo"], meta)
        elif ev.endswith("DriverAccumUpdates"):
            for acc_id, value in e["accumUpdates"]:
                driver_value[acc_id] = (e["executionId"], float(value))
        elif ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            out[props.get(GROUP)]["jobs"] += 1
            if "spark.sql.execution.id" in props:
                exec_group[int(props["spark.sql.execution.id"])] = \
                    props.get(GROUP)
        elif ev == "SparkListenerStageSubmitted":
            stage_group[e["Stage Info"]["Stage ID"]] = \
                (e.get("Properties") or {}).get(GROUP)
        elif ev == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            g = stage_group.get(si["Stage ID"])
            acc = out[g]
            acc["tasks"] += si["Number of Tasks"]
            for a in si.get("Accumulables", []):
                name = a.get("Name", "")
                if name in TASK_METRICS:
                    acc[TASK_METRICS[name]] += float(a["Value"])
                elif a["ID"] in meta:
                    # SQL metric values are running totals of the whole
                    # execution: keep the latest, owned by this group
                    sql_value[a["ID"]] = float(a["Value"])
                    sql_group[a["ID"]] = g
    # file sizes are planner-side metrics, posted once per execution
    for acc_id, (exec_id, value) in driver_value.items():
        node, metric, _ = meta.get(acc_id, ("", "", ""))
        if metric == "size of files read" and node.startswith("Scan"):
            out[exec_group.get(exec_id)]["scan_bytes"] += value
    for acc_id, value in sql_value.items():
        node, metric, mtype = meta[acc_id]
        acc = out[sql_group[acc_id]]
        if metric in PYTHON_METRICS:
            acc[PYTHON_METRICS[metric]] += value * TIME_SCALE.get(mtype, 1.0)
        elif metric == "scan time" and node.startswith("Scan"):
            acc["scan_s"] += value * TIME_SCALE.get(mtype, 1.0)
        elif metric == "number of output rows":
            if node.endswith("Join"):
                acc["join_rows_out"] += value
            elif _is_python(node):
                acc["python_rows_out"] += value
    return {g: dict(v) for g, v in out.items()}
