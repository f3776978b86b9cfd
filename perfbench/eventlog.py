"""Reader for Spark's uncompressed JSON event log (stdlib ``json`` only).

Turns the log into flat rows ``{workload, op, stage, operator, metric,
value}``.  ``op`` is the job group the benchmark set with
``setJobGroup`` before each operation, so every stage is attributed to
the operation that ran it.  Operator names come from the SQL plan
(including adaptive re-plans); task-level counters carry operator
``task``; driver-side SQL metrics (e.g. broadcast size) carry stage -1.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics


def _log_files(log_dir: str) -> list[str]:
    """Event files in write order (rolling logs are ``events_<n>_<app>``)."""
    files = [
        f
        for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(f) and not os.path.basename(f).startswith((".", "appstatus"))
    ]

    def order(path: str) -> tuple:
        m = re.match(r"events_(\d+)_", os.path.basename(path))
        return (os.path.dirname(path), int(m.group(1)) if m else 0)

    return sorted(files, key=order)


def read_events(log_dir: str):
    for path in _log_files(log_dir):
        with open(path) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def _plan_metrics(node: dict, out: dict[int, tuple[str, str]]) -> None:
    """accumulator id -> (operator, metric name) over a plan tree."""
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (node["nodeName"].strip(), m["name"])
    for child in node.get("children", []):
        _plan_metrics(child, out)


def _number(v) -> float | None:
    try:
        return float(v)
    except (TypeError, ValueError):
        return None


def metric_rows(log_dir: str, workload: str) -> list[dict]:
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    acc_node: dict[int, tuple[str, str]] = {}
    task_runs: dict[int, list[float]] = {}
    rows: list[dict] = []

    def add(op, stage, operator, metric, value):
        rows.append(
            {
                "workload": workload,
                "op": op,
                "stage": stage,
                "operator": operator,
                "metric": metric,
                "value": value,
            }
        )

    for e in read_events(log_dir):
        kind = e["Event"].rsplit(".", 1)[-1]
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            for s in e["Stage IDs"]:
                stage_group[s] = group
        elif kind in ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate"):
            _plan_metrics(e["sparkPlanInfo"], acc_node)
            if kind == "SparkListenerSQLExecutionStart":
                exec_group[e["executionId"]] = e.get("jobGroupId")
        elif kind == "SparkListenerDriverAccumUpdates":
            op = exec_group.get(e["executionId"])
            for acc_id, value in e["accumUpdates"]:
                if acc_id in acc_node:
                    add(op, -1, *acc_node[acc_id], _number(value))
        elif kind == "SparkListenerTaskEnd":
            info = e["Task Info"]
            run = next(
                (a["Update"] for a in info.get("Accumulables", [])
                 if a["Name"] == "internal.metrics.executorRunTime"),
                None,
            )
            if run is not None:
                task_runs.setdefault(e["Stage ID"], []).append(float(run))
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            sid = si["Stage ID"]
            op = stage_group.get(sid)
            add(op, sid, "task", "tasks", float(si["Number of Tasks"]))
            runs = task_runs.pop(sid, [])
            if runs:
                add(op, sid, "task", "task_run_max_ms", max(runs))
                add(op, sid, "task", "task_run_median_ms", statistics.median(runs))
            for a in si.get("Accumulables", []):
                value = _number(a.get("Value"))
                if value is None:
                    continue
                name = a["Name"]
                if name.startswith("internal.metrics."):
                    add(op, sid, "task", name[len("internal.metrics."):], value)
                else:
                    add(op, sid, acc_node.get(a["ID"], ("?",))[0], name, value)
    return rows


def op_sum(rows: list[dict], op: str, metric: str, operator: str | None = None,
           stages: set[int] | None = None) -> float:
    """Sum of ``metric`` over the stages of ``op`` (optionally one operator
    or a subset of stages)."""
    return sum(
        r["value"]
        for r in rows
        if r["op"] == op
        and r["metric"] == metric
        and (operator is None or r["operator"] == operator)
        and (stages is None or r["stage"] in stages)
    )


def op_stages(rows: list[dict], op: str, operator: str | None = None) -> set[int]:
    """Stages of ``op`` (with a metric of ``operator``, if given)."""
    return {
        r["stage"]
        for r in rows
        if r["op"] == op and r["stage"] >= 0 and (operator is None or r["operator"] == operator)
    }
