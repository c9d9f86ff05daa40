"""Engine metrics of chosen job groups, read from Spark's own event log.

Reads the uncompressed JSON-lines log (single file or the rolling
``eventlog_v2_*/events_*`` layout) and sums, over every Spark job whose
``spark.jobGroup.id`` is one of the given groups: task run, CPU and GC
time, shuffle bytes written, bytes spilled, peak execution memory, the
max/median task-time skew of the slowest stage, and the SQL metrics of
the Python operators (``MapInArrow``, ``ArrowEvalPython``,
``MapInPandas``). Values are per traced job: sums are divided by the
number of groups.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
from collections import defaultdict

PYTHON_NODES = ("MapInArrow", "ArrowEvalPython", "MapInPandas")
PYTHON_RUN = "time to run Python workers"
# worker start and initialisation; Spark's clock for these can overlap
# the task's wait for its input, so they are reported apart from run time
PYTHON_INIT = ("time to start Python workers", "time to initialize Python workers")
SENT = "data sent to Python workers"
RETURNED = "data returned from Python workers"


def _events(log_dir: str):
    files = [f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
             if os.path.isfile(f) and not os.path.basename(f).startswith((".", "appstatus"))]

    def order(path: str):
        m = re.search(r"events_(\d+)_", os.path.basename(path))
        return (os.path.dirname(path), int(m.group(1)) if m else 0)

    for path in sorted(files, key=order):
        with open(path) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def _plan_nodes(plan: dict):
    yield plan
    for child in plan.get("children", []):
        yield from _plan_nodes(child)


def spark_metrics(log_dir: str, groups: list[str]) -> dict:
    """Per-job engine metrics of the jobs in ``groups``: name -> (value, unit)."""
    jobs = 0
    stage_ids: set[int] = set()
    exec_ids: set[int] = set()
    python_acc: dict[int, str] = {}
    plans: list[tuple[int, dict]] = []
    task_run: dict[int, list[int]] = defaultdict(list)
    stage_wall: dict[int, int] = {}
    sums = defaultdict(float)
    peak_mem = 0
    acc_updates: list[tuple[int, float]] = []  # (accumulator id, task update)

    for e in _events(log_dir):
        kind = e["Event"]
        if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            plans.append((e["executionId"], e["sparkPlanInfo"]))
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            if props.get("spark.jobGroup.id") in groups:
                jobs += 1
                stage_ids.update(e["Stage IDs"])
                if "spark.sql.execution.id" in props:
                    exec_ids.add(int(props["spark.sql.execution.id"]))
        elif kind == "SparkListenerTaskEnd" and e["Stage ID"] in stage_ids:
            tm = e.get("Task Metrics") or {}
            if not tm:
                continue
            task_run[e["Stage ID"]].append(tm["Executor Run Time"])
            sums["run_ms"] += tm["Executor Run Time"]
            sums["cpu_ns"] += tm["Executor CPU Time"]
            sums["gc_ms"] += tm["JVM GC Time"]
            sums["spill"] += tm["Disk Bytes Spilled"]
            sums["shuffle_write"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            peak_mem = max(peak_mem, tm["Peak Execution Memory"])
            for acc in e["Task Info"].get("Accumulables", []):
                # SQL metrics are logged with their values as strings
                try:
                    acc_updates.append((acc["ID"], float(acc["Update"])))
                except (KeyError, TypeError, ValueError):
                    pass
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if info["Stage ID"] in stage_ids:
                stage_wall[info["Stage ID"]] = info["Completion Time"] - info["Submission Time"]

    for exec_id, plan in plans:
        if exec_id in exec_ids:
            for node in _plan_nodes(plan):
                if any(n in node["nodeName"] for n in PYTHON_NODES):
                    for m in node["metrics"]:
                        python_acc[m["accumulatorId"]] = m["name"]
    for acc_id, update in acc_updates:
        name = python_acc.get(acc_id)
        if name == PYTHON_RUN:
            sums["python_ms"] += update
        elif name in PYTHON_INIT:
            sums["python_init_ms"] += update
        elif name == SENT:
            sums["py_sent"] += update
        elif name == RETURNED:
            sums["py_returned"] += update

    skew = 1.0
    if stage_wall:
        slowest = max(stage_wall, key=stage_wall.get)
        times = task_run.get(slowest) or [0]
        med = statistics.median(times)
        skew = max(times) / med if med else 1.0
    n = max(1, len(groups))
    return {
        "spark.jobs": (jobs / n, "count"),
        "spark.task_run_s": (sums["run_ms"] / 1e3 / n, "s"),
        "spark.task_cpu_s": (sums["cpu_ns"] / 1e9 / n, "s"),
        "spark.gc_s": (sums["gc_ms"] / 1e3 / n, "s"),
        "spark.shuffle_write_bytes": (sums["shuffle_write"] / n, "bytes"),
        "spark.spill_bytes": (sums["spill"] / n, "bytes"),
        "spark.peak_exec_mem_bytes": (peak_mem, "bytes"),
        "spark.task_skew": (skew, "ratio"),
        "spark.python_s": (sums["python_ms"] / 1e3 / n, "s"),
        "spark.python_init_s": (sums["python_init_ms"] / 1e3 / n, "s"),
        "spark.python_bytes_sent": (sums["py_sent"] / n, "bytes"),
        "spark.python_bytes_returned": (sums["py_returned"] / n, "bytes"),
    }
