"""Per-stage figures from a Spark event log.

Each stage record carries the job group of the action that ran it (the
benchmark sets one group per action), its wall time, task-time summary
and the bytes it shuffled or spilled, plus the Python-exchange SQL
metrics of the plan nodes that ran inside it.  The node a SQL metric
belongs to comes from the plan info in the SQL execution events, so a
metric is attributed by accumulator id, not by its display name.
"""

from __future__ import annotations

import glob
import json
import os
import statistics

# plan nodes that run Python UDF code (scalar pandas UDFs and mapInPandas)
PYTHON_NODES = ("ArrowEvalPython", "MapInPandas", "PythonMapInArrow")


def _plan_metrics(plan: dict, out: dict) -> None:
    for m in plan.get("metrics", ()):
        out[m["accumulatorId"]] = (plan["nodeName"], m["name"])
    for child in plan.get("children", ()):
        _plan_metrics(child, out)


def _events(log_dir: str):
    files = sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True))
    files = files or sorted(
        p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)
    )
    for path in files:
        with open(path) as f:
            for line in f:
                yield json.loads(line)


def stages(log_dir: str) -> list:
    """One record per completed stage attempt, in completion order."""
    group_of_stage: dict = {}
    accum_owner: dict = {}
    tasks: dict = {}
    out = []
    for e in _events(log_dir):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            for sid in e["Stage IDs"]:
                group_of_stage[sid] = group
        elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            _plan_metrics(e["sparkPlanInfo"], accum_owner)
        elif kind == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            tasks.setdefault((e["Stage ID"], e["Stage Attempt ID"]), []).append(
                {
                    "failed": bool(info["Failed"]) or bool(info["Killed"]),
                    "run_ms": m.get("Executor Run Time", 0),
                    "cpu_ns": m.get("Executor CPU Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "spill": m.get("Memory Bytes Spilled", 0)
                    + m.get("Disk Bytes Spilled", 0),
                    "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    ),
                    "shuffle_read": sum(
                        (m.get("Shuffle Read Metrics") or {}).get(k, 0)
                        for k in ("Remote Bytes Read", "Local Bytes Read")
                    ),
                    "records_in": (m.get("Input Metrics") or {}).get("Records Read", 0),
                }
            )
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            key = (si["Stage ID"], si["Stage Attempt ID"])
            ts = tasks.pop(key, [])
            py: dict = {}
            for acc in si.get("Accumulables", ()):
                node, name = accum_owner.get(acc["ID"], (None, acc["Name"]))
                if node and node.startswith(PYTHON_NODES):
                    py[name] = py.get(name, 0) + int(acc["Value"])
            run = [t["run_ms"] / 1e3 for t in ts if not t["failed"]]
            out.append(
                {
                    "stage": si["Stage ID"],
                    "attempt": si["Stage Attempt ID"],
                    "group": group_of_stage.get(si["Stage ID"]),
                    "name": si["Stage Name"],
                    "tasks": len(ts),
                    "failed_tasks": sum(t["failed"] for t in ts),
                    "wall_s": (si["Completion Time"] - si["Submission Time"]) / 1e3,
                    "task_run_s": sum(run),
                    "task_max_s": max(run, default=0.0),
                    "task_median_s": statistics.median(run) if run else 0.0,
                    "cpu_s": sum(t["cpu_ns"] for t in ts) / 1e9,
                    "jvm_gc_s": sum(t["gc_ms"] for t in ts) / 1e3,
                    "spill_bytes": sum(t["spill"] for t in ts),
                    "shuffle_write_bytes": sum(t["shuffle_write"] for t in ts),
                    "shuffle_read_bytes": sum(t["shuffle_read"] for t in ts),
                    "records_in": sum(t["records_in"] for t in ts),
                    "python": py,
                }
            )
    return out
