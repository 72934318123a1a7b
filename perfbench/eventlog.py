"""Per-stage executor metrics from Spark's event log, grouped per query.

Spark 4 writes a rolling directory ``eventlog_v2_<app id>/events_<n>_<app id>``
of JSON lines (uncompressed when ``spark.eventLog.compress=false``). The
benchmark tags every job of a traced query with a local property; this module
joins jobs to queries through it and sums the task metrics of each stage.

A stage that reads shuffle output is a ``reduce`` stage; any other stage is a
``map`` stage. For the vocabulary query the map stage runs scan -> split ->
explode -> partial count -> shuffle write, and the reduce stage runs shuffle
read -> final count -> top-V -> rank window.

The physical plan and the planning time come from the SQL execution that
runs a query's jobs: its start event carries the plan description, and is
posted before optimisation and physical planning begin.
"""

from __future__ import annotations

import json
import os
import re
import statistics
from collections import defaultdict

SQL_EXECUTION_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
# Spark operators that cross the Python<->JVM boundary.
PYTHON_EVAL_OPS = (
    "BatchEvalPython",
    "ArrowEvalPython",
    "MapInPandas",
    "MapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "AggregateInPandas",
    "WindowInPandas",
    "PythonMapInArrow",
)


def read_events(log_dir: str):
    """Yield the events of one application's rolling log, oldest file first."""
    files = [f for f in os.listdir(log_dir) if f.startswith("events_")]
    files.sort(key=lambda f: int(re.match(r"events_(\d+)_", f).group(1)))
    for f in files:
        with open(os.path.join(log_dir, f)) as fh:
            for line in fh:
                yield json.loads(line)


def _task_row(metrics: dict, info: dict) -> dict:
    read = metrics["Shuffle Read Metrics"]
    write = metrics["Shuffle Write Metrics"]
    return {
        "run_s": metrics["Executor Run Time"] / 1e3,
        "cpu_s": metrics["Executor CPU Time"] / 1e9,
        "gc_s": metrics["JVM GC Time"] / 1e3,
        "spill_bytes": metrics["Disk Bytes Spilled"],
        "input_records": metrics["Input Metrics"]["Records Read"],
        "input_bytes": metrics["Input Metrics"]["Bytes Read"],
        "shuffle_write_records": write["Shuffle Records Written"],
        "shuffle_write_bytes": write["Shuffle Bytes Written"],
        "shuffle_read_records": read["Total Records Read"],
        "shuffle_read_bytes": read["Local Bytes Read"] + read["Remote Bytes Read"],
        "shuffle_read_blocks": read["Local Blocks Fetched"] + read["Remote Blocks Fetched"],
        "wall_s": (info["Finish Time"] - info["Launch Time"]) / 1e3,
    }


def plan_ops(description: str) -> list[str]:
    """Operator names in the tree of a formatted physical-plan description.

    The tree is the block between the ``== Physical Plan ==`` header and the
    first blank line; the per-operator details follow it.
    """
    tree = description.split("\n\n", 1)[0].splitlines()[1:]
    return [ln.lstrip(" +-:*").split(" (")[0].strip() for ln in tree]


def _sum(tasks: list[dict], key: str) -> float:
    return sum(t[key] for t in tasks)


def per_query(events, query_prop: str) -> dict[str, dict]:
    """Per-query layer metrics for every query tagged with ``query_prop``.

    Returns ``{query id: metrics}``; ``stage_intervals`` holds each run
    stage's ``(submitted, completed)`` epoch seconds.
    """
    stage_query: dict[int, str] = {}
    jobs: dict[str, int] = defaultdict(int)
    first_job: dict[str, tuple[float, int]] = {}  # (submitted, SQL execution id)
    executions: dict[int, tuple[float, str]] = {}  # (started, plan description)
    tasks: dict[int, list[dict]] = defaultdict(list)
    intervals: dict[int, tuple[float, float]] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            qid = props.get(query_prop)
            if qid is not None:
                jobs[qid] += 1
                first_job.setdefault(
                    qid, (e["Submission Time"] / 1e3, int(props["spark.sql.execution.id"]))
                )
                for sid in e["Stage IDs"]:
                    stage_query[sid] = qid
        elif kind == SQL_EXECUTION_START:
            executions[e["executionId"]] = (e["time"] / 1e3, e["physicalPlanDescription"])
        elif kind == "SparkListenerTaskEnd" and e["Task End Reason"]["Reason"] == "Success":
            tasks[e["Stage ID"]].append(_task_row(e["Task Metrics"], e["Task Info"]))
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            intervals[info["Stage ID"]] = (
                info["Submission Time"] / 1e3,
                info["Completion Time"] / 1e3,
            )

    out: dict[str, dict] = {}
    for qid, n_jobs in jobs.items():
        stages = sorted(s for s, q in stage_query.items() if q == qid and s in tasks)
        reduce_ids = [s for s in stages if _sum(tasks[s], "shuffle_read_blocks") > 0]
        map_tasks = [t for s in stages if s not in reduce_ids for t in tasks[s]]
        red_tasks = [t for s in reduce_ids for t in tasks[s]]
        walls = [t["wall_s"] for t in map_tasks]
        submitted, execution = first_job[qid]
        started, plan = executions[execution]
        ops = plan_ops(plan)
        out[qid] = {
            # Optimisation, physical planning and AQE's first stage plan.
            "driver.plan_s": submitted - started,
            "driver.jobs": n_jobs,
            "driver.stages": len(stages),
            "io.scan_tasks": sum(1 for t in map_tasks if t["input_records"] > 0),
            "io.input_records": _sum(map_tasks, "input_records"),
            "io.input_bytes": _sum(map_tasks, "input_bytes"),
            "map.tasks": len(map_tasks),
            "map.run_s": _sum(map_tasks, "run_s"),
            "map.cpu_s": _sum(map_tasks, "cpu_s"),
            "map.gc_s": _sum(map_tasks, "gc_s"),
            "map.task_max_over_median": (
                max(walls) / statistics.median(walls) if walls and min(walls) > 0 else 1.0
            ),
            "map.shuffle_write_records": _sum(map_tasks, "shuffle_write_records"),
            "map.shuffle_write_bytes": _sum(map_tasks, "shuffle_write_bytes"),
            "map.spill_bytes": _sum(map_tasks, "spill_bytes"),
            "reduce.tasks": len(red_tasks),
            "reduce.run_s": _sum(red_tasks, "run_s"),
            "reduce.shuffle_read_records": _sum(red_tasks, "shuffle_read_records"),
            "reduce.shuffle_read_bytes": _sum(red_tasks, "shuffle_read_bytes"),
            "reduce.spill_bytes": _sum(red_tasks, "spill_bytes"),
            "plan.exchanges": sum(1 for op in ops if op.endswith("Exchange")),
            "plan.python_eval_nodes": sum(1 for op in ops if op in PYTHON_EVAL_OPS),
            "stage_intervals": [intervals[s] for s in stages if s in intervals],
        }
    return out


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total
