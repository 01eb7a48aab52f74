"""Per-stage task metrics and SQL node metrics from Spark's event log.

The traced run enables ``spark.eventLog.enabled`` (uncompressed, one file)
and reads the log back after each timed job. A window is the set of SQL
executions that started inside a wall-clock interval; its totals cover
every task of every stage those executions ran.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from dataclasses import dataclass, field

PY_NODE = "MapInArrow"
SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"
SQL_ADAPTIVE = (
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
)
DRIVER_ACCUM = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"


@dataclass
class Window:
    tasks: int = 0
    run_time_s: float = 0.0  # summed executor run time
    gc_s: float = 0.0
    shuffle_bytes: int = 0
    bytes_written: int = 0
    files_written: int = 0
    python_rows_out: int = 0
    python_bytes_sent: int = 0
    python_bytes_received: int = 0
    python_task_s: list[float] = field(default_factory=list)


def log_file(app_id: str) -> str:
    from .env import WORK

    paths = glob.glob(os.path.join(WORK, "eventlog", app_id + "*"))
    if not paths:
        raise FileNotFoundError(f"no event log for {app_id}")
    return paths[0]


def _events(path: str):
    with open(path, encoding="utf-8") as f:
        for line in f:
            if line.endswith("\n"):  # skip a partly flushed last line
                yield json.loads(line)


def _plan_metrics(info: dict, out: dict) -> None:
    for m in info.get("metrics", ()):
        out[m["accumulatorId"]] = (info["nodeName"], m["name"])
    for child in info.get("children", ()):
        _plan_metrics(child, out)


def read_window(app_id: str, t0: float, t1: float, wait_s: float = 15.0) -> Window:
    """Totals over the SQL executions that started in [t0, t1] (epoch s).
    Waits until the log holds the end event of each of them."""
    path = log_file(app_id)
    deadline = time.monotonic() + wait_s
    while True:
        events = list(_events(path))
        started = {
            e["executionId"]
            for e in events
            if e["Event"] == SQL_START and t0 * 1000 <= e["time"] <= t1 * 1000
        }
        ended = {e["executionId"] for e in events if e["Event"] == SQL_END}
        if started <= ended or time.monotonic() > deadline:
            break
        time.sleep(0.2)
    if not started <= ended:
        raise TimeoutError("event log lacks the end of a timed execution")

    metric_of: dict[int, tuple[str, str]] = {}
    stage_exec: dict[int, int] = {}
    accum: dict[int, int] = {}
    w = Window()
    for e in events:
        kind = e["Event"]
        if kind in (SQL_START, SQL_ADAPTIVE) and e["executionId"] in started:
            _plan_metrics(e["sparkPlanInfo"], metric_of)
        elif kind == "SparkListenerJobStart":
            ex = e.get("Properties", {}).get("spark.sql.execution.id")
            if ex is not None and int(ex) in started:
                for sid in e["Stage IDs"]:
                    stage_exec[sid] = int(ex)
        elif kind == DRIVER_ACCUM and e["executionId"] in started:
            for aid, value in e["accumUpdates"]:
                accum[aid] = accum.get(aid, 0) + int(value)
        elif kind == "SparkListenerTaskEnd" and e["Stage ID"] in stage_exec:
            info, tm = e["Task Info"], e.get("Task Metrics") or {}
            w.tasks += 1
            w.run_time_s += tm.get("Executor Run Time", 0) / 1000
            w.gc_s += tm.get("JVM GC Time", 0) / 1000
            w.shuffle_bytes += tm.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0
            )
            w.bytes_written += tm.get("Output Metrics", {}).get("Bytes Written", 0)
            python_task = False
            for acc in info.get("Accumulables", ()):
                aid = acc["ID"]
                if aid in metric_of:
                    accum[aid] = accum.get(aid, 0) + int(acc.get("Update", 0))
                    python_task |= metric_of[aid][0] == PY_NODE
            if python_task:
                w.python_task_s.append((info["Finish Time"] - info["Launch Time"]) / 1000)

    for aid, value in accum.items():
        node, name = metric_of.get(aid, ("", ""))
        if node == PY_NODE:
            if name == "number of output rows":
                w.python_rows_out += value
            elif name == "data sent to Python workers":
                w.python_bytes_sent += value
            elif name == "data returned from Python workers":
                w.python_bytes_received += value
        elif name == "number of written files":
            w.files_written += value
    return w


def task_stats(w: Window) -> tuple[float, float, float]:
    """(p50, max, max/p50) of the Python-node tasks' durations."""
    if not w.python_task_s:
        return 0.0, 0.0, 0.0
    p50 = statistics.median(w.python_task_s)
    mx = max(w.python_task_s)
    return p50, mx, (mx / p50 if p50 else 0.0)
