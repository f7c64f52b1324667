"""Read a local Spark event log and charge its work to job groups.

Jobs, stages and tasks are counted per job group (each traced span
runs under its own group), never as a difference of global job ids:
`SparkContext.statusTracker()` forgets jobs once
`spark.ui.retainedJobs` rolls over, so a global id delta can go
negative. The event log keeps every job.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from dataclasses import dataclass, field

#: SQL metric names that mark a plan node as crossing the Python/Arrow
#: worker boundary (Python UDFs, pandas/Arrow maps, Python data sources)
PY_BYTES_OUT = "data sent to Python workers"
PY_BYTES_IN = "data returned from Python workers"
PY_ROWS = "number of output rows"


@dataclass
class GroupStats:
    jobs: int = 0
    stages: set = field(default_factory=set)
    tasks: int = 0
    failed_tasks: int = 0
    task_run_s: float = 0.0
    task_wait_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    input_bytes: int = 0
    spill_bytes: int = 0
    py_rows: int = 0
    py_bytes_out: int = 0
    py_bytes_in: int = 0


@dataclass
class EventLog:
    groups: dict[str, GroupStats]
    #: (start_s, end_s) of every job, in epoch seconds
    job_intervals: list[tuple[float, float]]


def find_log(log_dir: str, app_id: str) -> str:
    """The finished event log of application `app_id`."""
    path = os.path.join(log_dir, app_id)
    if not os.path.isfile(path):
        raise RuntimeError(f"no finished event log for {app_id} in "
                           f"{log_dir}: {os.listdir(log_dir)}")
    return path


def _py_metric_ids(plan: dict, out: dict[int, str]) -> None:
    """Accumulator id -> python metric kind, for the nodes of `plan`
    that exchange data with Python workers."""
    metrics = {m["name"]: m["accumulatorId"] for m in plan.get("metrics", [])}
    if PY_BYTES_OUT in metrics or PY_BYTES_IN in metrics:
        for name, kind in ((PY_BYTES_OUT, "out"), (PY_BYTES_IN, "in"),
                           (PY_ROWS, "rows")):
            if name in metrics:
                out[metrics[name]] = kind
    for child in plan.get("children", []):
        _py_metric_ids(child, out)


def parse(path: str) -> EventLog:
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    stage_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    intervals: list[tuple[float, float]] = []
    py_ids: dict[int, str] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                gid = (ev.get("Properties") or {}).get("spark.jobGroup.id",
                                                       "")
                g = groups[gid]
                g.jobs += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, gid)
                job_start[ev["Job ID"]] = ev["Submission Time"] / 1000.0
            elif kind == "SparkListenerJobEnd":
                t0 = job_start.pop(ev["Job ID"], None)
                if t0 is not None:
                    intervals.append((t0, ev["Completion Time"] / 1000.0))
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                groups[stage_group.get(sid, "")].stages.add(sid)
            elif kind == "SparkListenerTaskEnd":
                g = groups[stage_group.get(ev["Stage ID"], "")]
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                g.tasks += 1
                if info.get("Failed") or \
                        ev["Task End Reason"].get("Reason") != "Success":
                    g.failed_tasks += 1
                run = m.get("Executor Run Time", 0)
                deser = m.get("Executor Deserialize Time", 0)
                wall = info["Finish Time"] - info["Launch Time"]
                delay = max(0, wall - run - deser
                            - m.get("Result Serialization Time", 0)
                            - info.get("Getting Result Time", 0))
                g.task_run_s += run / 1000.0
                g.task_wait_s += (delay + deser) / 1000.0
                g.gc_s += m.get("JVM GC Time", 0) / 1000.0
                g.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}
                                          ).get("Shuffle Bytes Written", 0)
                g.input_bytes += (m.get("Input Metrics") or {}
                                  ).get("Bytes Read", 0)
                g.spill_bytes += (m.get("Memory Bytes Spilled", 0)
                                  + m.get("Disk Bytes Spilled", 0))
                for acc in info.get("Accumulables", []):
                    pk = py_ids.get(acc.get("ID"))
                    if pk is None:
                        continue
                    v = int(acc.get("Update") or 0)
                    if pk == "rows":
                        g.py_rows += v
                    elif pk == "out":
                        g.py_bytes_out += v
                    else:
                        g.py_bytes_in += v
            elif kind.endswith("SparkListenerSQLExecutionStart") or \
                    kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                plan = ev.get("sparkPlanInfo")
                if plan:
                    _py_metric_ids(plan, py_ids)
    return EventLog(dict(groups), intervals)
