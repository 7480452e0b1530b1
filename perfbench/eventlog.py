"""Spark event-log reader for the traced run: per job its group (the
benchmark sets one per operation), call site, SQL execution and wall
interval; per stage the task metrics and the SQL metrics Spark
aggregates for it (Python worker bytes among them); per SQL
execution the files it read (a driver-side metric) and the physical plan
text.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field

_SQL = "org.apache.spark.sql.execution.ui."

#: stage accumulables summed per stage (task metrics and SQL metrics)
_STAGE_SUMS = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.input.bytesRead": "in_bytes",
    "internal.metrics.input.recordsRead": "in_records",
    "internal.metrics.shuffle.write.bytesWritten": "sh_write",
    "internal.metrics.shuffle.read.localBytesRead": "sh_read",
    "internal.metrics.shuffle.read.remoteBytesRead": "sh_read",
    "internal.metrics.memoryBytesSpilled": "spill",
    "internal.metrics.diskBytesSpilled": "spill",
    "data sent to Python workers": "py_bytes",
    "data returned from Python workers": "py_bytes",
}

#: driver-side SQL metrics summed per execution
_EXEC_SUMS = {
    "number of files read": "files_read",
}


@dataclass
class Stage:
    tasks: int = 0
    m: dict = field(default_factory=dict)


@dataclass
class Job:
    group: str | None
    call_site: str
    exec_id: int | None
    start: float
    end: float = 0.0
    stages: list[int] = field(default_factory=list)


@dataclass
class Execution:
    plan: str = ""
    m: dict = field(default_factory=dict)


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stages: dict[int, Stage]
    execs: dict[int, Execution]

    def jobs_of(self, group: str) -> list[Job]:
        return [j for j in self.jobs.values() if j.group == group]


def _plan_metrics(info: dict, names: dict[int, str]) -> None:
    for m in info.get("metrics", []):
        names[m["accumulatorId"]] = m["name"]
    for child in info.get("children", []):
        _plan_metrics(child, names)


def read_event_log(log_dir: str) -> EventLog:
    """Parse the single application log Spark wrote under ``log_dir``
    (call after the session is stopped, so the log is complete)."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(paths)}")
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    execs: dict[int, Execution] = {}
    acc_names: dict[int, str] = {}
    with open(paths[0]) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                eid = props.get("spark.sql.execution.id")
                jobs[e["Job ID"]] = Job(
                    group=props.get("spark.jobGroup.id"),
                    call_site=props.get("callSite.short", ""),
                    exec_id=int(eid) if eid is not None else None,
                    start=e["Submission Time"] / 1000.0,
                    stages=list(e.get("Stage IDs", [])),
                )
            elif ev == "SparkListenerJobEnd":
                if e["Job ID"] in jobs:
                    jobs[e["Job ID"]].end = e["Completion Time"] / 1000.0
            elif ev == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                st = Stage(tasks=info.get("Number of Tasks", 0))
                for acc in info.get("Accumulables", []):
                    key = _STAGE_SUMS.get(acc.get("Name"))
                    if key is not None:
                        st.m[key] = st.m.get(key, 0) + float(acc.get("Value") or 0)
                stages[info["Stage ID"]] = st
            elif ev in (_SQL + "SparkListenerSQLExecutionStart", _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
                ex = execs.setdefault(e["executionId"], Execution())
                ex.plan = e.get("physicalPlanDescription", ex.plan)
                _plan_metrics(e.get("sparkPlanInfo", {}), acc_names)
            elif ev == _SQL + "SparkListenerSQLAdaptiveSQLMetricUpdates":
                for m in e.get("sqlPlanMetrics", []):
                    acc_names[m["accumulatorId"]] = m["name"]
            elif ev == _SQL + "SparkListenerDriverAccumUpdates":
                ex = execs.setdefault(e["executionId"], Execution())
                for acc_id, value in e.get("accumUpdates", []):
                    key = _EXEC_SUMS.get(acc_names.get(acc_id, ""))
                    if key is not None:
                        ex.m[key] = ex.m.get(key, 0) + float(value)
    return EventLog(jobs=jobs, stages=stages, execs=execs)


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def job_totals(log: EventLog, jobs: list[Job]) -> dict[str, float]:
    """Summed counters over ``jobs``: their stages' task metrics and their
    executions' driver metrics (each execution counted once)."""
    out = {"jobs": float(len(jobs)), "stages": 0.0, "tasks": 0.0, "py_stage_ms": 0.0}
    seen_exec = set()
    for j in jobs:
        for sid in j.stages:
            st = log.stages.get(sid)
            if st is None:  # skipped stage: its shuffle output was reused
                continue
            out["stages"] += 1
            out["tasks"] += st.tasks
            for k, v in st.m.items():
                out[k] = out.get(k, 0.0) + v
            if "py_bytes" in st.m:
                out["py_stage_ms"] += st.m.get("run_ms", 0.0)
        if j.exec_id is not None and j.exec_id not in seen_exec:
            seen_exec.add(j.exec_id)
            for k, v in log.execs.get(j.exec_id, Execution()).m.items():
                out[k] = out.get(k, 0.0) + v
    out["job_wall_s"] = union_seconds([(j.start, j.end) for j in jobs if j.end])
    return out
