"""Parser for a local Spark event log (``spark.eventLog.enabled``).

Reads the JSON-lines log a session writes and aggregates task metrics per
job group (set by ``Tracer.span`` through ``setJobGroup``) and per call
site (PySpark records the calling ``file:line`` of every action in the
job's ``callSite.short`` property). SQL executions keep their physical
plans and driver-side metrics, so plan-level counts (written files,
decode executions) come from the same file.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from dataclasses import dataclass, field

_SQL = "org.apache.spark.sql.execution.ui."

# per-task counters summed into every aggregate
COUNTERS = (
    "tasks",
    "run_s",
    "cpu_s",
    "gc_s",
    "input_bytes",
    "output_bytes",
    "output_records",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "python_bytes_sent",
)


@dataclass
class Job:
    job_id: int
    group: str | None
    callsite: str
    sql_id: int | None
    submitted_ms: int
    completed_ms: int | None = None
    succeeded: bool | None = None


@dataclass
class Stage:
    stage_id: int
    group: str | None
    callsite: str
    task_ms: list[float] = field(default_factory=list)
    counters: dict = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0))


@dataclass
class SqlExecution:
    sql_id: int
    plans: list[str] = field(default_factory=list)
    metric_names: dict = field(default_factory=dict)  # accumulator id -> name
    driver_metrics: dict = field(default_factory=lambda: defaultdict(int))  # name -> sum


@dataclass
class EventLog:
    jobs: list[Job] = field(default_factory=list)
    stages: dict = field(default_factory=dict)  # stage id -> Stage
    sql: dict = field(default_factory=dict)  # execution id -> SqlExecution


def _walk_plan_metrics(info: dict, out: dict) -> None:
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for child in info.get("children", []):
        _walk_plan_metrics(child, out)


def _task_counters(ev: dict) -> tuple[float, dict]:
    tm = ev.get("Task Metrics") or {}
    info = ev.get("Task Info") or {}
    sr = tm.get("Shuffle Read Metrics") or {}
    sw = tm.get("Shuffle Write Metrics") or {}
    py_sent = sum(
        int(a.get("Update", 0) or 0)
        for a in info.get("Accumulables", [])
        if a.get("Name") == "data sent to Python workers"
    )
    c = {
        "tasks": 1,
        "run_s": tm.get("Executor Run Time", 0) / 1e3,
        "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
        "gc_s": tm.get("JVM GC Time", 0) / 1e3,
        "input_bytes": (tm.get("Input Metrics") or {}).get("Bytes Read", 0),
        "output_bytes": (tm.get("Output Metrics") or {}).get("Bytes Written", 0),
        "output_records": (tm.get("Output Metrics") or {}).get("Records Written", 0),
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "spill_bytes": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
        "python_bytes_sent": py_sent,
    }
    dur_ms = float(info.get("Finish Time", 0) - info.get("Launch Time", 0))
    return dur_ms, c


def parse(lines) -> EventLog:
    """Build an EventLog from an iterable of JSON lines."""
    log = EventLog()
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            sql_id = props.get("spark.sql.execution.id")
            log.jobs.append(
                Job(
                    job_id=ev["Job ID"],
                    group=props.get("spark.jobGroup.id"),
                    callsite=props.get("callSite.short", ""),
                    sql_id=int(sql_id) if sql_id not in (None, "") else None,
                    submitted_ms=ev.get("Submission Time", 0),
                )
            )
        elif kind == "SparkListenerJobEnd":
            for job in reversed(log.jobs):
                if job.job_id == ev["Job ID"]:
                    job.completed_ms = ev.get("Completion Time")
                    job.succeeded = (ev.get("Job Result") or {}).get("Result") == "JobSucceeded"
                    break
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            props = ev.get("Properties") or {}
            log.stages.setdefault(
                sid, Stage(sid, props.get("spark.jobGroup.id"), props.get("callSite.short", ""))
            )
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            stage = log.stages.setdefault(sid, Stage(sid, None, ""))
            dur_ms, c = _task_counters(ev)
            stage.task_ms.append(dur_ms)
            for k, v in c.items():
                stage.counters[k] += v
        elif kind in (_SQL + "SparkListenerSQLExecutionStart", _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            sql_id = ev["executionId"]
            ex = log.sql.setdefault(sql_id, SqlExecution(sql_id))
            ex.plans.append(ev.get("physicalPlanDescription", ""))
            _walk_plan_metrics(ev.get("sparkPlanInfo") or {}, ex.metric_names)
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            ex = log.sql.get(ev["executionId"])
            if ex is None:
                continue
            for acc_id, value in ev.get("accumUpdates", []):
                name = ex.metric_names.get(acc_id)
                if name is not None:
                    ex.driver_metrics[name] += int(value)
    return log


def read(path: str) -> EventLog:
    with open(path) as f:
        return parse(f)


def _empty() -> dict:
    out = dict.fromkeys(COUNTERS, 0)
    out.update(jobs=0, stages=0, task_skew=0.0, wall_s=0.0)
    return out


def _skew(task_ms: list[float]) -> float:
    """max / median task time of one stage (1.0 for single-task stages)."""
    if len(task_ms) < 2:
        return 1.0
    med = statistics.median(task_ms)
    return max(task_ms) / med if med > 0 else 1.0


def aggregate(log: EventLog, key: str = "group") -> dict:
    """Per job group (``key="group"``) or per call site (``"callsite"``):
    jobs, stages, task counters, job wall time, and the task skew (max over
    stages of max/median task time)."""
    out: dict = defaultdict(_empty)
    for job in log.jobs:
        k = getattr(job, key)
        out[k]["jobs"] += 1
        if job.completed_ms is not None:
            out[k]["wall_s"] += (job.completed_ms - job.submitted_ms) / 1e3
    for stage in log.stages.values():
        k = getattr(stage, key)
        agg = out[k]
        agg["stages"] += 1
        for c in COUNTERS:
            agg[c] += stage.counters[c]
        agg["task_skew"] = max(agg["task_skew"], _skew(stage.task_ms))
    return dict(out)


def total(log: EventLog, groups=None) -> dict:
    """Summed aggregate over the given job groups (all when None)."""
    per = aggregate(log, "group")
    out = _empty()
    for g, agg in per.items():
        if groups is not None and g not in groups:
            continue
        for k, v in agg.items():
            out[k] = max(out[k], v) if k == "task_skew" else out[k] + v
    return out


def callsite_line(callsite: str) -> tuple[str, int] | None:
    """``'collect at /a/b/retention.py:145'`` -> ``('retention.py', 145)``."""
    loc = callsite.rsplit(" at ", 1)[-1]
    path, _, line = loc.rpartition(":")
    if not path or not line.isdigit():
        return None
    return path.rsplit("/", 1)[-1], int(line)


def jobs_at(log: EventLog, filename: str, lines: range, groups=None) -> int:
    """Jobs whose call site is ``filename`` at a line inside ``lines``."""
    n = 0
    for job in log.jobs:
        if groups is not None and job.group not in groups:
            continue
        loc = callsite_line(job.callsite)
        if loc is not None and loc[0] == filename and loc[1] in lines:
            n += 1
    return n


def driver_metric(log: EventLog, name: str, groups=None) -> int:
    """Sum of a driver-side SQL metric (e.g. ``number of written files``)
    over the SQL executions whose jobs ran in ``groups``."""
    ids = {j.sql_id for j in log.jobs if groups is None or j.group in groups}
    return sum(ex.driver_metrics.get(name, 0) for sid, ex in log.sql.items() if sid in ids)


def executions_matching(log: EventLog, predicate, groups=None) -> int:
    """Count SQL executions (with jobs in ``groups``) whose plans satisfy
    ``predicate(list_of_plan_texts)``."""
    ids = {j.sql_id for j in log.jobs if groups is None or j.group in groups}
    return sum(1 for sid, ex in log.sql.items() if sid in ids and predicate(ex.plans))
