"""Roll Spark's own event log up per job group, with the standard library.

The benchmark's traced run writes an uncompressed event log (one JSON object
per line) and tags every job with the job group of the span that ran it.
``parse`` reads the log into jobs and per-stage task counters;
``EventLog.task_totals`` sums the counters of the stages run under a set of
job groups.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

SQL_PREFIX = "org.apache.spark.sql.execution.ui."


@dataclass
class Job:
    job_id: int
    group: str | None
    submit_ms: int
    end_ms: int | None = None
    result: str | None = None
    execution_id: int | None = None


@dataclass
class TaskTotals:
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    wait_ms: int = 0
    gc_ms: int = 0
    input_bytes: int = 0
    input_records: int = 0
    output_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0

    def add(self, other: "TaskTotals") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stage_submit_ms: dict[tuple[int, int], int] = field(default_factory=dict)
    stage_group: dict[int, str | None] = field(default_factory=dict)
    stage_failure: dict[int, str] = field(default_factory=dict)
    stage_tasks: dict[int, TaskTotals] = field(default_factory=dict)
    # SQL execution id -> {accumulator id: metric name}, and driver-side values
    sql_metric_names: dict[int, dict[int, str]] = field(default_factory=dict)
    driver_accums: dict[int, list[tuple[int, int]]] = field(default_factory=dict)

    def jobs_in(self, groups: set[str]) -> list[Job]:
        return [j for j in self.jobs.values() if j.group in groups]

    def task_totals(self, groups: set[str]) -> TaskTotals:
        """Task counters of the stages submitted under these job groups.

        A stage is billed once, to the group of the job that ran it; a job
        that reuses an earlier job's shuffle lists that stage as skipped.
        """
        out = TaskTotals()
        for sid, totals in self.stage_tasks.items():
            if self.stage_group.get(sid) in groups:
                out.add(totals)
        return out

    def driver_metric(self, jobs: list[Job], name: str) -> int:
        """Sum a driver-posted SQL metric (e.g. "number of written files")
        over the SQL executions these jobs ran under."""
        total = 0
        for eid in {j.execution_id for j in jobs if j.execution_id is not None}:
            names = self.sql_metric_names.get(eid, {})
            for acc, value in self.driver_accums.get(eid, []):
                if names.get(acc) == name:
                    total += int(value)
        return total


def _plan_metrics(info: dict, out: dict[int, str]) -> None:
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for child in info.get("children", []):
        _plan_metrics(child, out)


def _task_totals(ev: dict, submit_ms: int | None) -> TaskTotals:
    info = ev.get("Task Info", {})
    m = ev.get("Task Metrics") or {}
    t = TaskTotals(tasks=1)
    t.run_ms = m.get("Executor Run Time", 0)
    t.cpu_ns = m.get("Executor CPU Time", 0)
    t.gc_ms = m.get("JVM GC Time", 0)
    t.spill_bytes = m.get("Disk Bytes Spilled", 0)
    t.input_bytes = m.get("Input Metrics", {}).get("Bytes Read", 0)
    t.input_records = m.get("Input Metrics", {}).get("Records Read", 0)
    t.output_bytes = m.get("Output Metrics", {}).get("Bytes Written", 0)
    t.shuffle_write_bytes = m.get("Shuffle Write Metrics", {}).get(
        "Shuffle Bytes Written", 0
    )
    if submit_ms is not None and "Launch Time" in info:
        t.wait_ms = max(0, info["Launch Time"] - submit_ms)
    return t


def log_files(event_dir: str) -> list[str]:
    """Every event-log file under ``event_dir`` (plain or rolling layout),
    skipping in-progress files of a log still being written."""
    out = []
    for root, _dirs, files in os.walk(event_dir):
        for f in sorted(files):
            if not f.endswith(".inprogress") and not f.startswith("appstatus"):
                out.append(os.path.join(root, f))
    return sorted(out)


def parse(paths: list[str]) -> EventLog:
    log = EventLog()
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    _apply(log, json.loads(line))
    return log


def _apply(log: EventLog, ev: dict) -> None:
    kind = ev.get("Event", "")
    if kind == "SparkListenerJobStart":
        props = ev.get("Properties") or {}
        eid = props.get("spark.sql.execution.id")
        log.jobs[ev["Job ID"]] = Job(
            job_id=ev["Job ID"],
            group=props.get("spark.jobGroup.id"),
            submit_ms=ev["Submission Time"],
            execution_id=int(eid) if eid is not None else None,
        )
    elif kind == "SparkListenerJobEnd":
        job = log.jobs.get(ev["Job ID"])
        if job is not None:
            job.end_ms = ev["Completion Time"]
            job.result = ev.get("Job Result", {}).get("Result")
    elif kind == "SparkListenerStageSubmitted":
        si = ev["Stage Info"]
        log.stage_group[si["Stage ID"]] = (ev.get("Properties") or {}).get(
            "spark.jobGroup.id"
        )
        if "Submission Time" in si:
            log.stage_submit_ms[(si["Stage ID"], si["Stage Attempt ID"])] = si[
                "Submission Time"
            ]
    elif kind == "SparkListenerStageCompleted":
        si = ev["Stage Info"]
        if si.get("Failure Reason"):
            log.stage_failure[si["Stage ID"]] = si["Failure Reason"]
    elif kind == "SparkListenerTaskEnd":
        key = (ev["Stage ID"], ev["Stage Attempt ID"])
        totals = log.stage_tasks.setdefault(ev["Stage ID"], TaskTotals())
        totals.add(_task_totals(ev, log.stage_submit_ms.get(key)))
    elif kind in (
        SQL_PREFIX + "SparkListenerSQLExecutionStart",
        SQL_PREFIX + "SparkListenerSQLAdaptiveExecutionUpdate",
    ):
        names = log.sql_metric_names.setdefault(ev["executionId"], {})
        _plan_metrics(ev.get("sparkPlanInfo", {}), names)
    elif kind == SQL_PREFIX + "SparkListenerSQLAdaptiveSQLMetricUpdates":
        names = log.sql_metric_names.setdefault(ev["executionId"], {})
        for m in ev.get("sqlPlanMetrics", []):
            names[m["accumulatorId"]] = m["name"]
    elif kind == SQL_PREFIX + "SparkListenerDriverAccumUpdates":
        log.driver_accums.setdefault(ev["executionId"], []).extend(
            (int(a), int(v)) for a, v in ev.get("accumUpdates", [])
        )


def union_ms(intervals: list[tuple[int, int]]) -> int:
    """Total length covered by a set of [start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
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
