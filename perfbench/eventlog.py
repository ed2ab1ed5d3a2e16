"""Readers for what Spark itself reports: the JSON event log and
Structured Streaming progress records.

The event log (``spark.eventLog.enabled``, uncompressed, one JSON event
per line) gives jobs, stages and per-task metrics. Jobs are attributed
to benchmark spans by the job description the tracer sets, and to a
pipeline run by the wall-clock interval the run spans.
"""

from __future__ import annotations

import json
import re
import statistics
from dataclasses import dataclass, field

_STREAM_BATCH = re.compile(r"batch = (\d+)")
_SQL = "org.apache.spark.sql.execution.ui."
# Parquet scans leave the task input-bytes counter near zero (their reads
# bypass the Hadoop file-system statistics it is built on), so input
# bytes come from the scan node's own SQL metric.
_FILES_READ_METRIC = "size of files read"


@dataclass
class Job:
    job_id: int
    submitted_ms: int
    description: str | None
    stage_ids: list[int]
    completed_ms: int | None = None


@dataclass
class Stage:
    stage_id: int
    num_tasks: int
    submitted_ms: int
    completed_ms: int


@dataclass
class Task:
    stage_id: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    input_records: int
    shuffle_write_bytes: int
    shuffle_read_bytes: int
    spill_bytes: int


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, Stage] = field(default_factory=dict)
    tasks: list[Task] = field(default_factory=list)
    # SQL execution id -> (start ms, bytes of the files its scans read)
    executions: dict[int, list[int]] = field(default_factory=dict)

    def jobs_between(self, start_ms: float, end_ms: float) -> list[Job]:
        """Jobs submitted inside the wall-clock interval."""
        return [j for j in self.jobs.values() if start_ms <= j.submitted_ms <= end_ms]

    def stream_batch_of(self, job: Job) -> int | None:
        """Micro-batch id of a job a streaming query ran, else None."""
        m = _STREAM_BATCH.search(job.description or "")
        return int(m.group(1)) if m else None


def _scan_metric_ids(plan: dict) -> list[int]:
    ids = [m["accumulatorId"] for m in plan["metrics"] if m["name"] == _FILES_READ_METRIC]
    for child in plan["children"]:
        ids.extend(_scan_metric_ids(child))
    return ids


def parse_event_log(path: str) -> EventLog:
    """Parse an uncompressed event log file. Failed or killed task
    attempts are skipped; only completed stages are kept, so stages a job
    skipped (shuffle reuse) are not counted."""
    log = EventLog()
    files_read: dict[int, int] = {}  # accumulator id -> SQL execution id
    with open(path, encoding="utf-8") as f:
        for line in f:
            event = json.loads(line)
            kind = event["Event"]
            if kind in (_SQL + "SparkListenerSQLExecutionStart",
                        _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
                execution = event["executionId"]
                if "time" in event:
                    log.executions[execution] = [event["time"], 0]
                for acc in _scan_metric_ids(event["sparkPlanInfo"]):
                    files_read[acc] = execution
            elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                for acc, value in event["accumUpdates"]:
                    execution = files_read.get(acc)
                    if execution in log.executions:
                        log.executions[execution][1] += value
            elif kind == "SparkListenerJobStart":
                log.jobs[event["Job ID"]] = Job(
                    job_id=event["Job ID"],
                    submitted_ms=event["Submission Time"],
                    description=(event.get("Properties") or {}).get("spark.job.description"),
                    stage_ids=list(event["Stage IDs"]),
                )
            elif kind == "SparkListenerJobEnd":
                job = log.jobs.get(event["Job ID"])
                if job is not None:
                    job.completed_ms = event["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                info = event["Stage Info"]
                log.stages[info["Stage ID"]] = Stage(
                    stage_id=info["Stage ID"],
                    num_tasks=info["Number of Tasks"],
                    submitted_ms=info["Submission Time"],
                    completed_ms=info["Completion Time"],
                )
            elif kind == "SparkListenerTaskEnd":
                if event["Task End Reason"]["Reason"] != "Success":
                    continue
                m = event["Task Metrics"]
                shuffle_read = m["Shuffle Read Metrics"]
                log.tasks.append(
                    Task(
                        stage_id=event["Stage ID"],
                        run_ms=m["Executor Run Time"],
                        cpu_ns=m["Executor CPU Time"],
                        gc_ms=m["JVM GC Time"],
                        input_records=m["Input Metrics"]["Records Read"],
                        shuffle_write_bytes=m["Shuffle Write Metrics"]["Shuffle Bytes Written"],
                        shuffle_read_bytes=shuffle_read["Remote Bytes Read"]
                        + shuffle_read["Local Bytes Read"],
                        spill_bytes=m["Disk Bytes Spilled"],
                    )
                )
    return log


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, cur_start, cur_end = 0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def spark_metrics(log: EventLog, jobs: list[Job], cores: int) -> dict[str, float]:
    """The ``spark.*`` metrics of a set of jobs: counts, executor time,
    shuffle and spill bytes, and how busy the cores were while the jobs
    ran (executor run time / (cores x wall time covered by the jobs))."""
    stage_ids = {s for j in jobs for s in j.stage_ids if s in log.stages}
    stages = [log.stages[s] for s in stage_ids]
    tasks = [t for t in log.tasks if t.stage_id in stage_ids]
    run_s = sum(t.run_ms for t in tasks) / 1e3
    wall_ms = _union_ms(
        [(j.submitted_ms, j.completed_ms) for j in jobs if j.completed_ms is not None]
    )
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": len(tasks),
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": sum(t.cpu_ns for t in tasks) / 1e9,
        "spark.gc_s": sum(t.gc_ms for t in tasks) / 1e3,
        "spark.busy_ratio": run_s / (cores * wall_ms / 1e3) if wall_ms else 0.0,
        "spark.shuffle_write_bytes": sum(t.shuffle_write_bytes for t in tasks),
        "spark.shuffle_read_bytes": sum(t.shuffle_read_bytes for t in tasks),
        "spark.spill_bytes": sum(t.spill_bytes for t in tasks),
        "spark.single_task_stage_s": sum(
            (s.completed_ms - s.submitted_ms) / 1e3 for s in stages if s.num_tasks == 1
        ),
    }


def input_metrics(
    log: EventLog, jobs: list[Job], start_ms: float, end_ms: float
) -> tuple[int, int]:
    """(bytes, records) read from sources: the size of the files the SQL
    executions started in the interval scanned, and the records the jobs'
    tasks read."""
    stage_ids = {s for j in jobs for s in j.stage_ids}
    records = sum(t.input_records for t in log.tasks if t.stage_id in stage_ids)
    size = sum(b for start, b in log.executions.values() if start_ms <= start <= end_ms)
    return size, records


def tasks_per_stream_batch(log: EventLog, jobs: list[Job]) -> float:
    """Median number of tasks the streaming query ran per micro-batch."""
    per_batch: dict[int, int] = {}
    for job in jobs:
        batch = log.stream_batch_of(job)
        if batch is None:
            continue
        stage_ids = set(job.stage_ids)
        per_batch[batch] = per_batch.get(batch, 0) + sum(
            1 for t in log.tasks if t.stage_id in stage_ids
        )
    return statistics.median(per_batch.values()) if per_batch else 0.0


_PROGRESS_DURATIONS = {
    "streaming.add_batch_ms": "addBatch",
    "streaming.query_planning_ms": "queryPlanning",
    "streaming.wal_commit_ms": "walCommit",
    "streaming.commit_offsets_ms": "commitOffsets",
    "streaming.latest_offset_ms": "latestOffset",
    "streaming.get_batch_ms": "getBatch",
}


def streaming_metrics(progress: list[dict]) -> dict[str, float]:
    """The ``streaming.*`` metrics of one query's progress records
    (``StreamingQueryProgress.json`` parsed): the batch count, the median
    of each trigger phase and the state store size after the last batch."""
    out: dict[str, float] = {"streaming.batches": len(progress)}
    for name, key in _PROGRESS_DURATIONS.items():
        values = [p["durationMs"].get(key, 0) for p in progress]
        out[name] = statistics.median(values) if values else 0.0
    state = [op for p in progress[-1:] for op in p.get("stateOperators", [])]
    out["streaming.state_rows"] = sum(op.get("numRowsTotal", 0) for op in state)
    out["streaming.state_memory_bytes"] = max(
        (op.get("memoryUsedBytes", 0) for p in progress for op in p.get("stateOperators", [])),
        default=0,
    )
    return out
