"""Traced run: the per-layer metrics.

After the cold execute and a warm-up, untraced and traced executes
alternate; the difference of their medians is the tracing overhead.
Traced executes record spans around every layer call. After each one,
the frames seen at layer boundaries are written with the ``noop``
format, one prefix at a time, which splits execution time by step.
Spark's event log gives jobs, stages and task metrics; the listener
gives streaming progress. Each per-execute metric is the median over
the traced executes. Spans and the per-layer attribution are written to
``perfbench/.work/trace/<workload>.json``.
"""

from __future__ import annotations

import glob
import json
import math
import os
import shutil
import statistics
import time

import bootstrap
import eventlog
from tracing import Tracer, patched_modules, traced_executor
from workloads import WARMUP_BATCHES, WORKLOADS, Tally, log, repeat, result, vm_hwm_mb

TRACED_EXECUTES = 2  # at least; more while --seconds allow
CONFIG_PARSES = 20

# step types of the workloads' pipelines that run through the registry
OPERATOR_TYPES = ("map",)
# every per-execute metric with its unit; the session, config and trace
# metrics are added around them
PER_EXECUTE_UNITS = {
    "executor.self_s": "s",
    "executor.actions": "count",
    "sources.extract_ms": "ms",
    "sources.scan_s": "s",
    "sources.input_bytes": "bytes",
    "sources.input_records": "count",
    "sources.scan_amplification": "ratio",
    **{
        f"operators.{op}.{m}": u
        for op in OPERATOR_TYPES
        for m, u in (("build_ms", "ms"), ("eager_jobs", "count"), ("exec_s", "s"))
    },
    "quality.schema_ms": "ms",
    "quality.dup_check_s": "s",
    "quality.split_ms": "ms",
    "quality.quarantine_s": "s",
    "quality.quarantined_rows": "count",
    "lineage.build_ms": "ms",
    "lineage.stamp_ms": "ms",
    "sinks.load_s": "s",
    "sinks.write_s": "s",
    "sinks.bytes_written": "bytes",
    "sinks.files_written": "count",
    "sinks.bytes_per_row": "bytes/row",
    "streaming.batches": "count",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.get_batch_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "bytes",
    "streaming.tasks_per_batch": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.busy_ratio": "ratio",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.single_task_stage_s": "s",
}
PER_LAYER_UNITS = {
    "session.import_s": "s",
    "session.get_spark_s": "s",
    "session.first_job_s": "s",
    "config.parse_ms": "ms",
    "process.peak_rss_mb": "MB",
    **PER_EXECUTE_UNITS,
    "trace.overhead_s": "s",
}


def _layer(span_name: str) -> str:
    return "plans.executor" if span_name == "execute" else span_name.split(".")[0]


def _window_ms(span) -> tuple[int, int]:
    """The span's wall-clock interval in the event log's milliseconds."""
    return math.floor(span.start * 1e3) - 1, math.ceil(span.end * 1e3) + 1


def _span_seconds(spans, name: str) -> float:
    return sum(s.seconds for s in spans if s.name == name)


def _execute_metrics(tracer: Tracer, log_: eventlog.EventLog, sample: dict, rows_in: int) -> dict:
    root = sample["root"]
    spans = tracer.under(root)
    start_ms, end_ms = _window_ms(root)
    jobs = log_.jobs_between(start_ms, end_ms)
    noop = sample["noop"]
    input_bytes, input_records = eventlog.input_metrics(log_, jobs, start_ms, end_ms)
    files, bytes_written, rows_written = sample["sink_files"]
    load_s = _span_seconds(spans, "sinks.load")
    out = {
        "executor.self_s": tracer.self_seconds(root),
        "executor.actions": len(jobs),
        "sources.extract_ms": _span_seconds(spans, "sources.extract") * 1e3,
        "sources.scan_s": noop.get("sources.extract", 0.0),
        "sources.input_bytes": input_bytes,
        "sources.input_records": input_records,
        "sources.scan_amplification": input_records / rows_in,
        "quality.schema_ms": _span_seconds(spans, "quality.schema") * 1e3,
        "quality.dup_check_s": _span_seconds(spans, "quality.dup_check"),
        "quality.split_ms": _span_seconds(spans, "quality.split") * 1e3,
        "quality.quarantine_s": _span_seconds(spans, "quality.quarantine"),
        "quality.quarantined_rows": sample["quarantined"],
        "lineage.build_ms": _span_seconds(spans, "lineage.build") * 1e3,
        "lineage.stamp_ms": _span_seconds(spans, "lineage.stamp") * 1e3,
        "sinks.load_s": load_s,
        "sinks.write_s": load_s - noop["sinks.load.input"] if "sinks.load.input" in noop else 0.0,
        "sinks.bytes_written": bytes_written,
        "sinks.files_written": files,
        "sinks.bytes_per_row": bytes_written / rows_written if rows_written else 0.0,
    }
    for op in OPERATOR_TYPES:
        name = f"operators.{op}"
        op_spans = [s for s in spans if s.name == name]
        inner = {x.span_id for s in op_spans for x in tracer.under(s)}
        out[f"{name}.build_ms"] = _span_seconds(spans, name) * 1e3
        out[f"{name}.eager_jobs"] = sum(
            1 for j in jobs if (tracer.span_of_job(j.description) or root).span_id in inner
        )
        out[f"{name}.exec_s"] = (
            noop[name] - noop[f"{name}.input"] if name in noop else 0.0
        )
    out.update(eventlog.streaming_metrics(sample["progress"]))
    out["streaming.tasks_per_batch"] = eventlog.tasks_per_stream_batch(log_, jobs)
    out.update(eventlog.spark_metrics(log_, jobs, bootstrap.local_cores()))
    return out


def _attribution(tracer: Tracer, log_: eventlog.EventLog, samples: list[dict]) -> dict:
    """Self time and Spark work per layer, the one-task stages, and the
    trigger-phase split of streaming batches, over the traced executes."""
    self_s: dict[str, float] = {}
    jobs_by_layer: dict[str, list] = {}
    single_task = []
    for sample in samples:
        root = sample["root"]
        for span in tracer.under(root):
            layer = _layer(span.name)
            self_s[layer] = self_s.get(layer, 0.0) + tracer.self_seconds(span)
        for job in log_.jobs_between(*_window_ms(root)):
            span = tracer.span_of_job(job.description)
            layer = _layer(span.name) if span else "streaming"
            jobs_by_layer.setdefault(layer, []).append(job)
            for sid in job.stage_ids:
                stage = log_.stages.get(sid)
                if stage is not None and stage.num_tasks == 1:
                    single_task.append(
                        {"layer": layer, "stage": sid,
                         "seconds": (stage.completed_ms - stage.submitted_ms) / 1e3}
                    )
    n = len(samples)
    phases = {}
    for sample in samples:
        for p in sample["progress"]:
            for key, ms in p["durationMs"].items():
                phases[key] = phases.get(key, 0) + ms / n
    return {
        "self_s_per_execute": {k: v / n for k, v in sorted(self_s.items(), key=lambda kv: -kv[1])},
        "spark_per_layer_per_execute": {
            layer: {
                k: v / n
                for k, v in eventlog.spark_metrics(log_, jobs, bootstrap.local_cores()).items()
                if k in ("spark.jobs", "spark.tasks", "spark.executor_run_s")
            }
            for layer, jobs in jobs_by_layer.items()
        },
        "single_task_stages": single_task,
        "stream_trigger_ms_per_execute": phases,
    }


def _executes(name: str, manifest: dict, spark, seconds: float):
    """Cold execute and warm-up, then untraced and traced executes in
    turn, each traced one followed by its prefix materializations."""
    from etl_spark_gradle_spark.plans.executor import PipelineExecutor

    workload = WORKLOADS[name](manifest, spark)
    parse_ms = []
    for _ in range(CONFIG_PARSES):
        start = time.perf_counter()
        config = workload.load_config()
        parse_ms.append((time.perf_counter() - start) * 1e3)
    tally = Tally()

    plain = PipelineExecutor()
    _, metrics = workload.execute(plain, config)  # cold and warm-up, not measured here
    tally.record(workload, metrics)
    repeat(workload, plain, config, tally, batches=WARMUP_BATCHES)
    tracer = Tracer(spark.sparkContext)
    traced = traced_executor(tracer)
    untraced, samples = [], []
    deadline = time.perf_counter() + seconds
    # untraced and traced executes alternate, so warm-up and drift
    # fall on both sides of the tracing overhead
    while len(samples) < TRACED_EXECUTES or time.perf_counter() < deadline:
        elapsed, metrics = workload.execute(plain, config)
        tally.record(workload, metrics)
        untraced.append(elapsed)
        tracer.frames.clear()
        with patched_modules(tracer):
            elapsed, metrics = workload.execute(traced, config, tracer)
        tally.record(workload, metrics)
        sample = {
            "root": next(s for s in reversed(tracer.spans) if s.name == "execute"),
            "seconds": elapsed,
            "progress": list(workload.progress),
            "sink_files": workload.sink_files(),
            "quarantined": metrics.records_failed,
            "noop": {},
        }
        # prefix materializations, outside the execute span
        for label, df in tracer.frames:
            with tracer.span(f"probe.{label}") as span:
                df.write.format("noop").mode("overwrite").save()
            sample["noop"][label] = span.seconds
        samples.append(sample)
    return tracer, samples, untraced, parse_ms, tally


def run(name: str, manifest: dict, seconds: float) -> dict:
    log_dir = os.path.join(bootstrap.WORK, "eventlog", f"{name}-{os.getpid()}")
    shutil.rmtree(log_dir, ignore_errors=True)
    os.makedirs(log_dir)
    spark, setup = bootstrap.timed_setup(
        conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    )
    try:
        tracer, samples, untraced, parse_ms, tally = _executes(name, manifest, spark, seconds)
        peak_rss_mb = vm_hwm_mb(bootstrap.jvm_pid()) + vm_hwm_mb("self")
    finally:
        bootstrap.stop_spark(spark)

    (log_file,) = glob.glob(os.path.join(log_dir, "*"))
    log_ = eventlog.parse_event_log(log_file)
    per_execute = [_execute_metrics(tracer, log_, s, manifest["rows"]) for s in samples]
    values = {
        "session.import_s": setup["import_s"],
        "session.get_spark_s": setup["get_spark_s"],
        "session.first_job_s": setup["first_job_s"],
        "config.parse_ms": statistics.median(parse_ms),
        "process.peak_rss_mb": peak_rss_mb,
        "trace.overhead_s": statistics.median(s["seconds"] for s in samples)
        - statistics.median(untraced),
    }
    for key in PER_EXECUTE_UNITS:
        values[key] = statistics.median(m[key] for m in per_execute)

    attribution = _attribution(tracer, log_, samples)
    trace_dir = os.path.join(bootstrap.WORK, "trace")
    os.makedirs(trace_dir, exist_ok=True)
    with open(os.path.join(trace_dir, f"{name}.json"), "w", encoding="utf-8") as f:
        json.dump({"spans": tracer.as_records(), "attribution": attribution}, f, indent=1)
    top = list(attribution["self_s_per_execute"].items())[:3]
    log(f"{name}: top layers by self time per execute: {top}")
    return result(tally, values, PER_LAYER_UNITS)
