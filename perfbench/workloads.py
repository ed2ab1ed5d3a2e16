"""The benchmark's workloads: a pipeline YAML, its generated inputs, how
one execute is timed and how its output is checked."""

from __future__ import annotations

import contextlib
import glob
import json
import os
import shutil
import statistics
import sys
import threading
import time

import bootstrap
import gen
import oracle

PIPELINES = os.path.join(bootstrap.REPO_ROOT, "perfbench", "pipelines")
# JIT compilation keeps speeding executes up for several executes after
# the first; measurement starts after this many more batches (one drain
# of ``stream_windowing``, five executes of ``quality_ingest``)
WARMUP_BATCHES = 5


def log(message: str) -> None:
    print(f"[perfbench] {message}", file=sys.stderr, flush=True)


def percentile(values: list[float], q: int) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


class Workload:
    """One pipeline, its generated inputs and the check of its output."""

    name = ""

    def __init__(self, manifest: dict, spark):
        self.manifest = manifest
        self.spark = spark
        run_dir = os.path.join(bootstrap.WORK, "run", self.name)
        self.out = os.path.join(run_dir, "out")
        self.checkpoint = os.path.join(run_dir, "checkpoint")
        self.quarantine = os.path.join(run_dir, "quarantine")
        os.environ.update(BENCH_SRC=manifest["src"], BENCH_OUT=self.out, BENCH_CKPT=self.checkpoint)
        self.progress: list[dict] = []  # streaming progress of the last execute

    def load_config(self):
        from etl_spark_gradle_spark.plans.config import load_pipeline_yaml

        return load_pipeline_yaml(os.path.join(PIPELINES, f"{self.name}.yaml"))

    def reset_outputs(self) -> None:
        """Every execute starts from an empty sink, quarantine and
        checkpoint, so each one does the same work."""
        for path in (self.out, self.checkpoint, self.quarantine):
            shutil.rmtree(path, ignore_errors=True)
        self.progress.clear()

    def execute(self, executor, config, tracer=None) -> tuple[float, object]:
        """One timed execute: from the call to the returned metrics,
        inside an ``execute`` span when a tracer is given."""
        self.reset_outputs()
        span = tracer.span("execute") if tracer else contextlib.nullcontext()
        with span:
            start = time.perf_counter()
            metrics = executor.execute(config, self.spark)
            seconds = time.perf_counter() - start
        return seconds, metrics

    def check(self, metrics) -> list[str]:
        raise NotImplementedError

    def batch_ms(self, seconds: float) -> list[float]:
        """Per-batch times of the last execute, which here is one batch."""
        return [seconds * 1e3]

    def sink_files(self) -> tuple[int, int, int]:
        """(files, bytes, rows) of the parquet the last execute wrote."""
        import pyarrow.parquet as pq

        files = glob.glob(os.path.join(self.out, "**", "*.parquet"), recursive=True)
        return (
            len(files),
            sum(os.path.getsize(f) for f in files),
            sum(pq.ParquetFile(f).metadata.num_rows for f in files),
        )


class QualityIngest(Workload):
    name = "quality_ingest"

    def check(self, metrics) -> list[str]:
        return oracle.check_quality_ingest(self.manifest, self.out, self.quarantine, metrics)


class StreamWindowing(Workload):
    """One execute is one ``availableNow`` drain; a listener records the
    progress of its micro-batches."""

    name = "stream_windowing"

    def __init__(self, manifest: dict, spark):
        super().__init__(manifest, spark)
        from pyspark.sql.streaming import StreamingQueryListener

        progress = self.progress
        self._terminated = terminated = threading.Event()

        class Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                progress.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                terminated.set()

        spark.streams.addListener(Progress())

    def execute(self, executor, config, tracer=None) -> tuple[float, object]:
        self._terminated.clear()
        seconds, metrics = super().execute(executor, config, tracer)
        # progress events arrive on the listener bus after the query returns
        if metrics.status == "SUCCESS" and not self._terminated.wait(timeout=60):
            log("stream listener saw no termination event")
        return seconds, metrics

    def check(self, metrics) -> list[str]:
        return oracle.check_stream_windowing(
            self.manifest, self.out, gen.METRICS["watermark_s"], metrics
        )

    def batch_ms(self, seconds: float) -> list[float]:
        """Each micro-batch's ``triggerExecution`` time. A drain that
        recorded no micro-batch (one that failed before its first) counts
        as one batch of its whole time, so ``repeat`` still ends."""
        times = [float(p["durationMs"]["triggerExecution"]) for p in self.progress]
        return times or [seconds * 1e3]


WORKLOADS = {w.name: w for w in (QualityIngest, StreamWindowing)}


class Tally:
    """Executes attempted and executes that failed or wrote wrong output."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def record(self, workload: Workload, metrics) -> None:
        self.attempted += 1
        problems = workload.check(metrics)
        if problems:
            self.failed += 1
            log(f"execute {self.attempted} wrong: {'; '.join(problems)}")


def repeat(
    workload: Workload, executor, config, tally: Tally, seconds: float = 0.0, batches: int = 1
):
    """Execute until ``seconds`` have passed and at least ``batches``
    batches have run. Returns each execute's seconds and the per-batch
    times of all of them."""
    times, batch_ms = [], []
    deadline = time.perf_counter() + seconds
    while len(batch_ms) < batches or time.perf_counter() < deadline:
        elapsed, metrics = workload.execute(executor, config)
        tally.record(workload, metrics)
        times.append(elapsed)
        batch_ms.extend(workload.batch_ms(elapsed))
    return times, batch_ms


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def result(tally: Tally, values: dict, units: dict) -> dict:
    return {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
