"""Pipeline benchmark: run one workload through the engine's public API
and print its metrics as one JSON line.

    python3 perfbench/run.py --workload quality_ingest --seed 1 --seconds 6 --trace 0

Inputs are generated from ``--seed`` (and cached per seed under
``perfbench/.work``). The pipeline YAML in ``perfbench/pipelines`` is
loaded with ``load_pipeline_yaml`` and run with
``PipelineExecutor().execute`` on the session ``get_spark()`` builds,
unchanged, so the engine's own defaults are what is measured. Every
execute ends in the pipeline's real sink write, and every output is
checked against DuckDB.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a separate traced run (see ``tracing.py``, ``eventlog.py``).
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import bootstrap
import gen
from workloads import WARMUP_BATCHES, WORKLOADS, Tally, log, percentile, repeat, result

SETUP_SAMPLES = 2  # set-ups per run (one in a fresh process); setup_s is their median
END_TO_END_UNITS = {
    "setup_s": "s",
    "cold_run_s": "s",
    "run_s": "s",
    "rows_per_s": "rows/s",
    "ok_ratio": "ratio",
    "batch_p50_ms": "ms",
    "batch_p75_ms": "ms",
}


def setup_in_fresh_process() -> float:
    """One set-up sample (imports, JVM launch, first job) in a new Python
    process that exits, and whose JVM exits, before this returns."""
    proc = subprocess.run(
        [sys.executable, os.path.join(bootstrap.REPO_ROOT, "perfbench", "bootstrap.py")],
        capture_output=True,
        text=True,
        timeout=170,
        check=True,
    )
    return sum(json.loads(proc.stdout.strip().splitlines()[-1]).values())


def measure(name: str, manifest: dict, seconds: float) -> dict:
    """Untraced run: the end-to-end metrics."""
    setups = [setup_in_fresh_process() for _ in range(SETUP_SAMPLES - 1)]
    spark, main_setup = bootstrap.timed_setup()
    setups.append(sum(main_setup.values()))
    try:
        from etl_spark_gradle_spark.plans.executor import PipelineExecutor

        workload = WORKLOADS[name](manifest, spark)
        config = workload.load_config()
        executor = PipelineExecutor()
        tally = Tally()
        cold_s, metrics = workload.execute(executor, config)
        tally.record(workload, metrics)
        repeat(workload, executor, config, tally, batches=WARMUP_BATCHES)
        warm_s, batches = repeat(workload, executor, config, tally, seconds)
    finally:
        bootstrap.stop_spark(spark)

    run_s = statistics.median(warm_s)
    log(
        f"{name}: setup samples {[round(s, 3) for s in setups]}, cold {cold_s:.3f} s, "
        f"{len(warm_s)} warm executes {[round(s, 3) for s in warm_s]}, {len(batches)} batches"
    )
    values = {
        "setup_s": statistics.median(setups),
        "cold_run_s": cold_s,
        "run_s": run_s,
        "rows_per_s": manifest["rows"] / run_s,
        "ok_ratio": (tally.attempted - tally.failed) / tally.attempted,
        "batch_p50_ms": percentile(batches, 50),
        "batch_p75_ms": percentile(batches, 75),
    }
    return result(tally, values, END_TO_END_UNITS)


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    parser.add_argument("--seed", required=True, type=int)
    parser.add_argument("--seconds", type=float, default=6.0)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)
    if args.seconds <= 0:
        parser.error("--seconds must be positive")

    # scratch left by earlier runs' JVMs (native libraries, block files)
    for scratch in ("tmp", "spark-local"):
        shutil.rmtree(os.path.join(bootstrap.WORK, scratch), ignore_errors=True)
    bootstrap.prepare_environment()
    if importlib.util.find_spec("etl_spark_gradle_spark") is None:
        log(f"the engine package is not importable from {bootstrap.REPO_ROOT}")
        return 2
    os.chdir(bootstrap.REPO_ROOT)  # the YAMLs name paths relative to the checkout

    start = time.perf_counter()
    manifest, generated = gen.ensure_inputs(
        args.workload, args.seed, os.path.join(bootstrap.WORK, "inputs")
    )
    log(
        f"inputs for seed {args.seed}: {manifest['rows']} rows, "
        f"{'generated' if generated else 'reused'} in {time.perf_counter() - start:.2f} s"
    )
    if args.trace:
        import traced

        out = traced.run(args.workload, manifest, args.seconds)
    else:
        out = measure(args.workload, manifest, args.seconds)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
