"""Session set-up, timed: package imports, ``get_spark()`` (JVM launch)
and the first trivial job, in a process that has imported neither
pyspark nor the engine yet.

Run as a script it is one set-up sample in a fresh process: it prints
the timings as one JSON line, stops the JVM and exits.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(REPO_ROOT, "perfbench", ".work")


def prepare_environment() -> None:
    """Keep everything Spark and Python write under the checkout, and let
    Python workers import the engine from it."""
    if REPO_ROOT not in sys.path:
        sys.path.insert(0, REPO_ROOT)
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO_ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # no /tmp/hsperfdata_* file: the JVM's performance-counter export
    # is the one write outside java.io.tmpdir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = tmp


def local_cores() -> int:
    """``local[N]`` width: the CPUs this process may use, at most 4."""
    return min(4, len(os.sched_getaffinity(0)))


def timed_setup(conf: dict[str, str] | None = None):
    """Import the engine, build its session and run a first job.
    Returns ``(spark, {"import_s", "get_spark_s", "first_job_s"})``."""
    t0 = time.perf_counter()
    import etl_spark_gradle_spark.plans.executor  # noqa: F401
    from etl_spark_gradle_spark.plans.config import load_pipeline_yaml  # noqa: F401
    from etl_spark_gradle_spark.session import get_spark

    t1 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench", master=f"local[{local_cores()}]", conf=conf
    )
    t2 = time.perf_counter()
    spark.range(1).count()
    t3 = time.perf_counter()
    return spark, {"import_s": t1 - t0, "get_spark_s": t2 - t1, "first_job_s": t3 - t2}


def stop_spark(spark) -> None:
    """Stop the session and wait until its JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # a JVM that ignores EOF is killed
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


if __name__ == "__main__":
    prepare_environment()
    session, timings = timed_setup()
    stop_spark(session)
    print(json.dumps(timings))
