"""Event-log and streaming-progress parsing against committed fixtures.

``fixtures/eventlog.jsonl`` is a real Spark 4.1 event log, cut down to
the fields the parser reads: one batch aggregation tagged with a span
job description, then a two-file ``availableNow`` streaming window
aggregation on ``local[2]``. Its last task end is a killed attempt,
which must not count. ``fixtures/progress.json`` holds that stream's
two ``StreamingQueryProgress`` records.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402


@pytest.fixture(scope="module")
def log():
    return eventlog.parse_event_log(os.path.join(HERE, "fixtures", "eventlog.jsonl"))


def test_jobs_stages_and_successful_tasks(log):
    assert sorted(log.jobs) == [0, 1, 2, 3]
    assert sorted(log.stages) == [0, 2, 3, 4, 5, 6]  # stage 1 was skipped
    assert len(log.tasks) == 9  # the killed attempt is dropped
    assert [log.stream_batch_of(log.jobs[j]) for j in range(4)] == [None, None, 0, 1]


def test_spark_metrics_of_a_span(log):
    jobs = [j for j in log.jobs.values() if j.description == "perfbench-span:0"]
    m = eventlog.spark_metrics(log, jobs, cores=2)
    assert m["spark.jobs"] == 2
    assert m["spark.stages"] == 2
    assert m["spark.tasks"] == 3
    assert m["spark.executor_run_s"] == pytest.approx(0.651)
    assert m["spark.executor_cpu_s"] == pytest.approx(0.361483866)
    assert m["spark.gc_s"] == pytest.approx(0.058)
    # jobs cover 842 + 166 ms of wall time on 2 cores
    assert m["spark.busy_ratio"] == pytest.approx(0.651 / (2 * 1.008))
    assert m["spark.shuffle_write_bytes"] == m["spark.shuffle_read_bytes"] == 397
    assert m["spark.spill_bytes"] == 0
    assert m["spark.single_task_stage_s"] == pytest.approx(0.149)


def test_stream_batches_and_input(log):
    jobs = list(log.jobs.values())
    assert eventlog.tasks_per_stream_batch(log, jobs) == 3
    stream_jobs = [j for j in jobs if log.stream_batch_of(j) is not None]
    # each micro-batch scans one 1290-byte JSON file of 20 records
    assert eventlog.input_metrics(log, stream_jobs, 0, 2**62) == (2580, 40)
    first_batch_only = eventlog.input_metrics(log, stream_jobs[:1], 0, 1792221016827)
    assert first_batch_only == (1290, 20)


def test_streaming_progress():
    with open(os.path.join(HERE, "fixtures", "progress.json"), encoding="utf-8") as f:
        progress = json.load(f)
    m = eventlog.streaming_metrics(progress)
    assert m["streaming.batches"] == 2
    assert m["streaming.add_batch_ms"] == 892.5
    assert m["streaming.query_planning_ms"] == 193.5
    assert m["streaming.wal_commit_ms"] == 47.5
    assert m["streaming.state_rows"] == 6
    assert m["streaming.state_memory_bytes"] == 2432
    assert eventlog.streaming_metrics([])["streaming.batches"] == 0
