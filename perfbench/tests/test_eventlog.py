"""The event-log fold on a small hand-written log and on an excerpt of a
real one (no Spark needed).

The hand-written fixture holds two jobs inside the window [1000, 5000] ms, one job and
one micro-batch after it, and round numbers so every expected value can
be checked by hand.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import eventlog  # noqa: E402

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_small.jsonl")


@pytest.fixture(scope="module")
def layers():
    return eventlog.fold(eventlog.read_events(FIXTURE), 1000.0, 5000.0, cores=4)


def test_only_jobs_in_window_count(layers):
    assert layers["spark.jobs"] == 2
    assert layers["spark.stages"] == 3
    assert layers["spark.tasks"] == 7


def test_task_totals(layers):
    assert layers["spark.task_run_s"] == pytest.approx(1.0)
    assert layers["spark.task_cpu_s"] == pytest.approx(0.3)
    assert layers["spark.gc_s"] == pytest.approx(0.02)
    assert layers["spark.shuffle_write_mb"] == pytest.approx(1.0)
    assert layers["spark.shuffle_read_mb"] == pytest.approx(1.0)
    assert layers["spark.spill_mb"] == pytest.approx(2.0)
    assert layers["io.input_mb"] == pytest.approx(4.0)
    assert layers["io.input_rows"] == 4000
    assert layers["io.output_mb"] == pytest.approx(0.5)


def test_skew_uses_stages_with_four_tasks(layers):
    # stage 0 runs 100, 100, 100, 400 ms: max / median = 4
    assert layers["spark.task_skew_max"] == pytest.approx(4.0)


def test_busy_time_is_the_union_of_job_spans(layers):
    # jobs span [1500, 2500] and [2000, 3000]: 1.5 s covered
    assert layers["spark.job_busy_s"] == pytest.approx(1.5)
    # 1 s of task time over a 4 s window on 4 cores
    assert layers["spark.core_busy_frac"] == pytest.approx(1.0 / 16.0)


def test_python_worker_accumulables(layers):
    assert layers["python.to_workers_mb"] == pytest.approx(1.0)
    assert layers["python.from_workers_mb"] == 0.0
    assert layers["python.run_frac"] == pytest.approx(0.25)


def test_streaming_progress(layers):
    assert layers["streaming.batches"] == 2
    assert layers["streaming.input_rows"] == 30
    assert layers["streaming.add_batch_frac"] == pytest.approx(0.8)
    assert layers["streaming.query_planning_frac"] == pytest.approx(0.05)
    assert layers["streaming.state_commit_frac"] == pytest.approx(0.1)
    # the state size is the last batch's, not a sum over batches
    assert layers["streaming.state_rows"] == 7


def test_empty_window_reports_zeros():
    out = eventlog.fold(eventlog.read_events(FIXTURE), 10_000.0, 20_000.0, cores=4)
    assert out["spark.jobs"] == 0 and out["spark.tasks"] == 0
    assert out["streaming.batches"] == 0 and out["streaming.add_batch_frac"] == 0.0
    assert out["spark.task_skew_max"] == 1.0


# An excerpt of real Spark 4.1.2 event logs written by traced runs of both
# workloads (whole lines, checkout paths shortened): one curation job whose
# four tasks ran Arrow/pandas Python workers, one hot-path scoring job that
# wrote the score sink, and the progress events of the hot path's timed
# ingest (two 11,000-event micro-batches and the closing no-data batch).
# The expected values were summed field by field from the excerpt.
REAL = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_spark412.jsonl")
REAL_WINDOW = (1792186688000.0, 1792186800000.0)


@pytest.fixture(scope="module")
def real():
    return eventlog.fold(eventlog.read_events(REAL), *REAL_WINDOW, cores=4)


def test_real_log_jobs_and_tasks(real):
    assert real["spark.jobs"] == 2
    assert real["spark.tasks"] == 5
    assert real["spark.task_run_s"] == pytest.approx(15.380)
    assert real["io.output_mb"] == pytest.approx(11815 / eventlog.MB)


def test_real_log_python_worker_names_match(real):
    assert real["python.to_workers_mb"] == pytest.approx(144928 / eventlog.MB)
    assert real["python.from_workers_mb"] == pytest.approx(275872 / eventlog.MB)
    # the worker time is in ms, like Executor Run Time, and never exceeds it
    assert real["python.run_frac"] == pytest.approx(14063 / 15380)


def test_real_log_streaming_progress(real):
    assert real["streaming.batches"] == 3
    assert real["streaming.input_rows"] == 22000
    assert real["streaming.add_batch_frac"] == pytest.approx(12843 / 13839)
    assert real["streaming.state_rows"] == 600
