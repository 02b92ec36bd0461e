"""bench.py's per-query ledger and its stdout line, without Spark.

The ledger cuts one finished event log into the timed queries' windows
and folds each with ``perfbench.eventlog.fold``. The hand-written log
below has a warm-up job before the first window, two query windows with
their own jobs and tasks, and a third window in which no job ran.
"""

from __future__ import annotations

import json

import pytest

import bench
from perfbench.eventlog import read_events

# (name, start_ms, end_ms) as bench.run_session records them
WINDOWS = [("query_a", 1000, 2000.4), ("query_b", 3000, 5000.0), ("query_c", 5000, 5250.0)]


def _job(job_id, submit, stages):
    return {"Event": "SparkListenerJobStart", "Job ID": job_id,
            "Submission Time": submit, "Stage IDs": stages}


def _job_end(job_id, done):
    return {"Event": "SparkListenerJobEnd", "Job ID": job_id, "Completion Time": done}


def _task(stage, run_ms, cpu_ms):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Info": {},
            "Task Metrics": {"Executor Run Time": run_ms,
                             "Executor CPU Time": cpu_ms * 1_000_000,
                             "JVM GC Time": 1}}


EVENTS = [
    {"Event": "SparkListenerLogStart"},
    _job(0, 500, [0]),  # the untimed warm-up
    _task(0, 300, 300),
    _job_end(0, 900),
    _job(1, 1100, [1]),  # query_a
    _task(1, 400, 200),
    _job_end(1, 1800),
    _task(1, 100, 50),  # posted after its job ended, before query_b began
    _job(2, 3100, [2]),  # query_b: two jobs, three tasks
    _task(2, 500, 400),
    _task(2, 500, 400),
    _job_end(2, 3600),
    _job(3, 3700, [3]),
    _task(3, 200, 100),
    _job_end(3, 4200),
]


@pytest.fixture(scope="module")
def rows(tmp_path_factory):
    log = tmp_path_factory.mktemp("eventlog") / "local-1"
    log.write_text("".join(json.dumps(e) + "\n" for e in EVENTS))
    return bench.ledger(read_events(str(log)), WINDOWS, cores=4)


def test_each_window_counts_only_its_own_jobs_and_tasks(rows):
    a, b = rows["query_a"], rows["query_b"]
    # the warm-up task is in neither; query_a's late task stays with it
    assert (a["tasks"], a["cpu_s"], a["gc_s"]) == (2, 0.25, 0.002)
    assert (b["tasks"], b["cpu_s"], b["gc_s"]) == (3, 0.9, 0.003)
    assert a["job_s"] == 0.7
    assert b["job_s"] == 1.0  # two disjoint spans: 0.5 + 0.5
    assert rows["query_c"]["tasks"] == 0 and rows["query_c"]["cpu_s"] == 0


def test_rows_keep_secs_and_run_order(rows):
    assert list(rows) == ["query_a", "query_b", "query_c"]
    assert [r["run_index"] for r in rows.values()] == [0, 1, 2]
    assert [r["secs"] for r in rows.values()] == [1.0, 2.0, 0.25]


def test_driver_time_is_the_wall_time_no_job_covered(rows):
    for row in rows.values():
        assert row["driver_s"] >= 0
        assert row["driver_s"] == pytest.approx(row["secs"] - row["job_s"])
    assert rows["query_c"]["driver_s"] == rows["query_c"]["secs"]


def test_ledger_rows_carry_every_field(rows):
    fields = {"secs", "run_index", "driver_s", *bench.LEDGER_FIELDS}
    assert all(set(row) == fields for row in rows.values())


def test_summary_fits_the_stdout_cap_at_the_widest_values():
    """The driver keeps the last 2,000 chars of stdout; the line must fit
    with every headline row at 9,999.999 s and still carry the contract."""
    row = {"secs": 9999.999, "run_index": 999,
           **{f: 9999.999 for f in bench.LEDGER_FIELDS}}
    rows = {n: row for n in bench.HEADLINE + bench.API_PARITY}
    result = bench.report(rows, cores=32, sf_dir="/data/sf0.1")
    line = bench.summary(result)
    assert len(line) <= 1900, len(line)
    parsed = json.loads(line)
    assert parsed["value"] == round(9999.999 * len(bench.HEADLINE), 3)
    assert parsed["cpu_s"] == parsed["value"]
    assert len(parsed["queries"]) == 5
    assert set(parsed["queries"]) <= set(bench.HEADLINE)
    assert parsed["sf"] == 0.1
    assert parsed["bench_config"]["headline_hash"] == "c60f01f1ce2e"
