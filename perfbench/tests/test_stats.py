"""Percentile rule and failure accounting (no Spark needed)."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stats import OpLedger, median, percentile, samples_beyond  # noqa: E402


def test_samples_beyond_nearest_rank():
    assert samples_beyond(21, 50) == 10
    assert samples_beyond(20, 50) == 10
    assert samples_beyond(19, 50) == 9
    assert samples_beyond(200, 95) == 10
    assert samples_beyond(0, 50) == 0


def test_median_of_nothing_is_zero():
    assert median([]) == 0.0
    assert median([3.0, 1.0, 2.0]) == 2.0


def test_percentile_needs_ten_samples_beyond():
    assert percentile(list(range(19)), 50) is None
    assert percentile(list(range(20)), 50) == 9
    assert percentile([float(x) for x in range(199)], 95) is None
    assert percentile([float(x) for x in range(200)], 95) == 189.0


def test_percentile_ignores_input_order():
    values = [5.0, 1.0, 4.0, 2.0, 3.0] * 5
    assert percentile(values, 50) == percentile(sorted(values), 50) == 3.0


def test_ledger_counts_failures_against_attempts():
    ledger = OpLedger()
    for ok in (True, True, True, False):
        ledger.record("op", ok, "wrong result")
    assert (ledger.attempted, ledger.failed) == (4, 1)
    assert ledger.error_rate == pytest.approx(0.25)
    assert ledger.success_rate == pytest.approx(0.75)
    assert ledger.failures == ["op: wrong result"]


def test_ledger_without_operations_is_a_failure():
    assert OpLedger().success_rate == 0.0


class _FakeTracker:
    def __init__(self, jobs):
        self.jobs = jobs

    def getJobIdsForGroup(self, group):  # noqa: N802 (Spark API name)
        return self.jobs.get(group, [])


class _FakeContext:
    """The slice of SparkContext that ``Context.timed_query`` uses."""

    def __init__(self):
        self.jobs = {}

    def statusTracker(self):  # noqa: N802
        return _FakeTracker(self.jobs)

    def setJobGroup(self, group, desc):  # noqa: N802
        self.group = group

    def setLocalProperty(self, key, value):  # noqa: N802
        pass


class _FakeFrame:
    """``df.write.format(...).mode(...).save()`` that starts ``n`` jobs."""

    def __init__(self, sc, n):
        self.sc, self.n, self.write = sc, n, self

    def format(self, _fmt):
        return self

    def mode(self, _mode):
        return self

    def save(self):
        self.sc.jobs.setdefault(self.sc.group, []).extend(range(self.n))


def _context():
    import harness

    ctx = harness.Context.__new__(harness.Context)
    ctx.workload, ctx.ledger = "curation", OpLedger()
    sc = _FakeContext()
    ctx.spark = type("Spark", (), {"sparkContext": sc})()
    return ctx, sc


def test_timed_call_that_starts_no_job_is_a_failure():
    ctx, sc = _context()
    ok, _, _ = ctx.timed_query("fresh", lambda: _FakeFrame(sc, 3))
    assert ok
    ok, _, _ = ctx.timed_query("cached", lambda: _FakeFrame(sc, 0))
    assert not ok
    assert (ctx.ledger.attempted, ctx.ledger.failed) == (2, 1)
    assert ctx.ledger.failures == ["cached: started no Spark job"]


def test_jobs_of_earlier_calls_in_the_same_group_do_not_count():
    ctx, sc = _context()
    assert ctx.timed_query("q", lambda: _FakeFrame(sc, 2))[0]
    assert not ctx.timed_query("q", lambda: _FakeFrame(sc, 0))[0]


def test_timed_call_that_raises_is_a_failure():
    ctx, _sc = _context()

    def boom():
        raise ValueError("bad plan")

    ok, build_s, execute_s = ctx.timed_query("boom", boom)
    assert not ok and build_s == execute_s == 0.0
    assert ctx.ledger.failed == 1 and "bad plan" in ctx.ledger.failures[0]
