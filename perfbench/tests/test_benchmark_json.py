"""BENCHMARK.json names exactly the metrics the harness reports, with the
same units, and only workloads the harness knows (no Spark needed)."""

import json
import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import workloads  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def test_workloads_exist():
    assert [w["name"] for w in SPEC["workloads"]] == list(workloads.WORKLOADS)


def test_every_metric_has_the_harness_unit():
    for m in SPEC["end_to_end"] + SPEC["per_layer"]:
        assert workloads.UNITS[m["name"]] == m["unit"], m["name"]


def test_every_harness_metric_is_listed():
    listed = {m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]}
    assert listed == set(workloads.UNITS)

