"""BENCHMARK.json names exactly the workloads and metrics the run prints."""

import json
import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import run  # noqa: E402
import tracing  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _bench():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def test_end_to_end_metrics_match():
    got = {m["name"]: m["unit"] for m in _bench()["end_to_end"]}
    assert got == run.E2E_UNITS


def test_per_layer_metrics_match():
    got = {m["name"]: m["unit"] for m in _bench()["per_layer"]}
    assert got == tracing.LAYER_UNITS


def test_every_listed_workload_runs():
    assert {w["name"] for w in _bench()["workloads"]} <= set(WORKLOADS)


def test_tail_percentile_needs_ten_samples_above_it():
    assert run.tail_percentile([1.0] * 10) is None
    pct, value = run.tail_percentile([float(i) for i in range(20)])
    assert pct == 50.0 and value == 9.0
