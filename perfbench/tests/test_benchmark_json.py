"""BENCHMARK.json names exactly what run.py prints."""

import json
import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def test_metrics_and_units_match_run_py():
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == \
        run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == \
        run.LAYER_UNITS


def test_workloads_exist_and_bounds_are_legal():
    assert {w["name"] for w in BENCH["workloads"]} <= set(WORKLOADS)
    setup = [m for m in BENCH["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["bound"] == max(
        m["bound"] for m in BENCH["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in BENCH["end_to_end"])
