"""BENCHMARK.json declares exactly the workloads and metrics run.py emits.

Run from the repository root:  python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
REPO = os.path.dirname(BENCH_DIR)
sys.path[:0] = [BENCH_DIR, REPO]

import workloads  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def test_workloads_match():
    assert [w["name"] for w in _spec()["workloads"]] == list(workloads.WORKLOADS)


def test_end_to_end_metrics_match():
    spec = {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
    assert spec == workloads.END_TO_END_UNITS


def test_per_layer_metrics_match():
    spec = {m["name"]: m["unit"] for m in _spec()["per_layer"]}
    assert spec == workloads.PER_LAYER_UNITS


def test_bounds_within_contract():
    for m in _spec()["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    setup = [m for m in _spec()["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["bound"] == max(m["bound"] for m in _spec()["end_to_end"])
