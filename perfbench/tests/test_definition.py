"""BENCHMARK.json names exactly the metrics run.py prints."""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(HERE, ".."))

import run  # noqa: E402


def _definition() -> dict:
    with open(os.path.join(HERE, "..", "..", "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def test_end_to_end_metrics_match():
    d = _definition()
    assert {m["name"]: m["unit"] for m in d["end_to_end"]} == run.END_TO_END
    setup = next(m for m in d["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in d["end_to_end"])


def test_per_layer_metrics_match():
    d = _definition()
    assert {m["name"]: m["unit"] for m in d["per_layer"]} == run.per_layer_units()
    assert all(m["better"] == run.better(m["name"]) for m in d["per_layer"])


def test_workloads_match():
    assert [w["name"] for w in _definition()["workloads"]] == list(run.WORKLOADS)
