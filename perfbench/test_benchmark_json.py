"""BENCHMARK.json names exactly the metrics run.py prints, with its units."""

from __future__ import annotations

import json
import os

import run
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_names_and_units_match_the_runner():
    bench = load()
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    assert e2e == run.END_TO_END_UNITS
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert list(layer) == run.LAYER_METRICS
    assert all(layer[k] == run.unit(k) for k in layer)


def test_every_listed_workload_exists():
    assert {w["name"] for w in load()["workloads"]} <= set(workloads.WORKLOADS)
