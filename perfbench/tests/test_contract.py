"""BENCHMARK.json, the metrics the runner prints and the layer map agree."""

import json
import os

from perfbench import run, trace
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _load(name):
    with open(os.path.join(ROOT, name)) as fh:
        return json.load(fh)


def test_benchmark_json_matches_the_printed_metrics():
    bench = _load("BENCHMARK.json")
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == trace.UNITS
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])


def test_every_per_layer_metric_is_mapped_to_a_layer():
    assert set(_load("perfbench/layers.json")["per_layer"]) == set(trace.UNITS)
