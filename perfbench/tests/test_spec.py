"""BENCHMARK.json names exactly what the benchmark prints."""

import json
import os

from perfbench import workloads

SPEC = os.path.join(os.path.dirname(__file__), "..", "..", "BENCHMARK.json")


def test_spec_matches_code():
    with open(SPEC, encoding="utf-8") as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert [m["name"] for m in spec["per_layer"]] == workloads.per_layer_names()
