"""BENCHMARK.json names what run.py prints."""

from __future__ import annotations

import json
import os

import run
import workloads


def test_spec_matches_run():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)
    assert spec["command"] == ["python3", "perfbench/run.py"]
