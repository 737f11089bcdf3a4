"""Counter repeatability: two traced runs of the same code and seed give
identical per-op counts after warm-up.

Covers the workloads BENCHMARK.json lists. Each case starts the engine
twice (about 50 s per run on 4 cores).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

import run

EXACT = [
    "jobs_per_op",
    "stages_per_op",
    "tasks_per_op",
    "shuffle.write_bytes",
    "shuffle.read_bytes",
] + [f"{q}.jobs_per_op" for q in run.PER_QUERY]


def _traced(workload: str, seed: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(run.HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=run.ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["correct"] and out["failed"] == 0
    assert set(out["metrics"]) == {name for name, _ in run.PER_LAYER}
    return {k: m["value"] for k, m in out["metrics"].items()}


def _listed() -> list[str]:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        return [w["name"] for w in json.load(f)["workloads"]]


@pytest.mark.parametrize("workload", _listed())
def test_counts_repeat_exactly(workload):
    a, b = _traced(workload, 5), _traced(workload, 5)
    assert a["jobs_per_op"] > 0 and a["tasks_per_op"] > 0
    assert {k: a[k] for k in EXACT} == {k: b[k] for k in EXACT}
