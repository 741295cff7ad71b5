"""Counter repeatability of the benchmark.

Two short traced runs at sf0.001 with the same seed must read identical
``spark.jobs`` / ``spark.stages`` / ``spark.tasks`` for every op kind, and
every metric ``BENCHMARK.json`` names must be present with its unit.
Each workload starts a Spark session three times, so this takes minutes:

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)
COUNTERS = ("spark.jobs", "spark.stages", "spark.tasks")


def run(workload: str, seed: int, trace: int) -> tuple[dict, dict]:
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
        "--seconds", "1", "--trace", str(trace), "--sf", "0.001",
    ]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-4000:]
    detail, result = out.stdout.strip().splitlines()[-2:]
    return json.loads(detail)["detail"], json.loads(result)


def assert_metrics(result: dict, declared: list[dict]) -> None:
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        assert result["metrics"][m["name"]]["unit"] == m["unit"], m["name"]
        assert isinstance(result["metrics"][m["name"]]["value"], (int, float))


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_counters_repeat_and_metrics_present(workload):
    d1, r1 = run(workload, seed=7, trace=1)
    d2, r2 = run(workload, seed=7, trace=1)
    for r in (r1, r2):
        assert_metrics(r, BENCH["per_layer"])
    assert d1["per_kind"].keys() == d2["per_kind"].keys()
    for kind, row in d1["per_kind"].items():
        for c in COUNTERS:
            assert row[c] == d2["per_kind"][kind][c], (kind, c)
    _, r0 = run(workload, seed=7, trace=0)
    assert_metrics(r0, BENCH["end_to_end"])
