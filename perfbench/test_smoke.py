"""Smoke test of the benchmark: each workload, untraced and traced, with
the fewest ops (``--seconds 1``). Every metric BENCHMARK.json names must
appear with its unit, and every output check must pass.

    python3 -m pytest perfbench/test_smoke.py -q

It takes a few minutes: each case starts its own Spark application and
runs its workload's whole set-up.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

import pytest

CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


@pytest.mark.parametrize("traced", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_metric_reported(workload: str, traced: int) -> None:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(traced)],
        cwd=CHECKOUT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    specs = SPEC["per_layer" if traced else "end_to_end"]
    assert sorted(result["metrics"]) == sorted(m["name"] for m in specs)
    for m in specs:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)) and math.isfinite(got["value"])
