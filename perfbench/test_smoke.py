"""Smoke test of the benchmark itself: tiny inputs, short runs.

    python3 -m pytest perfbench/test_smoke.py -q

Each workload runs untraced and traced at scale 0.001 for one second of
measurement; every metric named in BENCHMARK.json must be printed with its
unit, and no operation may fail. A run whose reference results are
deliberately wrong must report the mismatches and exit non-zero.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(workload: str, trace: int, *extra: str) -> tuple[int, dict]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--scale", "0.001", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    assert lines, p.stderr[-3000:]
    return p.returncode, json.loads(lines[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_metric_printed_and_no_errors(workload, trace):
    rc, out = _run(workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert rc == 0 and out["correct"] is True
    assert out["attempted"] >= 1 and out["failed"] == 0  # error_rate == 0
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: m["unit"] for k, m in out["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec
    }
    for m in out["metrics"].values():
        assert isinstance(m["value"], (int, float))


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_wrong_expected_result_is_an_error(workload):
    rc, out = _run(workload, 0, "--corrupt-expected")
    assert rc != 0 and out["correct"] is False and out["failed"] >= 1
