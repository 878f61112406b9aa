"""Smoke test of the benchmark itself at the tiny input size.

    python3 -m pytest etlbench/test_smoke.py -q

Runs every workload once untraced and once traced and checks the
result line's contract: the keys, every metric with its unit, every
pass correct, and a clean work directory afterwards.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import END_TO_END_UNITS, layer_metric_names  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_workload_contract(workload, trace):
    result = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    expected = END_TO_END_UNITS if trace == 0 else dict(layer_metric_names(WORKLOADS))
    assert {k: v["unit"] for k, v in result["metrics"].items()} == expected
    if trace == 0:
        assert result["metrics"]["ok_frac"]["value"] == 1.0
    else:
        cpu = [v["value"] for k, v in result["metrics"].items()
               if k.endswith(".task_cpu_s")]
        assert any(v > 0 for v in cpu), "no task time attributed to any span"
    work = os.path.join(HERE, "_work")
    assert not os.path.isdir(work) or not os.listdir(work)


def test_unknown_workload_fails():
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "nope",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0 and not proc.stdout.strip()
