"""Quick self-test of the benchmark: every workload, a few ops, tiny inputs.

    python3 -m pytest perfbench/tests -q

Each workload runs once untraced (every end-to-end metric is emitted with
its unit and no op fails) and once traced with every expected value
perturbed (every per-layer metric is emitted with its unit, and the wrong
expectations are counted as failed ops).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
WORKLOADS = ["fresh_serving", "query_mix"]

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def run(workload: str, trace: int, *extra: str) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--entities", "1000", "--sf", "0.001", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    assert json.loads(lines[-2])["seed"] == 7  # the seed is recorded with the result
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    return result


def assert_metrics(result: dict, specs: list[dict]) -> None:
    assert set(result["metrics"]) == {m["name"] for m in specs}
    for m in specs:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], float), m["name"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics_and_no_failures(workload):
    result = run(workload, 0)
    assert_metrics(result, SPEC["end_to_end"])
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    assert all(m["value"] > 0 for m in result["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_layers_and_wrong_expectations_fail(workload):
    result = run(workload, 1, "--expect-offset", "1")
    assert_metrics(result, SPEC["per_layer"])
    assert result["correct"] is False and result["failed"] >= 1


def test_refuses_without_the_engine(tmp_path):
    """In a directory holding only the benchmark it exits non-zero, silently."""
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "fresh_serving", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0 and proc.stdout == ""
