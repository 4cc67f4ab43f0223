"""Smoke test of the benchmark itself, at tiny input sizes.

    python3 -m pytest perfbench/test_smoke.py -q

Each workload runs once untraced and once traced with one planted
wrong expected value. Every metric BENCHMARK.json names must appear
with its unit, a clean run must be correct, and the planted value must
be counted as a failed operation. About five minutes on four cores.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)


def _run(workload: str, trace: int, *extra: str) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--tiny", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = proc.stdout.strip().splitlines()
    env = json.loads(lines[-2])["env"]
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    return env, result


def _assert_metrics(result: dict, declared: list[dict]) -> None:
    got = result["metrics"]
    assert set(got) == {m["name"] for m in declared}
    for m in declared:
        assert got[m["name"]]["unit"] == m["unit"], m["name"]
        assert isinstance(got[m["name"]]["value"], (int, float)), m["name"]


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_untraced_run_is_correct_and_complete(workload):
    env, result = _run(workload, 0)
    assert result["correct"], env["failures"]
    assert result["failed"] == 0 and result["attempted"] >= 1
    _assert_metrics(result, BENCH["end_to_end"])
    assert all(result["metrics"][m["name"]]["value"] > 0 for m in BENCH["end_to_end"])
    assert isinstance(env["contaminated"], bool)


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_traced_run_counts_a_corrupted_expected_value(workload):
    env, result = _run(workload, 1, "--corrupt-expected")
    _assert_metrics(result, BENCH["per_layer"])
    assert result["failed"] >= 1 and not result["correct"]
    assert env["failures"]


def test_refuses_to_run_without_the_package(tmp_path):
    """In a directory holding only the benchmark, it exits non-zero
    and prints no result."""
    import shutil

    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "etl_regions", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert "correct" not in proc.stdout
