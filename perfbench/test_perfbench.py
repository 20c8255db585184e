"""Self-test of the benchmark on a tiny input.

    python3 -m pytest perfbench/test_perfbench.py -q

Runs BENCHMARK.json's command (from the repository root, one
subprocess per run) and checks that every metric BENCHMARK.json names
is printed with its unit, that a deliberately wrong expected checksum
is counted as failed operations instead of passing, and that a
directory holding only the benchmark's own files fails without a
result.
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
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", "5", "--seconds", "1", "--trace", str(trace),
           "--rows", "2000", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=300)
    assert p.returncode == 0, p.stderr[-4000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def check_metrics(result: dict, spec: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1
    assert isinstance(result["failed"], int)
    got = result["metrics"]
    assert sorted(got) == sorted(m["name"] for m in spec)
    for m in spec:
        assert got[m["name"]]["unit"] == m["unit"], m["name"]
        assert isinstance(got[m["name"]]["value"], (int, float))


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics_printed(workload):
    r = run(workload, 0)
    check_metrics(r, SPEC["end_to_end"])
    assert r["correct"] and r["failed"] == 0
    for m in SPEC["end_to_end"]:
        assert r["metrics"][m["name"]]["value"] > 0, m["name"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_per_layer_metrics_printed(workload):
    r = run(workload, 1)
    check_metrics(r, SPEC["per_layer"])
    assert r["correct"] and r["failed"] == 0


def test_wrong_expected_checksum_counts_as_failed():
    r = run(WORKLOADS[0], 0, "--corrupt-expected")
    assert not r["correct"]
    assert r["failed"] >= 1
    assert r["metrics"]["ok_ops"]["value"] < 1


def test_outside_a_checkout_fails_without_result():
    """With only BENCHMARK.json and perfbench/ present the run must
    exit non-zero and print no result line."""
    import shutil
    bare = os.path.join(ROOT, ".perfbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(os.path.join(ROOT, "perfbench"),
                        os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload",
             WORKLOADS[0], "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
