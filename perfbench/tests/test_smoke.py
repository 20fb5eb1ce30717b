"""Every workload at smoke-test size, untraced and traced, through the
benchmark's command line: one JSON line carrying every metric that
BENCHMARK.json declares. Takes a few minutes (one JVM per run)."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import WORKLOADS

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=180,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_tiny_run_reports_every_metric(workload, trace):
    r = _run(ROOT, "--workload", workload, "--seed", "7", "--seconds", "1", "--trace", str(trace), "--tiny")
    assert r.returncode == 0, r.stderr[-4000:]
    result = json.loads(r.stdout.splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, r.stderr[-4000:]
    want = SPEC["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in want} == {k: v["unit"] for k, v in result["metrics"].items()}
    if workload == "pagerank_chain" and trace:
        assert result["metrics"]["superstep.count"]["value"] == 3  # initial cut + 2 supersteps


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, path), tmp_path / path, ignore=shutil.ignore_patterns("__pycache__"))
    r = _run(str(tmp_path), "--workload", "pagerank_chain", "--seed", "1", "--seconds", "1")
    assert r.returncode != 0
    assert r.stdout == ""
