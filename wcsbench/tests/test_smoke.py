"""Tiny-size smoke test of every workload, untraced and traced.

    python3 -m pytest wcsbench/tests/test_smoke.py -q

Each run must print every metric BENCHMARK.json names, with its unit, and
pass every correctness check. Takes a few minutes: every run starts a JVM.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
CHECKOUT = os.path.dirname(BENCH)

with open(os.path.join(CHECKOUT, "BENCHMARK.json"), encoding="utf-8") as f:
    SPEC = json.load(f)
with open(os.path.join(BENCH, "registry.json"), encoding="utf-8") as f:
    REGISTRY = json.load(f)


def test_registry_matches_benchmark_json():
    assert [(m["name"], m["unit"], m["better"]) for m in REGISTRY["per_layer"]] == \
        [(m["name"], m["unit"], m["better"]) for m in SPEC["per_layer"]]
    assert sorted(REGISTRY["workloads"]) == sorted(w["name"] for w in SPEC["workloads"])
    sys.path.insert(0, BENCH)
    import run

    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END_UNITS


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_prints_every_metric_and_passes_checks(workload, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=CHECKOUT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, proc.stderr[-4000:]
    assert result["attempted"] >= 1
    expected = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in expected}
    for m in expected:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    if trace:
        assert result["metrics"]["trace.overhead_ratio"]["value"] > 0
    else:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    assert not os.path.exists(os.path.join(CHECKOUT, ".bench_tmp"))


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, it exits non-zero
    without printing a result."""
    import shutil

    shutil.copytree(BENCH, tmp_path / "wcsbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(CHECKOUT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "wcsbench/run.py", "--workload", SPEC["workloads"][0]["name"],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        timeout=180)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
