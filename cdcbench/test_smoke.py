"""Smoke test of the benchmark itself: every workload and the oracle at
tiny sizes, so a broken workload or wrapper fails fast.

    python -m pytest cdcbench/test_smoke.py -q

Each case starts ``run.py`` as its own process, as the real benchmark does.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import E2E_UNITS, LAYER_UNITS  # noqa: E402


def _run(workload: str, trace: int, cwd: str = ROOT, seed: int = 3):
    cmd = [
        sys.executable, os.path.join(cwd, "cdcbench", "run.py"),
        "--workload", workload, "--seed", str(seed), "--seconds", "1",
        "--trace", str(trace), "--size", "smoke",
    ]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("workload", ["ingest_cow", "ingest_mor_skew", "relay_read"])
def test_traced_workload_is_correct_and_reports_every_layer(workload):
    proc = _run(workload, trace=1)
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["attempted"] >= 1 and result["failed"] == 0
    assert set(result["metrics"]) == set(LAYER_UNITS)
    for name, m in result["metrics"].items():
        assert m["unit"] == LAYER_UNITS[name]
        assert isinstance(m["value"], (int, float))
    spans = os.path.join(ROOT, ".cdcbench", "out", f"{workload}-s3-spans.jsonl")
    assert os.path.getsize(spans) > 0


def test_untraced_run_prints_every_e2e_metric():
    proc = _run("relay_read", trace=0)
    assert proc.returncode == 0, proc.stderr[-4000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] is True
    assert set(result["metrics"]) == set(E2E_UNITS)
    assert all(m["value"] > 0 for m in result["metrics"].values())


def test_benchmark_json_lists_the_metrics_run_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == LAYER_UNITS


def test_without_the_engine_it_fails_without_a_result(tmp_path):
    shutil.copytree(HERE, tmp_path / "cdcbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    proc = _run("ingest_cow", trace=0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
