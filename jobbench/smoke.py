"""Tiny-size smoke test of the benchmark harness (2-3 minutes: each
run starts its own JVM).

    python3 -m pytest -q jobbench/smoke.py

The file name does not match pytest's `test_*.py` pattern on purpose: a
bare `pytest` run or one over `jobbench/` skips it, so it runs only when
named, and never inside the repo's own test suite.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = os.path.join(ROOT, "jobbench", "run.py")


def _declared(kind: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


@pytest.mark.parametrize("workload,trace", [
    ("synthetic_fresh", 0),
    ("realformat_fresh", 0),
    ("resume_retry", 1),
])
def test_tiny_run_reports_declared_metrics(workload, trace, tmp_path):
    # launched from another cwd: the Python workers must still import the package
    proc = _run(workload, trace, cwd=str(tmp_path))
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    detail, result = json.loads(lines[-2]), json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    declared = _declared("per_layer" if trace else "end_to_end")
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared
    assert detail["host"]["master"].startswith("local[")
    assert not [d for d in os.listdir(os.path.join(ROOT, ".bench_work"))
                if d.startswith(f"{workload}-7-")]
    if trace:
        m = {k: v["value"] for k, v in result["metrics"].items()}
        assert m["state.run_dirs"] == 2 and m["pipeline.todo_docs"] > 0
        assert m["pipeline.unattributed_share"] < 0.1
        assert m["kernels.minipdf.docs"] > 0 and m["kernels.minidom.docs"] > 0


def test_fails_without_the_package(tmp_path):
    """In a dir holding only BENCHMARK.json and jobbench/, the benchmark
    exits non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "jobbench"), tmp_path / "jobbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "jobbench/run.py", "--workload", "synthetic_fresh", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
        env={**os.environ, "PYTHONPATH": ""},
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
