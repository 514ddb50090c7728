"""Self-test of the benchmark (not part of the engine's test suite).

    python3 -m pytest perfbench/test_perfbench.py -q

Runs every workload once, untraced and traced, on the sf0.001 tables
with the minimum of two measured passes, and checks the result line against
BENCHMARK.json.  Takes about five minutes on a 4-core box.
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

from meters import resident_by_kind  # noqa: E402
from run import quantile_tail  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--scale", "sf0.001"],
        cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_prints_every_declared_metric(workload, trace):
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, proc.stderr[-3000:]
    assert result["attempted"] >= 1
    declared = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in declared} == {
        k: v["unit"] for k, v in result["metrics"].items()}
    assert "failed_frac 0/" in proc.stdout
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
        for name in ("throughput_qpm", "latency_p50_s", "latency_tail_s"):
            assert name in proc.stdout


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the
    run exits non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), SPEC["workloads"][0]["name"], 0)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    samples = [float(i) for i in range(1, 41)]
    assert quantile_tail(samples) == (30.0, 75.0)


def test_vfork_child_is_not_counted_twice():
    jvm = (1000, 400, 50, 1, 0, 300, 0)
    procs = {
        10: (1, jvm, "jvm"),
        11: (10, jvm, "jvm"),  # between vfork and exec: the JVM's own pages
        12: (10, (900, 200, 40, 1, 0, 150, 0), "python"),  # the worker daemon
        13: (12, (900, 250, 40, 1, 0, 180, 0), "python"),  # a forked worker
        14: (13, (50, 5, 2, 1, 0, 3, 0), "other"),  # a piped executable
    }
    assert resident_by_kind(procs, 4096) == {
        "jvm": 400 * 4096, "python": 450 * 4096, "other": 5 * 4096, "python_procs": 2}
