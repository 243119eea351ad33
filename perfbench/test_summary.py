"""The printed summary names every metric of BENCHMARK.json, once, with
its unit, for every workload, untraced and traced.

Runs each workload at its smoke size (under a minute each):

    python3 -m pytest perfbench/test_summary.py -q
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


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_summary_names_every_metric(workload: str, trace: int) -> None:
    cmd = [sys.executable, *SPEC["command"][1:], "--workload", workload,
           "--seed", "3", "--seconds", "1", "--trace", str(trace), "--smoke"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    last = proc.stdout.strip().splitlines()[-1]
    summary = json.loads(last)
    assert sorted(summary) == ["attempted", "correct", "failed", "metrics"]
    assert summary["correct"] is True, proc.stderr[-3000:]
    assert summary["attempted"] >= 1 and summary["failed"] == 0
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert list(summary["metrics"]) == [m["name"] for m in spec]
    for m in spec:
        got = summary["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)


def test_fails_without_the_program(tmp_path) -> None:
    """In a directory holding only the benchmark, the run exits non-zero
    and prints no result."""
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    cmd = [sys.executable, *SPEC["command"][1:], "--workload", SPEC["workloads"][0]["name"],
           "--seed", "1", "--seconds", "1", "--trace", "0"]
    proc = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert proc.returncode != 0
    assert "correct" not in proc.stdout
