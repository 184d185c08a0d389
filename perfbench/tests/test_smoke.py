"""Smoke test of the benchmark at sf0.001 with a one-second run.

    python3 -m pytest perfbench/tests -q

Runs every workload once untraced and once traced from the checkout
root, and checks the output contract of BENCHMARK.json: every end-to-end
metric with its unit, every per-layer metric in the traced run, and no
failed operation. A copy holding only the benchmark must refuse to run.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _run(cwd: Path, workload: str, trace: int, *extra: str, timeout: int = 300):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--sf", "0.001", *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=timeout)


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_workload_prints_every_metric(workload: str, trace: int, tmp_path: Path) -> None:
    spans = tmp_path / "spans.json"
    proc = _run(ROOT, workload, trace, *(["--spans", str(spans)] if trace else []))
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, proc.stderr[-3000:]
    assert result["attempted"] >= 1
    declared = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
        if not trace:
            assert got["value"] > 0
    assert not (ROOT / ".perfbench_tmp").exists()
    if trace:
        recorded = json.loads(spans.read_text())
        assert {"name", "start", "end", "parent", "op"} <= set(recorded[0])
        assert {s["op"] for s in recorded} - {None}


def test_refuses_without_the_package(tmp_path: Path) -> None:
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    for p in SPEC["paths"]:
        shutil.copytree(ROOT / p, tmp_path / p, ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(tmp_path, SPEC["workloads"][0]["name"], 0, timeout=180)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
