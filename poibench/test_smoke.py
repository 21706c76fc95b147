"""Smoke test of the benchmark itself: each workload once at tiny size,
untraced and traced.

    python3 -m pytest poibench/test_smoke.py -q

Each run must exit 0, print every metric BENCHMARK.json names with its
unit (end-to-end untraced, per-layer traced, plus per-function calls,
jobs and tasks when traced) and check every operation correct, so
``ops_failed_share`` reads 0.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
from spans import FUNCTIONS  # noqa: E402

SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())
#: the workload-specific names printed beside the end-to-end metrics
ALIASES = {
    "daily_pipeline": ["pipeline_s", "candidates_per_s"],
    "dedup_index": ["probe_p50_s", "extend_p50_s", "docs_per_s"],
}


def _run(cwd: Path, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "poibench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_metric_printed_and_no_op_failed(workload, trace):
    proc = _run(HERE.parent, "--workload", workload, "--seed", "7", "--seconds", "1",
                "--trace", str(trace), "--smoke")
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    out = json.loads(lines[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    want = {m["name"]: m["unit"] for m in SPEC["per_layer" if trace else "end_to_end"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    printed = {ln.split()[0]: ln.split()[1:] for ln in lines[:-1] if ln.strip()}
    assert float(printed["ops_failed_share"][0]) == 0.0
    counts = [f"{fn}.{k}" for fn in FUNCTIONS for k in ("calls", "jobs", "tasks")] if trace else []
    for name in [*ALIASES[workload], *want, *counts]:
        assert name in printed, name


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(HERE.parent / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "poibench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(tmp_path, "--workload", SPEC["workloads"][0]["name"], "--seed", "1",
                "--seconds", "1", "--trace", "0")
    assert proc.returncode != 0
    assert not proc.stdout.strip()
