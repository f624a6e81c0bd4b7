"""Self-test of the benchmark: every workload at sf0.001, untraced and
traced, must print each metric of BENCHMARK.json once with its unit,
pass its DuckDB checks, and (traced) have span self times that cover the
traced wall to within 10%.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _run(workload: str, trace: int) -> tuple[list[str], dict]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_prints_every_metric(workload, trace):
    lines, result = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    printed = [ln.split() for ln in lines if ln.startswith("metric ")]
    for m in wanted:
        rows = [r for r in printed if r[1] == m["name"]]
        assert len(rows) == 1, m["name"]
        assert rows[0][3] == m["unit"], m["name"]
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    if trace:
        share = result["metrics"]["trace.self_time_share"]["value"]
        assert 0.9 <= share <= 1.1
    else:
        assert all(result["metrics"][m["name"]]["value"] > 0 for m in wanted)


def test_refuses_outside_a_checkout():
    """With only BENCHMARK.json and the benchmark's own files it exits
    non-zero and prints no result."""
    bare = ROOT / ".perfbench_selftest"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir()
    try:
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        shutil.copytree(ROOT / "perfbench", bare / "perfbench",
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "relational",
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180,
        )
    finally:
        shutil.rmtree(bare)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
