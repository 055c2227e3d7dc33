"""Smoke test of the benchmark at tiny input sizes.

Every workload in BENCHMARK.json, untraced and traced: the run passes
its output checks, prints every metric BENCHMARK.json names with its
unit, and runs every output check.  A directory holding only the
benchmark (no program) makes the command fail without a result.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(HERE))

from workloads import QUERIES  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

CHECKS = {
    "kg_batch": {"mentions_match_kernel", "final_stages_repeat"},
    "query_mix": {f"oracle[{q}]" for q in QUERIES},
}
TRACED_CHECKS = {"kg_batch": {"incremental_equals_one_shot"}}


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = SPEC["command"] + ["--workload", workload, "--seed", "3",
                             "--seconds", "1", "--trace", str(trace),
                             "--size", "tiny"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=180)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_metrics_and_checks(workload: str, trace: int) -> None:
    p = _run(ROOT, workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    want = {m["name"]: m["unit"] for m in spec}
    got = result["metrics"]
    assert set(got) == set(want)
    for name, m in got.items():
        assert m["unit"] == want[name], name
        assert isinstance(m["value"], (int, float)), name
        assert math.isfinite(m["value"]), name
    ran = {line.split(":")[0][len("check "):] for line in lines
           if line.startswith("check ") and line.endswith(")")}
    assert ran == CHECKS[workload] | (
        TRACED_CHECKS.get(workload, set()) if trace else set())
    runs = os.path.join(ROOT, ".perfbench_runs")
    assert not [d for d in os.listdir(runs)
                if d.startswith(f"{workload}-s3-")], "run data left behind"


def test_fails_without_program(tmp_path) -> None:
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, path), tmp_path / path,
                        ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(str(tmp_path), SPEC["workloads"][0]["name"], 0)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
