"""Smoke test of the benchmark itself: every workload at its smallest size
(sf0.001, a few requests), untraced and traced.

    python3 -m pytest perfbench/test_smoke.py -q

Each case asserts the result line's shape, that the correctness checks ran
and passed, and that every metric BENCHMARK.json names is emitted with its
unit.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _run(cwd, workload, trace, smoke=True):
    cmd = SPEC["command"] + [
        "--workload", workload, "--seed", "7", "--seconds", "1", "--trace", str(trace),
    ] + (["--smoke"] if smoke else [])
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_smoke(workload, trace):
    out = _run(ROOT, workload, trace)
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    declared = SPEC["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    with open(os.path.join(HERE, "out", f"{workload}-seed7-trace{trace}-smoke.json")) as f:
        record = json.load(f)
    assert record["failures"] == []
    for key in ("master", "nproc", "seed", "sf_dir", "git_commit", "pyspark",
                "pyarrow", "java", "loadavg_start", "cpu_pct"):
        assert key in record["context"]
    if trace:
        assert record["spans"] and all(
            {"name", "start", "end", "parent", "request"} <= set(s) for s in record["spans"]
        )


def test_refuses_without_the_package(tmp_path):
    """Run from a directory holding only BENCHMARK.json and the benchmark."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("out", ".work", "__pycache__"))
    out = _run(tmp_path, SPEC["workloads"][0]["name"], 0, smoke=False)
    assert out.returncode != 0
    assert out.stdout.strip() == ""
