"""Smoke test of the benchmark itself: every workload, at a tenth of its input
size (the search index about the fixtures' sf0.001 document count), with its
output checks, in both modes. Every metric printed must be one
``BENCHMARK.json`` declares, with its unit.

    python3 -m pytest perfbench/test_smoke.py -q
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

import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def _run(*args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), *args],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )


def test_benchmark_json_names_the_implemented_workloads():
    assert sorted(w["name"] for w in BENCH["workloads"]) == sorted(workloads.WORKLOADS)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_workload_runs_checks_and_reports_declared_metrics(workload, trace):
    out = _run("--workload", workload, "--seed", "7", "--seconds", "1",
               "--trace", str(trace), "--scale", "0.1")
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    detail = json.loads(lines[-2])["detail"]
    assert result["correct"] and result["failed"] == 0, detail["failures"]
    assert result["attempted"] >= 2
    declared = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert [m["name"] for m in declared] == list(result["metrics"])
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and isinstance(got["value"], float)
    if trace:
        # every wrapped layer was entered in the timed ops
        for spec in workloads.WORKLOADS[workload].TRACE:
            mod, attr = spec.split(":")
            span = f"{mod}.{attr.split('.')[-1]}"
            assert detail["spans"].get(span, {}).get("calls", 0) >= 1, span
    assert detail["cpus"] >= 1 and detail["master"].startswith("local[")
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_run"))


def test_exits_nonzero_without_the_package(tmp_path):
    """A directory holding only the benchmark cannot run it."""
    bare = tmp_path / "bare"
    shutil.copytree(HERE, bare / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    (bare / "BENCHMARK.json").write_text(json.dumps(BENCH))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ingest", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=bare, capture_output=True, text=True, timeout=180,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert out.returncode != 0
    assert '"correct"' not in out.stdout
