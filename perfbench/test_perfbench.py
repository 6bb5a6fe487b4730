"""Self-tests of the benchmark.

    python3 -m pytest perfbench -q

The smoke tests run every workload at a tiny size, untraced and traced, and
assert that every metric BENCHMARK.json names is printed with its unit. The
injection tests perturb one feature of the collected output and assert the
checks count the job as failed.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import tracing  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def run_bench(workload, trace=0, *extra):
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace),
         "--size", "tiny", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, lines[:-1], json.loads(lines[-1])


def test_parse_metric():
    assert tracing.parse_metric("6,000") == (6000.0,)
    assert tracing.parse_metric("57.3 KiB") == (57.3 * 1024,)
    total, lo, med, hi = tracing.parse_metric(
        "total (min, med, max (stageId: taskId))\n"
        "4.9 s (350 ms, 2.1 s, 2.2 s (stage 15.0: task 13))")
    assert (total, lo, med, hi) == pytest.approx((4.9, 0.35, 2.1, 2.2))


def test_covered_merges_overlaps():
    assert tracing.covered([(0, 2), (1, 3), (5, 6)]) == 4
    assert tracing.covered([]) == 0


def test_layer_metric_names_match_spec():
    assert tracing.metric_names() == [m["name"] for m in SPEC["per_layer"]]


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_prints_every_metric(workload, trace):
    rc, summary, result = run_bench(workload, trace)
    assert rc == 0 and result["correct"], summary
    assert result["failed"] == 0 and result["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    text = "\n".join(summary)
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
        assert m["name"] in text
    assert "fail_ratio" in text
    if trace:
        py_run = {layer: result["metrics"][f"{layer}.py_run_s"]["value"]
                  for layer in tracing.PY_LAYERS}
        if workload == "session_vectors":
            assert py_run["functionals_kernel"] > 0 and py_run["backfill"] == 0
        if workload == "feature_refresh":
            assert py_run["backfill"] > 0 and py_run["functionals_kernel"] == 0


@pytest.mark.parametrize("workload", WORKLOADS)
def test_corrupted_output_is_a_failure(workload):
    rc, summary, result = run_bench(workload, 0, "--corrupt")
    assert rc != 0
    assert result["correct"] is False and result["failed"] >= 1
    fail_ratio = next(line for line in summary if "fail_ratio" in line)
    assert float(fail_ratio.split()[1]) > 0
