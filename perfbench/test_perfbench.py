"""Tests of the benchmark itself, on tiny inputs.

    python3 -m pytest perfbench/test_perfbench.py -q

Each test runs `run.py` from the repo root in a subprocess, at `--scale 0.05`
(analytic tables at sf 0.0005, a 2k house-number flagship input) and
`--seconds 0` (one timed pass, or one untraced and one traced).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import LAYER_METRICS  # noqa: E402

LAYERS = {"session", "sources", "plans", "engine", "ckpt", "spark"}


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(workload, trace, *extra):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "0", "--trace", str(trace), "--scale", "0.05", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


def _report(workload, trace):
    path = os.path.join(ROOT, ".perfbench", "reports", f"{workload}-seed3-trace{trace}.json")
    with open(path) as fh:
        return json.load(fh)


@pytest.fixture(scope="module")
def flagship_default():
    return _run("flagship_pipeline", 0)


@pytest.fixture(scope="module")
def traced_corrupt():
    """Traced runs of both operation kinds, each with one output altered."""
    return {
        "flagship_pipeline": _run("flagship_pipeline", 1, "--corrupt", "pipeline"),
        "analytic_sql": _run("analytic_sql", 1, "--corrupt", "q18_large_orders"),
    }


def test_end_to_end_metrics_print_with_units(flagship_default):
    lines, result = flagship_default
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(v["value"] > 0 for v in result["metrics"].values())
    for name in [*want, "error_rate"]:
        assert any(line.startswith(name) for line in lines), name


def test_per_layer_metrics_print_with_units(traced_corrupt):
    want = {m["name"]: m["unit"] for m in _spec()["per_layer"]}
    for lines, result in traced_corrupt.values():
        assert {k: v["unit"] for k, v in result["metrics"].items()} == want
        for name, unit in LAYER_METRICS.items():
            assert any(line.split()[:1] == [name] and line.split()[-1] == unit
                       for line in lines), name


def test_traced_run_has_a_span_for_every_layer(traced_corrupt):
    seen = set()
    for workload in traced_corrupt:
        spans = _report(workload, 1)["spans"]
        seen |= {s["name"].split(".", 1)[0] for s in spans}
        assert all(s["self_s"] >= -1e-3 for s in spans)
    assert LAYERS <= seen


def test_corrupted_output_counts_as_error(traced_corrupt):
    for workload, (lines, result) in traced_corrupt.items():
        assert not result["correct"], workload
        assert result["failed"] >= 1
        report = _report(workload, 1)
        assert report["error_rate"] == result["failed"] / result["attempted"] > 0
        assert len(report["check_failures"]) == 1
