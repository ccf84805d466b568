"""Tiny-input self-test of the benchmark itself.

    python3 -m pytest perfbench/test_smoke.py -q

Checks that a run prints every metric BENCHMARK.json names (end-to-end and
per-layer) and that the correctness gate fires when one feature of the
engine's output is corrupted (the lag shifted by one more turn).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY = ["--turns", "800", "--seconds", "1", "--seed", "3"]


def _run(*args: str) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), *args, *TINY],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _check_shape(res: dict, names: list[str]) -> None:
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert set(res["metrics"]) == set(names)
    for m in res["metrics"].values():
        assert isinstance(m["value"], (int, float)) and m["unit"]


def test_every_end_to_end_metric_is_printed_and_correct():
    res = _run("--workload", "hot_convs", "--trace", "0")
    _check_shape(res, [m["name"] for m in _spec()["end_to_end"]])
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    assert all(m["value"] > 0 for m in res["metrics"].values())


def test_every_per_layer_metric_is_printed():
    res = _run("--workload", "backfill", "--trace", "1")
    _check_shape(res, [m["name"] for m in _spec()["per_layer"]])
    assert res["correct"]


def test_gate_fires_on_a_corrupted_feature():
    res = _run("--workload", "backfill", "--trace", "0", "--corrupt")
    assert not res["correct"]
    assert res["failed"] > 0
