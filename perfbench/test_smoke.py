"""Smoke test of the benchmark itself: every workload at tiny size.

Run from the repository root::

    python -m pytest perfbench/test_smoke.py -q

Each run uses ``--smoke`` (sf0.001 tables, a two-run npy set), so a
workload finishes in well under a minute.  The test asserts the result
contract: every metric of ``BENCHMARK.json`` (``--trace 0``) and every
per-layer metric (``--trace 1``) is printed with its unit, and no
operation or check failed.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
SPEC = json.load(open(os.path.join(ROOT, "perfbench", "SPEC.json")))


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(SPEC["workloads"]))
def test_end_to_end_metrics(workload):
    res = _run(workload, 0)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())


@pytest.mark.parametrize("workload", sorted(SPEC["workloads"]))
def test_per_layer_metrics(workload):
    res = _run(workload, 1)
    assert res["correct"] and res["failed"] == 0
    want = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    trace = json.load(open(os.path.join(ROOT, ".perfbench", f"trace-{workload}-3.json")))
    assert set(trace["metrics"]) >= set(want)
    # set-up warmed every write-once mirror, so none is rebuilt while timed
    assert trace["metrics"]["sources.mirror_rebuilds"] == 0
