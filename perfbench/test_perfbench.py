"""Smoke tests for the benchmark: ``python3 -m pytest perfbench -q``.

Each test runs ``run.py --smoke`` (sf0.001 inputs, one measured round) in
a fresh worker process, so the module takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
PACKAGE = "collect_mobile_devices_datalake_spark"


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _smoke(root: str, workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(root, "perfbench", "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=root, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-4000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def _units(metrics: dict) -> dict:
    return {k: v["unit"] for k, v in metrics.items()}


@pytest.mark.parametrize("workload", [w["name"] for w in _spec()["workloads"]])
def test_smoke_run_emits_every_metric_with_its_unit(workload):
    spec = _spec()
    res = _smoke(ROOT, workload, trace=1)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] > 0
    assert _units(res["metrics"]) == {m["name"]: m["unit"] for m in spec["per_layer"]}
    # the trace run also measures the untraced round the end-to-end metrics come from
    with open(os.path.join(ROOT, ".perfbench", "records", f"{workload}-seed3-trace1-smoke.json")) as f:
        record = json.load(f)
    assert set(record["end_to_end"]) == {m["name"] for m in spec["end_to_end"]}
    assert all(v > 0 for v in record["end_to_end"].values())


def test_wrong_pinned_count_is_reported_as_failure(tmp_path):
    """A copy of the benchmark whose pinned crawl count is off by one must
    finish its run and report the step as failed, not pass or crash."""
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    os.symlink(os.path.join(ROOT, PACKAGE), tmp_path / PACKAGE)
    expected_path = tmp_path / "perfbench" / "expected.json"
    expected = json.loads(expected_path.read_text())
    expected["smoke"]["lake"]["crawl.gsmarena"]["rows"] += 1
    expected_path.write_text(json.dumps(expected))

    res = _smoke(str(tmp_path), "lake", trace=0)
    assert res["correct"] is False
    assert res["failed"] == 2  # the untimed pass and the one measured round
    assert _units(res["metrics"]) == {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
