"""Tiny-size smoke test of the benchmark.

    python3 -m pytest perfbench/tests -q

Runs every workload of BENCHMARK.json at a few thousand rows, untraced and
traced, and checks that every named metric prints with its unit, that every
span appears in the written trace and that the output checks pass.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(HERE))

import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)

TINY_ROWS = {"dedupe_60k": 4000, "match_online_150k": 6000}
SPANS_BY_WORKLOAD = {
    "dedupe_60k": {"concat_tf", "training.lambda", "training.u", "training.em",
                   "predict", "cluster"},
    "match_online_150k": {"find_matches"},
}


def _run(workload: str, trace: int) -> dict:
    cmd = BENCH["command"] + [
        "--workload", workload, "--seed", "3", "--seconds", "1",
        "--trace", str(trace), "--rows", str(TINY_ROWS[workload]),
    ]
    done = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert done.returncode == 0, done.stderr[-4000:]
    return json.loads(done.stdout.strip().splitlines()[-1])


def test_workloads_match_benchmark_json():
    assert sorted(w["name"] for w in BENCH["workloads"]) == sorted(run.WORKLOADS)
    assert set(TINY_ROWS) == set(run.WORKLOADS)


@pytest.mark.parametrize("workload", sorted(TINY_ROWS))
def test_end_to_end_metrics(workload):
    out = _run(workload, 0)
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(v["value"] > 0 for v in out["metrics"].values())


@pytest.mark.parametrize("workload", sorted(TINY_ROWS))
def test_traced_run(workload):
    out = _run(workload, 1)
    assert out["correct"] is True and out["failed"] == 0
    want = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    path = os.path.join(run.CACHE, f"trace-{workload}-s3.json")
    with open(path) as f:
        spans = json.load(f)["spans"]
    traced = {s["name"] for s in spans if "jobs" in s}
    assert traced == SPANS_BY_WORKLOAD[workload]
    for name in traced:
        assert out["metrics"][f"{name}.jobs"]["value"] >= 1
