"""Smoke test of the benchmark at tiny sizes.

Runs each workload twice (two seeds, one untraced and one traced run) and
asserts that every metric ``BENCHMARK.json`` names is printed with its
unit and that every oracle check passed.  Also checks that the benchmark
refuses to run outside a checkout.  Takes a few minutes (each run starts
a Spark session):

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPEC = json.load(open(os.path.join(REPO, "BENCHMARK.json")))
RUN = [sys.executable, os.path.join(REPO, "perfbench", "run.py")]


def _run(workload: str, seed: int, trace: int, cwd: str = REPO):
    return subprocess.run(
        RUN + ["--workload", workload, "--seed", str(seed), "--seconds", "1",
               "--trace", str(trace), "--scale", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("seed,trace", [(1, 0), (2, 1)])
def test_metrics_printed_and_oracles_pass(workload, seed, trace):
    p = _run(workload, seed, trace)
    assert p.returncode == 0, p.stderr[-2000:]
    lines = p.stdout.strip().splitlines()
    out = json.loads(lines[-1])
    detail = json.loads(lines[-2])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0, detail["failures"]
    assert out["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
        if not trace:
            assert got["value"] > 0, m["name"]
    if trace:
        # self times of a traced operation add up to its wall time
        spans = os.path.join(REPO, ".bench_work",
                             f"spans-{workload}-{seed}.jsonl")
        rows = [json.loads(x) for x in open(spans)]
        for op in {r["op"] for r in rows}:
            ss = [r for r in rows if r["op"] == op]
            root = [r for r in ss if r["parent"] is None][0]
            total = sum(r["self_s"] for r in ss)
            assert abs(total - root["wall_s"]) < 1e-6 * max(1, len(ss))


def test_refuses_outside_a_checkout():
    d = os.path.join(REPO, ".bench_work", "bare")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    try:
        shutil.copy(os.path.join(REPO, "BENCHMARK.json"), d)
        shutil.copytree(os.path.join(REPO, "perfbench"),
                        os.path.join(d, "perfbench"))
        p = _run(SPEC["workloads"][0]["name"], 1, 0, cwd=d)
        assert p.returncode != 0
        assert p.stdout.strip() == ""
    finally:
        shutil.rmtree(d)
