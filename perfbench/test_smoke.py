"""Each workload of run.py at scale 0.001, untraced and traced: every metric that
BENCHMARK.json names prints with its unit, the outputs verify, and the
trace's spans nest with non-negative self times that add up to the pass."""

import json
import os
import subprocess
import sys

import pytest

from run import WORKLOADS
from spans import self_time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

assert {w["name"] for w in SPEC["workloads"]} <= set(WORKLOADS)


def run(workload: str, trace: int) -> tuple[dict, dict]:
    seed = 5
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
         "--scale", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=300, check=True,
    )
    result = json.loads(out.stdout.strip().splitlines()[-1])
    with open(os.path.join(HERE, "out", f"{workload}-seed{seed}-trace{trace}.json")) as f:
        return result, json.load(f)


def check_result(result: dict, spec_metrics: list[dict]) -> None:
    assert result["correct"] and result["failed"] == 0 and result["attempted"] == 4
    assert set(result["metrics"]) == {m["name"] for m in spec_metrics}
    for m in spec_metrics:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_untraced_run_prints_end_to_end_metrics(workload):
    result, artifact = run(workload, 0)
    check_result(result, SPEC["end_to_end"])
    assert all(v["value"] > 0 for v in result["metrics"].values())
    assert artifact["env_end"]["steal_ticks"] >= artifact["env_start"]["steal_ticks"]
    for p in artifact["passes"]:
        assert {"steal_ticks", "loadavg_1m", "nproc"} <= set(p)


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_traced_run_prints_layer_metrics_and_spans_nest(workload):
    result, artifact = run(workload, 1)
    check_result(result, SPEC["per_layer"])
    # a time that is 0 on every run would read as unmeasured
    assert all(v["value"] > 0 for v in result["metrics"].values() if v["unit"] == "s")
    spans = artifact["spans"]
    by_id = {s["id"]: s for s in spans}
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    for s in spans:
        assert s["end"] >= s["start"]
        assert self_time(s, kids.get(s["id"], [])) >= -1e-6, s["name"]
        parent = by_id.get(s["parent"])
        if parent is not None:
            assert parent["start"] <= s["start"] and s["end"] <= parent["end"], s["name"]
            assert parent["pass"] == s["pass"]

    def total_self(s):
        return self_time(s, kids.get(s["id"], [])) + sum(total_self(c) for c in kids.get(s["id"], []))

    for p in artifact["passes"]:
        (root,) = [s for s in kids[None] if s["pass"] == p["index"]]
        assert root["name"] == "pass"
        # siblings do not overlap, so the self times partition the pass
        assert abs(total_self(root) - (root["end"] - root["start"])) < 1e-6
        assert root["end"] - root["start"] <= p["wall_s"]
        in_pass = {j["job_id"] for j in p["jobs"] if p["t_start"] <= j["start"] <= p["t_end"]}
        attached = [j for s in spans if s["pass"] == p["index"] for j in s["jobs"]]
        assert sorted(attached) == sorted(in_pass)
