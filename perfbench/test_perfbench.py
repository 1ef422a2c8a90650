"""Smoke test of the benchmark at a tiny input size (a few minutes):

    python -m pytest perfbench -q

Every workload runs and checks its outputs; two seeds give different crawl
orders; the traced run reproduces the timed run's output checksums (both
must equal the committed expected outputs).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCALE = "0.01"


def bench(workload: str, seed: int, trace: int = 0) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace), "--scale", SCALE],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, p.stderr[-3000:]
    return result


def contract_names(kind: str) -> set[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"] for m in json.load(f)[kind]}


def expected(workload: str, seed: int) -> dict:
    with open(os.path.join(ROOT, "perfbench", "expected.json")) as f:
        return json.load(f)[workload][f"x{SCALE}"][str(seed % 16)]


@pytest.mark.parametrize("workload", ["crawl_wide", "recrawl_dump", "curation_suite"])
def test_workload_runs_and_checks(workload):
    metrics = bench(workload, 7)["metrics"]
    assert set(metrics) == contract_names("end_to_end")
    assert all(m["value"] > 0 for m in metrics.values())


def test_seeds_change_crawl_order():
    bench("crawl_wide", 7)
    bench("crawl_wide", 8)
    assert expected("crawl_wide", 7)["crawl_order"] != expected("crawl_wide", 8)["crawl_order"]


def test_traced_run_matches_timed_run():
    bench("recrawl_dump", 9)
    traced = bench("recrawl_dump", 9, trace=1)["metrics"]
    assert set(traced) == contract_names("per_layer")
    want = expected("recrawl_dump", 9)
    assert traced["funnel.scheduled"]["value"] == want["total_scheduled"]
    assert traced["funnel.candidates"]["value"] == want["total_candidates"]
