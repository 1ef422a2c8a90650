"""bench.py's output contract: one compact JSON line on stdout."""

from __future__ import annotations

import json
import os
import subprocess

import pytest
from pyspark.sql import SparkSession
from test_oracle import SF_DIR

# last stdout lines of the two perfbench runs bench.py starts
CANNED = {
    "crawl_wide": {
        "correct": True, "attempted": 4, "failed": 0,
        "metrics": {
            "session.start_s": {"value": 0.9, "unit": "s"},
            "frontier.init_s": {"value": 0.3, "unit": "s"},
            "frontier.scaling_1_to_n": {"value": 2.1, "unit": "ratio"},
            "funnel.candidates": {"value": 54000.0, "unit": "count"},
            "trace.cold_run_s": {"value": 18.0, "unit": "s"},
            "query.token_count.wall_s": {"value": 0.0, "unit": "s"},
        },
    },
    "curation_suite": {
        "correct": True, "attempted": 9, "failed": 0,
        "metrics": {
            "setup_s": {"value": 0.12, "unit": "s"},
            "run_s": {"value": 34.0, "unit": "s"},
            "items_per_s": {"value": 0.26, "unit": "1/s"},
        },
    },
}


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason=f"{SF_DIR} missing")
def test_bench_main_prints_one_compact_json_line(spark, monkeypatch, capsys):
    import bench

    def fake_run(cmd, **kwargs):
        workload = cmd[cmd.index("--workload") + 1]
        out = f"{workload} seed=1 summary\r\n" + json.dumps(CANNED[workload]) + "\n"
        return subprocess.CompletedProcess(cmd, 0, stdout=out, stderr="[Stage 0:>]\r")

    monkeypatch.setattr(bench.subprocess, "run", fake_run)
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", SF_DIR)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    # bench.main() gets the suite's session from getOrCreate; keep it alive
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    bench.main()

    last = capsys.readouterr().out.rstrip("\n").split("\n")[-1]
    assert "\r" not in last and len(last.encode()) < 4096
    got = json.loads(last)
    assert {"metric", "value", "unit", "sf", "queries"} <= got.keys()
    assert got["sf"] == "0.001" and got["unit"] == "sec"
    assert list(got["queries"]) == bench.HEADLINE
    assert got["value"] == round(sum(got["queries"].values()), 3)
    crawl, suite = got["perfbench"]["crawl_wide"], got["perfbench"]["curation_suite"]
    assert crawl == {"correct": True, "failed": 0, "setup_s": 1.2, "run_s": 18.0,
                     "items_per_s": 3000.0}
    assert suite == {"correct": True, "failed": 0, "setup_s": 0.12, "run_s": 34.0,
                     "items_per_s": 0.26}
    assert got["layers"]["frontier.scaling_1_to_n"] == 2.1
    assert not any(k.startswith("query.") for k in got["layers"])
