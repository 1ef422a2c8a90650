"""Benchmark: headline query walls plus the checked crawl + curation benchmark.

    SPARK_GRAFT_SF_DIR=<dir with the sf tables> SPARK_GRAFT_CPUS=4 python bench.py

1. Times the ``HEADLINE`` ``__spark_entry__`` queries over the tables in
   ``$SPARK_GRAFT_SF_DIR`` on one ``local[$SPARK_GRAFT_CPUS]`` session
   (default: every CPU this process may use), each query's result counted
   once.
2. Runs perfbench (perfbench/README.md), the benchmark whose crawl outputs
   are checked against ``perfbench/expected.json``, as subprocesses at seed
   ``SEED``: ``crawl_wide --trace 1`` and ``curation_suite --trace 0``.
3. Prints one JSON line:
     {"metric": "headline_query_wall", "value": <sum of query walls>,
      "unit": "sec", "sf": ..., "queries": {<query>: <sec>},
      "perfbench": {"seed": ..., "crawl_wide": {...}, "curation_suite": {...}},
      "layers": {<per-layer name>: <value>}}

Each perfbench entry carries ``correct``, ``failed``, ``setup_s``, ``run_s``
and ``items_per_s``. ``curation_suite`` reports them itself; ``crawl_wide``'s
come from its traced run, whose first pass is the timed run's pass:
``run_s`` = ``trace.cold_run_s``, ``items_per_s`` = ``funnel.candidates /
run_s`` and ``setup_s`` = ``session.start_s + frontier.init_s`` (a sum of
medians where the timed run takes the median of sums). ``layers`` holds the
traced run's non-zero crawl figures (``frontier.scaling_1_to_n`` among
them). Only ``SPARK_GRAFT_SF_DIR`` and ``SPARK_GRAFT_CPUS`` are read.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

HEADLINE = [
    "pushdown_agg",
    "fetch_join",
    "url_dedup_first_wins",
    "host_budget_topk",
    "seen_antijoin_bloom",
    "minhash_lsh_dups",
    "simhash_dups",
    "ann_bruteforce_topk",
    "token_count",
    "pii_scrub",
    "quality_score",
    "lang_id",
    "exact_dedup",
    "media_features",
    # round-5 additions: rolling-hash fingerprint pairs, exact duplicate
    # spans, Gopher repetition signals, fixed-point PageRank
    "winnow_fingerprint_dups",
    "duplicate_spans",
    "gopher_repetition",
    "pagerank_priority",
    # train + broadcast-score the hashed-token quality classifier
    "quality_classifier",
    # the zero-shuffle per-row Gopher A1.2 rule gate, and DSIR's
    # train+score+top-k importance-resampling chain
    "gopher_quality",
    "dsir_select",
]

# perfbench seed: picks one of its 16 input variants (seed mod 16)
SEED = 1
# (workload, --trace) pairs run by perfbench
PERFBENCH = [("crawl_wide", 1), ("curation_suite", 0)]
END_TO_END = ("setup_s", "run_s", "items_per_s")


def run_queries(sf_dir: str, cpus: int) -> dict:
    import __spark_entry__ as entrymod
    from bodhium_webscrapper_spark.session import build_session

    spark = build_session(
        f"local[{cpus}]", "bench_queries", shuffle_partitions=cpus,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    qs = entrymod.queries()
    out = {}
    for name in HEADLINE:
        t0 = time.time()
        qs[name](spark, sf_dir).count()
        out[name] = round(time.time() - t0, 3)
    spark.stop()
    return out


def run_perfbench(workload: str, trace: int) -> dict:
    """One perfbench run in a subprocess; returns its last stdout line, the
    JSON object ``{correct, attempted, failed, metrics}``, or a failed
    stand-in carrying the tail of its stderr."""
    r = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", str(SEED), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True,
    )
    try:
        return json.loads(r.stdout.strip().splitlines()[-1])
    except (IndexError, ValueError):
        return {"correct": False, "failed": None, "metrics": {},
                "error": r.stderr.strip()[-300:].replace("\r", "\n")}


def _figures(out: dict) -> tuple[dict, dict]:
    """(end-to-end entry, per-layer figures) of one perfbench result."""
    m = {k: v["value"] for k, v in out.get("metrics", {}).items()}
    if "trace.cold_run_s" in m:  # traced crawl: derive the timed run's figures
        run_s = m["trace.cold_run_s"]
        m.update(
            setup_s=m["session.start_s"] + m["frontier.init_s"],
            run_s=run_s,
            items_per_s=m["funnel.candidates"] / run_s if run_s else 0.0,
        )
    entry = {"correct": out.get("correct", False), "failed": out.get("failed")}
    entry.update({k: round(m.pop(k), 4) for k in END_TO_END if k in m})
    if "error" in out:
        entry["error"] = out["error"]
    return entry, {k: round(v, 4) for k, v in m.items() if v and not k.startswith("query.")}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or "0.1"

    queries = run_queries(sf_dir, cpus)
    perfbench: dict = {"seed": SEED}
    layers: dict = {}
    for workload, trace in PERFBENCH:
        perfbench[workload], got = _figures(run_perfbench(workload, trace))
        layers.update(got)
    print(json.dumps({
        "metric": "headline_query_wall",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "sf": sf,
        "queries": queries,
        "perfbench": perfbench,
        "layers": layers,
    }), flush=True)


if __name__ == "__main__":
    main()
