"""Crawl + curation benchmark.

    python3 perfbench/run.py --workload crawl_wide --seed 1 --seconds 1 --trace 0

Workloads: crawl_wide, recrawl_dump (``CrawlJob(...).run()``, see
perfbench/crawl.py) and curation_suite (``__spark_entry__.queries()``, see
perfbench/curation.py), single process at ``local[nproc]``.

``--trace 0`` prints the end-to-end metrics: setup_s, run_s, items_per_s.
``--trace 1`` runs the traced variant and prints the per-layer metrics.
Either way the last stdout line is one JSON object with the keys correct,
attempted, failed and metrics; the line before it restates the figures
with units, peak_rss_mb and error_rate included. See perfbench/README.md. Every output is checked outside
the timed window; a failed check or a raised call counts in ``failed``.

Inputs come from ``--seed`` (perfbench/inputs.py); crawl outputs are
checked against perfbench/expected.json. Scratch data, the cached pages
corpus and traces live in ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ["crawl_wide", "recrawl_dump", "curation_suite"]
# printed in the JSON with --trace 0; peak_rss_mb is on the summary line
# and, from the traced run, a per-layer metric: the JVM's heap growth under
# the 48 GB default heap moves it by up to a third between runs
END_TO_END = ["setup_s", "run_s", "items_per_s"]


def per_layer_names() -> list[str]:
    from perfbench.curation import QUERIES

    names = ["peak_rss_mb", "session.start_s", "frontier.init_s",
             "frontier.seed_canon.wall_s", "frontier.seed_canon.py_udf_s"]
    names += [f"frontier.schedule.{k}" for k in
              ("wall_s", "jobs", "jobs_per_wave", "task_s", "util", "shuffle_mb", "task_skew")]
    names += [f"frontier.fetch_extract.{k}" for k in
              ("wall_s", "jobs", "task_s", "util", "py_udf_s", "arrow_mb", "task_skew")]
    names += ["frontier.driver_gap_s", "frontier.gc_s", "frontier.spill_mb",
              "frontier.scaling_1_to_n"]
    names += [f"checkpoint.{k}" for k in ("write_s", "written_mb", "read_s", "finalize_s")]
    names += [f"funnel.{k}" for k in
              ("candidates", "deduped", "deduped_reported", "unseen", "robots_ok",
               "budget_ok", "scheduled", "fetched", "outlinks", "yield", "fetch_hit")]
    names += ["trace.cold_run_s", "trace.traced_run_s", "trace.untraced_run_s",
              "trace.overhead_s"]
    names += [f"query.{q}.{k}" for q in QUERIES for k in ("wall_s", "task_s")]
    return names


def unit(name: str) -> str:
    if name == "items_per_s":
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("util", "task_skew", "yield", "fetch_hit", "scaling_1_to_n")):
        return "ratio"
    return "count"


def run(args) -> dict:
    from perfbench.harness import Harness
    from perfbench.tracing import RssSampler, Tracer

    h = Harness(ROOT, args.workload, args.seed, bool(args.trace), args.scale,
                args.write_expected)
    rss = RssSampler().start()
    metrics: dict[str, float] = {}
    try:
        if args.workload == "curation_suite":
            from perfbench.curation import Curation

            w = Curation(h)
        else:
            from perfbench.crawl import Crawl

            w = Crawl(h)
        if args.trace:
            tracer = Tracer(h.run_id)
            layers = w.traced(tracer)
            layers["peak_rss_mb"] = rss.stop()
            metrics = {n: float(layers.get(n, 0.0)) for n in per_layer_names()}
            keep = os.path.join(h.work, "traces")
            os.makedirs(keep, exist_ok=True)
            tracer.dump(os.path.join(keep, f"{h.run_id}.spans.json"))
            log_dir = os.path.join(h.run_dir, "eventlog")
            if os.path.isdir(log_dir):
                shutil.move(log_dir, os.path.join(keep, f"{h.run_id}.eventlog"))
        else:
            metrics = w.timed(rss)
    finally:
        rss.stop()
        h.shutdown()
        shutil.rmtree(h.run_dir, ignore_errors=True)
    for note in h.notes:
        print(f"FAILED: {note}", file=sys.stderr)
    shown = metrics if args.trace else {k: metrics[k] for k in END_TO_END}
    result = {
        "correct": h.failed == 0,
        "attempted": h.attempted,
        "failed": h.failed,
        "metrics": {k: {"value": v, "unit": unit(k)} for k, v in shown.items()},
    }
    return result, metrics


def summary_line(args, result, m) -> str:
    rate = result["failed"] / result["attempted"] if result["attempted"] else 1.0
    parts = [f"{args.workload} seed={args.seed} trace={args.trace}:"]
    if not args.trace:
        parts += [f"setup_s={m['setup_s']:.4f} s", f"run_s={m['run_s']:.4f} s"]
        if args.workload == "curation_suite":
            parts.append(f"queries_per_s={m['items_per_s']:.4f} 1/s")
        else:
            parts.append(f"urls_per_s={m['items_per_s']:.1f} URL/s")
        parts.append(f"peak_rss_mb={m['peak_rss_mb']:.1f} MB")
    else:
        parts.append(f"per-layer metrics={len(m)}")
    parts.append(f"error_rate={rate:.4f} ratio ({result['failed']}/{result['attempted']})")
    return "  ".join(parts)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=1,
                   help="minimum measured time; a run always times exactly one "
                        "pass, which lasts longer than this")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size factor (the smoke test runs small)")
    p.add_argument("--write-expected", action="store_true",
                   help="store this run's crawl outputs as the expected ones of its "
                        "workload, scale and input variant in perfbench/expected.json")
    args = p.parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import __spark_entry__  # noqa: F401
        import bodhium_webscrapper_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not in this checkout ({e})", file=sys.stderr)
        return 2
    result, measured = run(args)
    print(summary_line(args, result, measured))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
