"""The crawl workloads: ``CrawlJob(...).run()`` over the cached pages
corpus with seeded seeds and robots rules.

crawl_wide   the host roots (nine in ten, seeded), robots,
             ``max_urls_per_host_per_wave=1000``, no global cap, 3 waves:
             the throughput crawl. Loads the fused extract/outlink UDF, the
             broadcast fetch join and the ``page_results`` writes.
recrawl_dump every page url incl. the case/www/:443 variant rows, seeded
             order and priorities, ``global_wave_limit=5000``, 3 waves:
             loads seed canonicalization and the schedule stage (wave-0
             dedup and politeness windows over every row) and fetches
             little, so an extract-only change should leave it flat.
"""

from __future__ import annotations

import functools
import os
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bodhium_webscrapper_spark.plans.frontier import CrawlConfig, CrawlJob
from perfbench import eventlog, inputs
from perfbench.harness import checksums, median

PAGES = 200_000  # pages corpus size at scale 1
# set-ups per run; setup_s is their median, which leaves out the JVM launch
# that only the first one pays
SETUPS = 5

CONFIGS = {
    "crawl_wide": dict(max_urls_per_host_per_wave=1000, global_wave_limit=None, max_waves=3),
    "recrawl_dump": dict(global_wave_limit=5000, max_waves=3),
}


class Crawl:
    def __init__(self, h):
        self.h = h
        self.config = CrawlConfig(**CONFIGS[h.workload])
        n_pages = max(2000, int(PAGES * h.scale))
        # one-time build (excluded from every timing); the set-ups below
        # build their own session
        self.corpus = inputs.pages_corpus(
            h.work, n_pages, workers=h.nproc, session=lambda: h.session()[0]
        )
        seeds = (inputs.wide_seeds if h.workload == "crawl_wide" else inputs.recrawl_seeds)(
            self.corpus, h.variant
        )
        self.seeds = inputs.write(seeds, os.path.join(h.run_dir, "inputs", "seeds.parquet"))
        self.robots = inputs.write(
            inputs.robots_table(self.corpus, h.variant),
            os.path.join(h.run_dir, "inputs", "robots.parquet"),
        )

    def init_job(self, spark, ckpt: str, store=None) -> CrawlJob:
        spark.sparkContext.setJobDescription("bench:init")
        with self.h.span("CrawlJob.__init__"):
            job = CrawlJob(
                spark,
                self.corpus["pages"],
                spark.read.parquet(self.seeds),
                spark.read.parquet(self.robots),
                self.config,
                ckpt,
                store=store,
            )
        spark.sparkContext.setJobDescription(None)
        return job

    def setups(self):
        """SETUPS x (build_session + CrawlJob.__init__); returns the last
        job and the (session_s, init_s) samples."""
        samples = []
        for _ in range(SETUPS):
            spark, session_s = self.h.session()
            ckpt = self.h.fresh_dir("ckpt")
            t0 = time.perf_counter()
            job = self.init_job(spark, ckpt)
            samples.append((session_s, time.perf_counter() - t0))
        return job, samples

    def run_pass(self, job: CrawlJob):
        """job.run(), timed; None summary when it raised."""
        sc = job.spark.sparkContext
        sc.setJobDescription("bench:seed_canon")  # the seeds-wave count job
        t0 = time.perf_counter()
        try:
            summary = job.run()
        except Exception as e:  # noqa: BLE001 - counted as a failed operation
            self.h.fail(f"run raised {type(e).__name__}: {e}"[:300])
            summary = None
        finally:
            sc.setJobDescription(None)
        return summary, time.perf_counter() - t0

    def fresh_pass(self, name: str, master: str | None = None):
        """A pass on a new session: session, CrawlJob, run (timed)."""
        spark, _ = self.h.session(master=master)
        job = self.init_job(spark, self.h.fresh_dir(name))
        return (job, *self.run_pass(job))

    def check(self, job: CrawlJob, summary) -> dict | None:
        """Output checks of one pass (an operation), outside any timed
        window. Returns the output record, or None when the pass failed."""
        self.h.attempted += 1
        if summary is None:
            return None
        waves = summary["waves"]
        if not waves or summary["committed_wave"] != len(waves) - 1:
            self.h.fail(f"committed_wave {summary['committed_wave']} after {len(waves)} waves")
            return None
        spark = job.spark
        spark.sparkContext.setJobDescription("bench:check")
        # north-star invariant: extracted text byte-identical to pages.text
        ext = job.extracted().select("url_hash", F.col("text").alias("_t"))
        pages = spark.read.parquet(self.corpus["pages"]).select("url_hash", "text")
        differs = ext.join(pages, "url_hash", "left").filter(
            ~F.col("_t").eqNullSafe(F.col("text"))
        )
        got = checksums(
            {
                "crawl_order": job.crawl_order(),
                "seen_set": job.seen_set(),
                "extracted": job.extracted(),
                "text_differs": differs.select("url_hash"),
            }
        )
        spark.sparkContext.setJobDescription(None)
        if not got.pop("text_differs").startswith("0:"):
            self.h.fail("extracted rows differ from pages.text")
            return None
        return {
            **got,
            "total_candidates": summary["total_candidates"],
            "total_scheduled": summary["total_scheduled"],
        }

    def check_same(self, outs: list) -> None:
        """Every checked pass of the run gave the expected outputs of its
        input variant."""
        h = self.h
        if any(out is not None and not h.check_expected(out) for out in outs):
            h.fail(f"outputs of {h.workload} x{h.scale:g} variant {h.variant} differ "
                   "from perfbench/expected.json or have no entry there")

    def timed(self, rss) -> dict:
        """End-to-end metrics. Set up SETUPS times, then time one crawl
        pass: the first of the process, what a spark-submit user pays. Its
        outputs are checked after it; peak memory is taken before."""
        job, samples = self.setups()
        summary, run_s = self.run_pass(job)
        peak = rss.stop()
        self.check_same([self.check(job, summary)])
        return {
            "setup_s": median(s + i for s, i in samples),
            "run_s": run_s,
            "items_per_s": summary["total_candidates"] / run_s if summary else 0.0,
            "peak_rss_mb": peak,
        }

    # ---- traced run
    def traced(self, tracer) -> dict:
        """Per-layer metrics. Passes, each on a new session: the first crawl
        pass of the process (untraced, as in the timed run), the traced pass
        (event log on, spans, tracing store), an untraced pass under the
        same warm conditions as the traced one (the tracing overhead's
        reference, and the funnel), and for crawl_wide a ``local[1]`` pass."""
        from perfbench.tracing import TracingStore

        h = self.h
        job, samples = self.setups()
        _, run_cold = self.run_pass(job)
        outs = [self.check(job, _)]

        log_dir = os.path.join(h.run_dir, "eventlog")
        h.tracer = tracer
        spark, _ = h.session(eventlog_dir=log_dir)
        store = TracingStore(h.fresh_dir("ckpt_t"), tracer)
        job_t = self.init_job(spark, store.root, store)
        with tracer.span("CrawlJob.run") as run_rec:
            store.run_span = run_rec["id"]
            summary_t, run_t = self.run_pass(job_t)
        h.tracer = None
        outs.append(self.check(job_t, summary_t))
        app_id = spark.sparkContext.applicationId
        h.stop()
        jobs = eventlog.read_jobs(os.path.join(log_dir, app_id))

        job_u, summary_u, run_u = self.fresh_pass("ckpt_u")
        outs.append(self.check(job_u, summary_u))
        funnel = self.funnel(job_u, summary_u) if summary_u else {}
        scaling = 0.0
        if h.workload == "crawl_wide":
            job_1, summary_1, run_1 = self.fresh_pass("ckpt_1", master="local[1]")
            outs.append(self.check(job_1, summary_1))
            scaling = run_1 / run_u
        self.check_same(outs)
        h.stop()
        m = self.layers(jobs, tracer, run_rec, summary_t)
        m.update(
            {
                "session.start_s": median(s for s, _ in samples),
                "frontier.init_s": median(i for _, i in samples),
                "frontier.scaling_1_to_n": scaling,
                "trace.cold_run_s": run_cold,
                "trace.traced_run_s": run_t,
                "trace.untraced_run_s": run_u,
                "trace.overhead_s": run_t - run_u,
            }
        )
        m.update({f"funnel.{k}": v for k, v in funnel.items()})
        if funnel:
            m["funnel.yield"] = funnel["scheduled"] / funnel["candidates"]
            m["funnel.fetch_hit"] = funnel["fetched"] / funnel["scheduled"]
        return m

    def funnel(self, job: CrawlJob, summary) -> dict:
        """Schedule funnel, recomputed from outside per wave on the
        committed checkpoint with the loop's own operators (one action):
        candidates -> deduped -> unseen -> robots_ok -> budget_ok, then
        scheduled/fetched/outlinks and the loop's own ``deduped`` figure
        (``deduped_reported``) from ``WaveStats``."""
        from bodhium_webscrapper_spark.operators.politeness import (
            per_host_budget,
            with_crawl_delay_budget,
        )
        from bodhium_webscrapper_spark.operators.robots import robots_gate
        from bodhium_webscrapper_spark.plans.frontier import SEEN_SCHEMA, dedup_first_wins_frontier

        cfg, spark = job.config, job.spark
        levels = ["candidates", "deduped", "unseen", "robots_ok", "budget_ok"]
        counts = []
        for s in summary["waves"]:
            w = s["wave"]
            frontier = job._seed_frontier() if w == 0 else job._frontier_after(w - 1)
            seen = spark.createDataFrame([], SEEN_SCHEMA) if w == 0 else job._seen_upto(w - 1)
            deduped = dedup_first_wins_frontier(frontier)
            unseen = deduped.join(seen.select("url_hash"), "url_hash", "left_anti")
            robots_ok = robots_gate(unseen, job._rules, flat=True, strategy=job._robots_strategy)
            budgeted = with_crawl_delay_budget(
                robots_ok, None, cfg.max_urls_per_host_per_wave, cfg.wave_period_ms,
                budgets=job._budgets,
            )
            budget_ok = per_host_budget(
                budgeted, cfg.max_urls_per_host_per_wave, host_col="host",
                salt_buckets=1, budget_col="_host_budget",
            )
            for level, df in zip(levels, [frontier, deduped, unseen, robots_ok, budget_ok]):
                counts.append(df.agg(F.count(F.lit(1)).alias("n")).select(
                    F.lit(w).alias("wave"), F.lit(level).alias("level"), "n"))
        spark.sparkContext.setJobDescription("bench:funnel")
        got = {(r["wave"], r["level"]): r["n"]
               for r in functools.reduce(DataFrame.unionAll, counts).collect()}
        spark.sparkContext.setJobDescription(None)
        tot = dict.fromkeys(levels + ["scheduled", "fetched", "outlinks", "deduped_reported"], 0)
        for s in summary["waves"]:
            n = {level: got[(s["wave"], level)] for level in levels}
            capped = min(n["budget_ok"], cfg.global_wave_limit or n["budget_ok"])
            if n["candidates"] != s["candidates"] or capped != s["scheduled"]:
                self.h.fail(f"wave {s['wave']} funnel {n} disagrees with WaveStats {s}")
            for level in levels:
                tot[level] += n[level]
            tot["scheduled"] += s["scheduled"]
            tot["fetched"] += s["fetched"]
            tot["outlinks"] += s["outlinks"]
            tot["deduped_reported"] += s["deduped"]
        return tot

    def layers(self, jobs, tracer, run_rec, summary) -> dict:
        """Per-layer metrics of the traced pass: event-log phases inside
        its run span, and its store spans."""
        from perfbench.tracing import WRITES

        nproc = self.h.nproc
        lo, hi = run_rec["start"] * 1000, run_rec["end"] * 1000
        in_run = [j for j in jobs if lo <= j.submit_ms <= hi]

        def phase(desc):
            if desc == "bench:seed_canon":
                return "seed_canon"
            if desc and desc.startswith("w") and ":" in desc:
                return desc.split(":", 1)[1]
            return None

        phases = eventlog.by_phase(in_run, phase)
        seed = eventlog.summarize(phases.get("seed_canon", []), nproc)
        sched = eventlog.summarize(phases.get("schedule", []), nproc)
        fetch = eventlog.summarize(phases.get("fetch_extract", []), nproc)
        whole = eventlog.summarize(in_run, nproc)
        n_waves = len(summary["waves"]) if summary else 1

        store_spans = [
            s for s in tracer.descendants(run_rec["id"])
            if s["name"].startswith("store.") and s.get("top")
        ]
        actions = {"scheduled", "page_results"}

        def total(pred):
            return sum(s["end"] - s["start"] for s in store_spans if pred(s))

        def is_write(s):
            return s["name"].split(".", 1)[1] in WRITES

        def on_finalize(s):
            return s["thread"] == "wave-finalize"

        m = {
            "frontier.seed_canon.wall_s": seed["wall_s"],
            "frontier.seed_canon.py_udf_s": seed["py_udf_s"],
        }
        for key in ("wall_s", "jobs", "task_s", "util", "shuffle_mb", "task_skew"):
            m[f"frontier.schedule.{key}"] = sched[key]
        m["frontier.schedule.jobs_per_wave"] = sched["jobs"] / n_waves
        for key in ("wall_s", "jobs", "task_s", "util", "py_udf_s", "arrow_mb", "task_skew"):
            m[f"frontier.fetch_extract.{key}"] = fetch[key]
        m.update(
            {
                "frontier.driver_gap_s": (hi - lo) / 1000 - eventlog.covered_s(in_run),
                "frontier.gc_s": whole["gc_s"],
                "frontier.spill_mb": whole["spill_mb"],
                "checkpoint.write_s": total(
                    lambda s: is_write(s) and s["artifact"] not in actions and not on_finalize(s)
                ),
                "checkpoint.written_mb": sum(s.get("bytes", 0) for s in store_spans) / 1e6,
                "checkpoint.read_s": total(lambda s: not is_write(s) and not on_finalize(s)),
                "checkpoint.finalize_s": total(on_finalize),
            }
        )
        return m
