"""The curation workload: oracle-twinned ``__spark_entry__.queries()`` calls
over seeded documents/embeddings tables.

The curation operators never run in the crawl loop, and the suite is
read-only, so it also shows when a session or conf change made for the
crawl costs the query surface. One query per curation module:
operators.dedup/politeness/seen/similarity/quality/pagerank/mixing and
functions.textstats/multimodal.
"""

from __future__ import annotations

import os
import sys
import time

from perfbench import eventlog, inputs
from perfbench.harness import median

QUERIES = [
    "url_dedup_first_wins",  # operators.dedup
    "host_budget_topk",  # operators.politeness
    "seen_antijoin_bloom",  # operators.seen
    "ann_bruteforce_topk",  # operators.similarity
    "token_count",  # functions.textstats
    "media_features",  # functions.multimodal
    "gopher_quality",  # operators.quality
    "pagerank_priority",  # operators.pagerank
    "dsir_select",  # operators.mixing
]
DOCS, VECS = 5000, 2000  # table sizes at scale 1: the row counts of the sf0.1 tables
# set-ups per run; setup_s is their median, which leaves out the JVM launch
# that only the first one pays. A warm build_session takes 0.08-0.3 s here,
# so the median needs more samples than the crawl's
SETUPS = 15


class _Collected:
    """A collected result in the shape ``oracle_harness.compare`` reads."""

    def __init__(self, pdf):
        self._pdf = pdf
        self.columns = list(pdf.columns)

    def toPandas(self):
        return self._pdf


class Curation:
    def __init__(self, h):
        import __spark_entry__

        self.h = h
        self.queries = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()
        self.sf_dir = os.path.join(h.run_dir, "inputs")
        n_docs = max(200, int(DOCS * h.scale))
        n_vecs = max(200, int(VECS * h.scale))
        inputs.write(inputs.documents_table(h.variant, n_docs), self._table("documents"))
        inputs.write(inputs.embeddings_table(h.variant, n_vecs), self._table("embeddings"))

    def _table(self, name: str) -> str:
        return os.path.join(self.sf_dir, f"{name}.parquet")

    def setups(self) -> list[float]:
        """SETUPS x build_session: the suite's only set-up, since every
        query call belongs to the timed pass."""
        return [self.h.session()[1] for _ in range(SETUPS)]

    def run_pass(self, spark):
        """Every query once, each result collected; returns
        ({name: pandas frame or None}, {name: seconds}, total seconds)."""
        sc = spark.sparkContext
        results, walls = {}, {}
        t_all = time.perf_counter()
        for name in QUERIES:
            sc.setJobDescription(f"q:{name}")
            t0 = time.perf_counter()
            try:
                with self.h.span(f"query.{name}"):
                    results[name] = self.queries[name](spark, self.sf_dir).toPandas()
            except Exception as e:  # noqa: BLE001 - counted as a failed operation
                self.h.fail(f"{name} raised {type(e).__name__}: {e}"[:300])
                results[name] = None
            walls[name] = time.perf_counter() - t0
        sc.setJobDescription(None)
        self.h.attempted += len(QUERIES)
        return results, walls, time.perf_counter() - t_all

    def check(self, results) -> None:
        """Each collected result against its DuckDB oracle twin."""
        sys.path.insert(0, os.path.join(self.h.root, "tests"))
        import oracle_harness

        con = oracle_harness.duck_connection(self.sf_dir)
        try:
            for name, pdf in results.items():
                if pdf is None:
                    continue
                err = oracle_harness.compare(_Collected(pdf), con.sql(self.oracles[name]).df())
                if err:
                    self.h.fail(f"{name}: {err}"[:300])
        finally:
            con.close()

    def timed(self, rss) -> dict:
        """End-to-end metrics: one query pass, the first of the process,
        then the oracle checks."""
        samples = self.setups()
        results, _, run_s = self.run_pass(self.h.spark)
        peak = rss.stop()
        self.check(results)
        return {
            "setup_s": median(samples),
            "run_s": run_s,
            "items_per_s": len(QUERIES) / run_s,
            "peak_rss_mb": peak,
        }

    def traced(self, tracer) -> dict:
        """Per-layer metrics. Query passes: the first of the process
        (untraced, as in the timed run), the traced pass on a new session
        with the event log on, and an untraced pass on a new session (the
        tracing overhead's reference)."""
        h = self.h
        samples = self.setups()
        results, _, run_cold = self.run_pass(h.spark)
        self.check(results)

        log_dir = os.path.join(h.run_dir, "eventlog")
        h.tracer = tracer
        spark, _ = h.session(eventlog_dir=log_dir)
        with tracer.span("queries"):
            results, walls_t, run_t = self.run_pass(spark)
        h.tracer = None
        self.check(results)
        app_id = spark.sparkContext.applicationId
        h.stop()
        jobs = eventlog.read_jobs(os.path.join(log_dir, app_id))

        spark, _ = h.session()
        results, _, run_u = self.run_pass(spark)
        self.check(results)
        h.stop()
        phases = eventlog.by_phase(
            jobs, lambda d: d[2:] if d and d.startswith("q:") else None
        )
        m = {
            "session.start_s": median(samples),
            "trace.cold_run_s": run_cold,
            "trace.traced_run_s": run_t,
            "trace.untraced_run_s": run_u,
            "trace.overhead_s": run_t - run_u,
        }
        for name in QUERIES:
            m[f"query.{name}.wall_s"] = walls_t[name]
            m[f"query.{name}.task_s"] = eventlog.summarize(phases.get(name, []), h.nproc)["task_s"]
        return m
