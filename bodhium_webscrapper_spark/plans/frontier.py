"""Deterministic breadth-first-with-priority crawl wave scheduler.

Re-expresses the reference's strictly sequential per-URL loop
(``/root/reference/app.py:899-1075``: discover → fetch one URL → extract →
sleep(1) → repeat) as an iterative batch dataflow: each *wave* is one pure
DataFrame plan, the only driver-side control flow is the wave loop and
empty-checks (mirroring the reference's source-fallback control flow).

Wave t (every stage a DataFrame; schema of frontier rows:
url_hash, canonical_url, host, depth, priority, retry_count) runs two
actions, the two artifact writes (a bucketed wave adds a third, narrow
one: the numeric-only wave-table write); counts/metrics come free from
parquet footers and the next frontier is DERIVED, not materialized:

  frontier_t = explode(page_results_{t-1}.outlinks) ∪ pending misses
               (lazy plan over committed artifacts; wave 0: seeds)
  candidates = dedup(frontier_t)   first-wins per url_hash         [A1]
  new        = candidates ANTI-JOIN seen ON url_hash AND
               retry_count = 0 (pending retries pass; broadcast, or
               exact shuffle above seen_broadcast_threshold; wave 0:
               an empty relation the optimizer folds away)         [J2]
  gated      = new ⋈ policy ON host, filter robots verdict,        [U5/W3]
               budget = coalesce(crawl-delay budget, default)
               (policy: the per-host politeness table, built once
               per run — see CrawlJob._host_policy)
  scheduled  = per-host top-budget window, host-hash salted        [W1/W3]
               → global wave cap, ordered (priority desc, url_hash)[W2]
               → WRITE (job 1)
  fetched    = pages ⋈ scheduled, picked by the wave's footer row
               count: up to broadcast_wave_threshold a broadcast-hash
               join carrying the numeric attrs (ONE join); above it a
               zero-broadcast zero-exchange storage-partitioned join of
               same-bucketed tables (stores with a write_bucketed
               seam; others broadcast at every size)               [J1/S4]
  extracted  = ONE fused pandas-UDF pass: text + canonicalized
               same-host outlinks from a single Arrow transfer     [U1/U2/P4/P7]
               → WRITE page_results (job 2)
  commit: manifest (scheduled + page_results ARE the checkpoint;
  frontier_{t+1} and the seen delta are projections of them)

Under AQE every exchange and broadcast of an action is a Spark job of its
own. ``perfbench/run.py --workload crawl_wide --trace 1`` (robots with
crawl delays, default config, 3 waves) measured these jobs, 16 schedule
jobs in all:

  schedule (6)  wave 0:  crawl-delay aggregation and policy-table exchange
                         (both once per run), dedup exchange, policy-table
                         broadcast, politeness exchange, scheduled write
  schedule (5)  wave ≥1: policy-table broadcast, dedup exchange, seen
                         broadcast, politeness exchange, scheduled write
  fetch (2)     scheduled-wave broadcast, page_results write

before which run() counts the canonicalized seeds (3 jobs, once). A
bucketed wave (above broadcast_wave_threshold) instead writes its
numeric-only wave table (bucket exchange + write) and fetches with no
broadcast; its first such wave also writes the bucketed pages layout once.

Determinism: scheduling order is a pure function of the data — sort key
(priority DESC, url_hash ASC); no monotonically_increasing_id, no clocks,
no partition-dependent values — so a resume from snapshot replays the exact
remaining order (tested in tests/test_resume.py).

Scale notes (100 TB / 10^10 URLs):
- pages is the huge side and is never shuffled per wave: the fetch join
  broadcasts the (politeness-capped, hence small) wave of scheduled URLs
  into a broadcast-hash-join probe of pages; a giant wave joins bucket to
  bucket against a pages layout bucketed once by ``bucket(N, url_hash)``
  (on Iceberg that would be the table's partition spec).
- seen is never broadcast past ``seen_broadcast_threshold``: above it the
  anti-join shuffles both sides by url_hash (exact, no pre-filter — a
  filter in front could not spare the seen side its exchange).
- the politeness window is salted two-phase top-k → no mega-host straggler.
- state (seen/frontier) is read back from the snapshot each wave, keeping
  every wave's plan O(1) and lineage flat (no iterative plan blow-up).
- seen is append-only deltas; wave commits are idempotent (crash-safe).
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bodhium_webscrapper_spark.functions.canonicalize import with_canonical_url
from bodhium_webscrapper_spark.functions.extract import make_extract_page_outlinks_udf
from bodhium_webscrapper_spark.operators.politeness import (
    global_ordered_cap,
    per_host_budget,
)
from bodhium_webscrapper_spark.operators.robots import robots_allowed, rules_table
from bodhium_webscrapper_spark.plans.bucketed_fetch import (
    bucket_ordering,
    bucketed_fetch_join,
    register_bucketed,
    write_bucketed,
)
from bodhium_webscrapper_spark.plans.checkpoint import CHECKPOINT_FORMAT, SnapshotStore
from bodhium_webscrapper_spark.plans.metrics import lineage_rows_table, observed

# an outlink's priority is its page's priority times this decay
PRIORITY_DECAY = 0.5
# PageRank iterations of each rank_priority_every recompute
RANK_ITERATIONS = 2

SEEN_SCHEMA = T.StructType(
    [
        T.StructField("url_hash", T.LongType()),
        T.StructField("url", T.StringType()),
    ]
)


@dataclass
class CrawlConfig:
    """Politeness budget fixture (FIXTURES.md §4; analogue of MAX_URLS=100
    at app.py:303 and the 1 s pacing at app.py:973-974)."""

    max_urls_per_host_per_wave: int = 10
    max_waves: int = 6
    global_wave_limit: int | None = 5000  # None/0 = politeness-only capping
    max_retries: int = 2
    # W3: nominal wave duration used to convert a host's robots
    # crawl_delay_ms into a reduced per-wave budget
    # (budget_host = min(budget, max(1, wave_period_ms // crawl_delay_ms)))
    wave_period_ms: int = 10_000
    # NOTE on capping semantics: URLs cut by the per-host budget or the
    # global wave limit are DROPPED, not deferred — they re-enter only if
    # rediscovered via a later page's outlinks. This mirrors the reference's
    # MAX_URLS=100 hard cap (app.py:303), which likewise discards the
    # overflow rather than queueing it.
    salt_buckets: int = 16
    # compact the scheduled/seen deltas every K committed waves (0 = off):
    # bounds read_deltas at (1 base + K tail dirs) for long crawls — at
    # hundreds of waves the per-wave anti-join otherwise unions hundreds of
    # small-file directories. Amortized O(seen)/K rewrite per wave.
    # Default ON (16): a default-config long crawl must not regress into
    # one-directory-per-wave unions; measured flat anti-join time vs the
    # uncompacted twin's growth (BENCH/BASELINE.md §3).
    compact_seen_every: int = 16
    # robots rules broadcast cutover: above this many flattened rules rows
    # the gate joins by shuffle instead of broadcast (a 10^8-host rules
    # table cannot be a broadcast build) — same pattern as
    # broadcast_wave_threshold below
    robots_broadcast_threshold: int = 1_000_000
    # fetch-join cutover, on the wave's footer row count: up to this size
    # the scheduled wave broadcasts WITH its numeric attributes (url_hash,
    # depth, priority, wave — 32 B/row, so 4M rows ≈ 128 MB, sized for a
    # standard 4-8 GB executor) and ONE inner hash join prunes pages and
    # attaches the attributes in the same probe; above it, the wave takes
    # the bucketed storage-partitioned join (plans/bucketed_fetch.py: no
    # broadcast, whose build is driver-serial fixed cost, and no exchange).
    # The bucketed path needs a store with a ``write_bucketed`` seam;
    # stores without one (IcebergSnapshotStore) broadcast at every size.
    # pages never shuffle per wave on either path.
    broadcast_wave_threshold: int = 4_000_000
    # seen anti-join cutover: up to this many seen keys the seen side is
    # broadcast; above it, the exact shuffle anti-join on url_hash
    seen_broadcast_threshold: int = 4_000_000
    # build the pending-retry artifact driver-side (pyarrow column reads +
    # numpy set difference) while the wave's scheduled artifact fits
    # comfortably in driver memory; above it, one extra small Spark
    # anti-join job per MISS-BEARING wave does the same (zero-miss waves
    # never pay either way). Gated on the artifact's on-disk (compressed)
    # footprint, not its row count: the driver read pulls string columns
    # (canonical_url, host), which a row count cannot see — kilobyte URLs
    # at 20M rows would be tens of GB. 256 MB compressed ≲ ~1-1.5 GB in
    # memory.
    pending_driver_max_bytes: int = 256 * 1024 * 1024
    salt_activation_threshold: int = 2_000_000  # salt only when frontier is huge
    # which outlinks the crawl follows (P4; app.py:497
    # exclude_external_links):
    #  "host" = exact host equality (default);
    #  "registrable" = eTLD+1 via the embedded public-suffix snapshot
    #    (blog.example.co.uk ↔ example.co.uk);
    #  "substring" = the reference's quirk (app.py:384-387), fixture mode;
    #  "all" = no scope filter (external links kept)
    domain_scope: str = "host"
    verify_extraction: bool = False  # assert byte-identical text vs golden
    # seeds are DECLARED already-canonical (e.g. a full recrawl seeded from
    # this engine's own frontier/seen dump, whose URLs are canonical by
    # construction). Wave 0 then skips the canonicalization UDF entirely —
    # keying/host extraction are pure JVM expressions — and skips the seed
    # cache (nothing expensive to share between the count and the schedule
    # job). Default OFF: arbitrary seed lists (the reference's discovery
    # paths) go through the full canonicalizer.
    seeds_canonical: bool = False
    # seeds are DECLARED duplicate-free per url_hash (e.g. a full recrawl
    # seeded from this engine's own seen/frontier dump, which is distinct
    # by construction). The seeds wave then skips the A1 dedup window —
    # the schedule stage's dominant exchange+sort at 10^8-row seed lists —
    # entirely; first-wins semantics are vacuous on distinct keys, so the
    # result is identical (asserted in tests/test_round5_fixes.py).
    # Discovery waves (frontier from outlinks) ALWAYS dedup regardless.
    # Default OFF: arbitrary seed lists may contain duplicates, and the
    # contract is trusted, not checked (checking would re-pay the shuffle).
    seeds_distinct: bool = False
    # bucket count of the bucketed fetch path (waves above
    # broadcast_wave_threshold): pages are rewritten ONCE into a
    # bucket(url_hash) layout (amortized across every wave; on Iceberg it
    # is just the table's partition spec) and each such wave's scheduled
    # set is written bucketBy the same spec, so the fetch join plans with
    # no broadcast, no exchange and no sort — the 10^8-row-wave path,
    # where the broadcast build's driver-serial ~0.7 s/M keys (measured by
    # a probe script of commit 0e901c5, deleted since) is the loop's
    # residual fixed cost
    fetch_buckets: int = 64
    # link-authority prioritization: every N committed waves, recompute
    # fixed-point integer PageRank over the FULL committed link graph and
    # add rank_priority_weight * rank/10^6 to each frontier row's priority
    # (operators/pagerank.py; the Brin/Page crawl-ordering application).
    # Deterministic by construction — ranks are exact integers, the blend
    # is per-row IEEE arithmetic, and the hook lives in _frontier_after so
    # a resume replays the identical blended frontier. Cost: one O(edges)
    # pass folded lazily into the next wave's schedule job, amortized
    # across N waves. 0 = off (the reference's decay-only ordering).
    rank_priority_every: int = 0
    rank_priority_weight: float = 1.0
    # existing bucketed pages layout to re-attach (register_bucketed);
    # default: <checkpoint_dir>/_bucketed_pages, written the first time a
    # wave goes bucketed iff absent — the one-time corpus rewrite
    bucketed_pages_path: str | None = None
    # drop tracking query params (utm_*/gclid/fbclid family,
    # functions/canonicalize.py:TRACKING_PARAM_RE) from every frontier URL
    # BEFORE keying: seeds, exploded outlinks, and the PageRank edge dsts
    # all strip with the same JVM expression, so ad-click aliases collapse
    # into one frontier entry and rank mass lands on the merged key. The
    # classic frontier-inflation vector at 10^10 scale — every campaign
    # click mints a "new" URL the canonicalizer alone keeps distinct.
    # Default OFF: the reference keys dedup on the raw URL string
    # (app.py:618-622), so parity mode must keep the variants distinct,
    # and stripped keys no longer match pages rows keyed with the params.
    strip_tracking: bool = False
    # honor in-page <meta name="robots"> directives (the REP's in-page
    # half; robots.txt is the per-host half): nofollow pages contribute
    # ZERO outlinks to the next frontier, and noindex pages are fetched
    # (their links may still be followed) but excluded from extracted().
    # Both flags are pure JVM regexp columns in the fetch projection
    # (functions/extract.py meta_robots_cols) — no extra pass, no Python.
    # page_results gains a `noindex` boolean column when ON; keep the
    # setting constant across a checkpoint's life (resume unions wave
    # deltas by schema). Default OFF: the reference follows every
    # same-site link regardless of page directives (app.py:497-538), so
    # parity mode must too.
    honor_meta_robots: bool = False


def dedup_first_wins_frontier(frontier: DataFrame) -> DataFrame:
    """A1: one row per url_hash — keep highest priority, then lowest depth
    (deterministic; discovery order is encoded in (depth, priority)).

    Physical form, MEASURED not guessed (a probe script of commit 0e901c5,
    deleted since; 48M rows / 16M keys, local[16]): the row_number window (one exchange + one
    post-shuffle sort) runs ~2x faster than the tempting
    ``groupBy(url_hash).agg(max_by(struct(...), struct(...)))`` rewrite —
    max_by over a struct buffer is not hash-aggregable, so the aggregate
    falls back to SortAggregate (a SECOND full sort on the map side), and
    its partial combine recovers almost nothing because a URL's duplicate
    discoveries come from different pages scattered across partitions
    (duplicates are not partition-local, so map-side reduction is ~nil).
    Both forms produce checksum-identical output; the window's exchange is
    on url_hash, which downstream (the seen anti-join key) reuses.

    retry_count is carried as the MAX over the group (same window
    partitioning, so no extra shuffle): a pending retry rediscovered as a
    fresh outlink (retry_count=0) must not have its retry budget reset —
    otherwise a permanently-missing URL that is re-linked every wave is
    rescheduled until max_waves instead of being dropped after
    1+max_retries attempts. The seen anti-join relies on the same max: it
    lets a row through by retry_count > 0, so a pending retry must not be
    demoted to a fresh (and already seen) outlink.

    ``host`` is DROPPED before the exchange and re-derived after the
    filter: every frontier source computes host as exactly
    ``host_of(canonical_url)`` (seeds via with_canonical_url, outlinks in
    _frontier_after, pending rows from an artifact derived the same way),
    so the recomputation is identity by construction (parse_url measured
    ≈ hash-cost, benchmarks round 5) while the dropped column is ~12% of
    the window exchange's bytes — and this exchange is the schedule
    stage's memory-bandwidth hot spot (its task time inflates ~1.66x at
    16 threads on one socket, tracking the host's memory-bandwidth parity;
    BENCH/BASELINE.md §2.2b)."""
    from bodhium_webscrapper_spark.functions.canonicalize import host_of

    cols = frontier.columns
    w = Window.partitionBy("url_hash").orderBy(
        F.col("priority").desc(), F.col("depth").asc(), F.col("retry_count").desc()
    )
    return (
        frontier.drop("host")
        .withColumn("_rn", F.row_number().over(w))
        .withColumn(
            "retry_count", F.max("retry_count").over(Window.partitionBy("url_hash"))
        )
        .filter(F.col("_rn") == 1)
        .withColumn("host", host_of(F.col("canonical_url")))
        .select(*cols)
    )


@dataclass
class WaveStats:
    wave: int
    candidates: int
    deduped: int
    scheduled: int
    fetched: int
    misses: int
    outlinks: int
    # |frontier_{t+1}| = outlinks + pending retryable misses — exact, derived
    # from footer/column reads, and persisted so the next wave (or a resume)
    # never counts the frontier with a Spark job
    next_candidates: int = field(default=0)
    seconds: float = field(default=0.0)


class CrawlJob:
    def __init__(
        self,
        spark: SparkSession,
        pages_path: str,
        seeds: DataFrame,
        robots: DataFrame | None,
        config: CrawlConfig,
        checkpoint_dir: str,
        job_id: str = "crawl",
        store=None,
        blocklist: DataFrame | None = None,
    ):
        """``store``: inject a SnapshotStore-compatible backend (e.g.
        plans.iceberg_store.IcebergSnapshotStore); default is the local
        parquet+manifest shim rooted at ``checkpoint_dir``."""
        self.spark = spark
        self.config = config
        self.store = store if store is not None else SnapshotStore(checkpoint_dir)
        self.job_id = job_id
        self.seeds = seeds
        self.robots = robots
        self._resumed_at = -1  # set by run(resume=True); lineage marker
        self._seeds_wave = -1  # wave whose frontier IS the seed list (run())
        self._rank_edges = None  # live edge cache of the latest rank blend
        # wave-invariant politeness artifacts: the flattened rules (persisted
        # and counted here) and the crawl-delay budgets (a plan, read once by
        # the persisted per-host policy table, _host_policy, so caching it
        # too would only cost a job)
        self._rules = None
        self._budgets = None
        self._robots_strategy = "broadcast"
        self._policy = None  # (table, allowed, budget): _host_policy()
        if robots is not None:
            from bodhium_webscrapper_spark.operators.politeness import host_budget_map
            from bodhium_webscrapper_spark.operators.robots import flatten_rules

            self._rules = flatten_rules(robots).persist()
            # one count at job init (not per wave) decides the join strategy
            # for every wave: rules tables past the threshold cannot be a
            # broadcast build
            if self._rules.count() > config.robots_broadcast_threshold:
                self._robots_strategy = "shuffle"
            if "crawl_delay_ms" in robots.columns:
                self._budgets = host_budget_map(
                    robots, config.max_urls_per_host_per_wave, config.wave_period_ms
                )
        # UT1/FineWeb-style blocklist (kind in {domain,substring}, pattern):
        # wave-invariant like the robots rules — persist once, count once to
        # pick the domain anti-join strategy (a 10^7-domain list cannot be a
        # broadcast build; substrings are config-sized by contract)
        self._blocklist = None
        self._blocklist_strategy = "broadcast"
        if blocklist is not None:
            self._blocklist = blocklist.persist()
            n_domains = self._blocklist.filter(F.col("kind") == "domain").count()
            if n_domains > config.robots_broadcast_threshold:
                self._blocklist_strategy = "shuffle"
        # column pruning: the fetch join needs only key + url (the link
        # resolution base) + payload (+ golden text when verifying) — never
        # lang/warc_ts
        cols = ["url_hash", "url", "html"] + (["text"] if config.verify_extraction else [])
        self.pages = spark.read.parquet(pages_path).select(*cols)
        self._bucketed_pages_path = config.bucketed_pages_path or os.path.join(
            checkpoint_dir, "_bucketed_pages"
        )
        self._bucketed = None  # (pages table, wave table): _bucketed_tables()
        # fused extract+canonicalize UDF: one Arrow pass yields text AND the
        # page's canonicalized, scope-filtered outlinks
        self._extract_udf = make_extract_page_outlinks_udf(config.domain_scope)

    # ---- wave-0 frontier from seeds (reference discovery, app.py:297-396)
    def _seed_frontier(self) -> DataFrame:
        if self.config.seeds_canonical:
            # trusted-canonical seeds: pure JVM keying — no python UDF in
            # wave 0 at all. The null-host filter mirrors the
            # canonicalizer's drop semantics for malformed rows.
            from bodhium_webscrapper_spark.functions.canonicalize import (
                host_of,
                url_key,
            )

            url = F.col("url")
            if self.config.strip_tracking:
                from bodhium_webscrapper_spark.functions.canonicalize import (
                    strip_tracking_params,
                )

                url = strip_tracking_params(url)
            return (
                self.seeds.select(
                    url_key(url).alias("url_hash"),
                    url.alias("canonical_url"),
                    host_of(url).alias("host"),
                    F.lit(0).alias("depth"),
                    F.col("priority").cast("double").alias("priority"),
                    F.lit(0).alias("retry_count"),
                )
                .filter(F.col("host").isNotNull())
            )
        seeded = with_canonical_url(self.seeds, "url")
        if self.config.strip_tracking:
            # strip AFTER the RFC 3986 rewrite (params arrive sorted, the
            # re-join stays order-stable) and re-key; host never contains
            # query text so it needs no recompute
            from bodhium_webscrapper_spark.functions.canonicalize import (
                strip_tracking_params,
                url_key,
            )

            seeded = seeded.withColumn(
                "canonical_url", strip_tracking_params(F.col("canonical_url"))
            ).withColumn("url_hash", url_key(F.col("canonical_url")))
        return (
            seeded
            .select(
                "url_hash",
                "canonical_url",
                "host",
                F.lit(0).alias("depth"),
                F.col("priority").cast("double").alias("priority"),
                F.lit(0).alias("retry_count"),
            )
        )

    def _empty(self, schema: T.StructType) -> DataFrame:
        """An empty frame of ``schema`` that lives in the JVM plan alone:
        ``limit(0)`` folds to an empty LocalRelation, so the optimizer drops
        a join against it (wave 0's seen anti-join) and no Python worker or
        Spark job ever runs for it, unlike ``createDataFrame([], schema)``."""
        return self.spark.range(1).select(
            *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields]
        ).limit(0)

    def _host_policy(self) -> tuple:
        """The per-host politeness table and its two Columns, built inside
        ``run()`` (``__init__`` stays plan-free: during the seeds count, or
        on first use when resuming) and kept for the job's life.

        The table has one row per host that has robots rules or a crawl
        delay: ``_r_host``, ``_r_rules`` (the rules array with its compiled
        regex column, ``robots.rules_table``) and ``_hb`` (the crawl-delay
        budget, ``politeness.host_budget_map``): the full outer join of
        ``_rules`` and ``_budgets`` on host, persisted. A wave then makes
        ONE join on host against it, broadcast or (above
        ``robots_broadcast_threshold``) shuffled, instead of rebuilding the
        rules array and broadcasting two tables every wave.

        Returns ``(table, allowed, budget)``: the hinted table, the RFC 9309
        verdict Column and the per-host budget Column ``_host_budget`` =
        ``coalesce(_hb, max_urls_per_host_per_wave)`` (None when the robots
        table declares no crawl delays)."""
        if self._policy is None:
            table = rules_table(self._rules)
            budget = None
            if self._budgets is not None:
                # both sides are one row per host, so the full outer join is
                # a union + one aggregation: one exchange, where a join
                # shuffles both sides (a job each under AQE)
                budgets = self._budgets.select(
                    F.col("host").alias("_r_host"), F.col("_host_budget").alias("_hb")
                )
                table = (
                    table.unionByName(budgets, allowMissingColumns=True)
                    .groupBy("_r_host")
                    .agg(
                        F.first("_r_rules", ignorenulls=True).alias("_r_rules"),
                        F.first("_hb", ignorenulls=True).alias("_hb"),
                    )
                )
                budget = F.coalesce(
                    F.col("_hb"), F.lit(self.config.max_urls_per_host_per_wave)
                ).alias("_host_budget")
            table = table.persist()
            table = (
                F.broadcast(table)
                if self._robots_strategy == "broadcast"
                else table.hint("shuffle_hash")
            )
            allowed = robots_allowed(F.col("_r_rules"), F.col("canonical_url"))
            self._policy = (table, allowed, budget)
        return self._policy

    def _bucketed_tables(self) -> tuple[str, str]:
        """The bucketed fetch path's (pages table, wave table) names, set up
        the first time a wave goes bucketed and kept for the job's life.

        Attaches the bucketed pages layout (``register_bucketed``, metadata
        only) when one exists at ``bucketed_pages_path``, and writes it
        otherwise. The rewrite is one-time work amortized across every wave
        of every run that points at the same layout — the plain-parquet
        analogue of an Iceberg pages table whose partition spec is
        bucket(N, url_hash)."""
        if self._bucketed is None:
            spark, cfg = self.spark, self.config
            pages_table = f"pages_bkt_{self.job_id}"
            bpath = self._bucketed_pages_path
            if os.path.exists(os.path.join(bpath, "_SUCCESS")):
                register_bucketed(spark, pages_table, bpath, cfg.fetch_buckets)
            else:
                write_bucketed(self.pages, pages_table, cfg.fetch_buckets, path=bpath)
            missing = set(self.pages.columns) - set(spark.table(pages_table).columns)
            if missing:
                raise ValueError(
                    f"bucketed pages layout at {bpath} lacks columns {missing} "
                    "this config needs (e.g. written without verify_extraction's "
                    "text column): rewrite it or point elsewhere"
                )
            self._bucketed = (pages_table, f"wave_scheduled_{self.job_id}")
        return self._bucketed

    _PENDING_COLS = ["url_hash", "canonical_url", "host", "depth",
                     "priority", "retry_count"]

    def _write_pending(self, wave: int, n_misses: int) -> int:
        """Materialize the wave's pending retryable misses
        (scheduled ∖ fetched, retry_count < max, stored with retry_count+1)
        as the ``pending`` artifact; returns its row count.

        Zero misses (the common case): an empty table, written driver-side.
        Small scheduled artifacts: pyarrow column reads + numpy set
        difference on the driver — no Spark job. Giant ones (beyond
        ``pending_driver_max_bytes`` on disk): one small Spark anti-join
        job, paid only by miss-bearing giant waves. Either way the artifact
        is tiny (misses only), so its consumers — the next wave's
        frontier, and the seen-set exclusion of readers outside the loop
        — are cheap reads instead of re-deriving the anti-join inside
        their own plans.
        """
        import numpy as np
        import pyarrow as pa

        cfg = self.config
        if n_misses == 0:
            empty = pa.table(
                {
                    "url_hash": pa.array([], pa.int64()),
                    "canonical_url": pa.array([], pa.string()),
                    "host": pa.array([], pa.string()),
                    "depth": pa.array([], pa.int32()),
                    "priority": pa.array([], pa.float64()),
                    "retry_count": pa.array([], pa.int32()),
                }
            )
            self.store.write_rows(wave, "pending", empty)
            return 0
        read_columns = getattr(self.store, "read_columns", None)
        artifact_bytes = getattr(self.store, "artifact_bytes", None)
        driver_ok = (
            read_columns is not None
            and artifact_bytes is not None
            and artifact_bytes(wave, "scheduled") <= cfg.pending_driver_max_bytes
        )
        if driver_ok:
            sched = read_columns(wave, "scheduled", self._PENDING_COLS)
            fetched = read_columns(wave, "page_results", ["url_hash"])
            miss_mask = ~np.isin(
                sched["url_hash"].to_numpy(), fetched["url_hash"].to_numpy()
            )
            misses = sched.filter(pa.array(miss_mask))
            retry = misses["retry_count"].to_numpy()
            keep = retry < cfg.max_retries
            misses = misses.filter(pa.array(keep))
            misses = misses.set_column(
                misses.schema.get_field_index("retry_count"),
                "retry_count",
                pa.array((retry[keep] + 1).astype(retry.dtype)),
            )
            self.store.write_rows(wave, "pending", misses)
            return misses.num_rows
        scheduled = self.store.read(self.spark, wave, "scheduled")
        fetched_keys = self.store.read(self.spark, wave, "page_results").select("url_hash")
        plan = (
            scheduled.join(fetched_keys, "url_hash", "left_anti")
            .filter(F.col("retry_count") < cfg.max_retries)
            .select(
                "url_hash", "canonical_url", "host", "depth", "priority",
                (F.col("retry_count") + 1).alias("retry_count"),
            )
        )
        self.store.write(wave, "pending", plan)
        return self.store.row_count(wave, "pending")

    def _pending_misses(self, wave: int) -> DataFrame:
        """The wave's pending-retry artifact: frontier rows with
        retry_count already +1 as stored."""
        return self.store.read(self.spark, wave, "pending")

    def _frontier_after(self, wave: int) -> DataFrame:
        """frontier_{wave+1}, DERIVED lazily from committed artifacts:
        explode(page_results.outlinks) ∪ pending retryable misses.

        The outlinks are already canonicalized (and same-host filtered) by
        the fused extraction UDF, so this plan is pure JVM — explode,
        xxhash64 keying, arithmetic. Replacing the old materialized
        frontier_next artifact removed one Spark job plus a full frontier
        write+read per wave (at 10^10 scale: 10^8-10^9 rows/wave of I/O);
        determinism is unchanged because the derivation is a pure function
        of committed data (resume replays it identically)."""
        from bodhium_webscrapper_spark.functions.canonicalize import host_of, url_key

        results = self.store.read(self.spark, wave, "page_results")
        links = results.select(
            F.col("depth").alias("parent_depth"),
            F.col("priority").alias("parent_priority"),
            F.explode(F.col("outlinks")).alias("canonical_url"),
        )
        if self.config.strip_tracking:
            # collapse tracking-param aliases BEFORE keying — the UDF's
            # outlinks are canonical (params sorted), so the strip is the
            # same order-stable JVM rewrite the seed path applies
            from bodhium_webscrapper_spark.functions.canonicalize import (
                strip_tracking_params,
            )

            links = links.withColumn(
                "canonical_url", strip_tracking_params(F.col("canonical_url"))
            )
        outl = links.select(
            url_key(F.col("canonical_url")).alias("url_hash"),
            "canonical_url",
            host_of(F.col("canonical_url")).alias("host"),
            (F.col("parent_depth") + 1).alias("depth"),
            (F.col("parent_priority") * F.lit(PRIORITY_DECAY)).alias("priority"),
            F.lit(0).alias("retry_count"),
        )
        cfg = self.config
        if cfg.rank_priority_every and (wave + 1) % cfg.rank_priority_every == 0:
            from bodhium_webscrapper_spark.operators.pagerank import (
                pagerank_fixed_point,
            )

            # edges over EVERY committed wave: src = fetched page's key,
            # dst = outlink key (already-canonical strings -> pure JVM
            # keying). PERSISTED: the unrolled rank plan references edges
            # ~(3*iterations+2) times (contribs per iteration, nodes via
            # union+distinct, outdeg) inside the single schedule action —
            # block-level get-or-compute makes every reference after the
            # first read the cache instead of re-scanning the committed
            # page_results history. The previous blend's cache is released
            # here (and at run() end) so at most one edge cache is live.
            results_all = self.store.read_deltas(self.spark, "page_results", wave)
            dst_url = F.col("_u")
            if cfg.strip_tracking:
                # dst keys must match the stripped frontier keys, else the
                # rank join misses every merged alias
                from bodhium_webscrapper_spark.functions.canonicalize import (
                    strip_tracking_params,
                )

                dst_url = strip_tracking_params(dst_url)
            edges = results_all.select(
                F.col("url_hash").alias("src"),
                F.explode(F.col("outlinks")).alias("_u"),
            ).select("src", url_key(dst_url).alias("dst"))
            from pyspark import StorageLevel

            if self._rank_edges is not None:
                self._rank_edges.unpersist()
            self._rank_edges = edges.persist(StorageLevel.MEMORY_AND_DISK)
            ranks = pagerank_fixed_point(
                self._rank_edges, iterations=RANK_ITERATIONS
            ).withColumnRenamed("id", "url_hash")
            # blend ONLY the freshly-derived outlinks: pending retries
            # re-enter with the priority they were scheduled at (already
            # blended on their discovery wave) — blending the union would
            # add the bonus again on every retry, letting a repeatedly
            # missed URL outrank equally-authoritative fresh links purely
            # by retry count
            outl = (
                outl.join(ranks, "url_hash", "left")
                .withColumn(
                    "priority",
                    F.col("priority")
                    + F.lit(cfg.rank_priority_weight)
                    * F.coalesce(F.col("rank"), F.lit(0)).cast("double")
                    / F.lit(1e6),
                )
                .drop("rank")
            )
        return outl.unionByName(self._pending_misses(wave))

    # ---- one wave = one pure dataflow, materialized once into the snapshot
    def _run_wave(
        self,
        wave: int,
        frontier: DataFrame,
        seen: DataFrame,
        n_candidates: int,
    ) -> WaveStats:
        """Each heavy plan is written straight to the wave snapshot and read
        back — the snapshot IS the cache (one materialization per stage, no
        localCheckpoint double-compute), plans stay O(1), commits idempotent.

        Counting discipline: NO .count() actions in the loop. Every count
        the stats need is either passed in (``n_candidates`` — run()'s seeds
        count, or the previous wave's derived next_candidates) or read
        driver-side from the parquet footers/columns of an artifact the wave writes anyway
        (``store.row_count`` / ``column_sum`` / ``partition_metrics``). Each
        removed count was a full Spark job of fixed driver latency — the
        dominant per-wave cost at small wave sizes and the reason round-1
        scaling efficiency collapsed to 0.39. The wave runs two actions —
        the scheduled write and the page_results write — plus, on a wave
        above ``broadcast_wave_threshold``, one narrow third: the
        numeric-only (32 B/row) bucketed wave-table write, read back from
        the scheduled artifact's footers rather than recomputed. AQE runs
        each exchange and broadcast of an action as a job of its own: 5
        schedule jobs per wave ≥1 (6 on wave 0) + 2 fetch jobs as measured
        (the list is in the module docstring).
        """
        cfg = self.config
        t0 = time.time()
        timings: dict[str, float] = {}

        def mark(step: str, t_start: float) -> float:
            now = time.time()
            timings[step] = round(now - t_start, 2)
            return now

        # phase labels land in the event log (spark.job.description) so a
        # scaling pair can be decomposed into per-phase job walls + driver
        # gaps offline — zero-cost observability, no extra actions
        sc = self.spark.sparkContext
        sc.setJobDescription(f"w{wave}:schedule")

        # schedule: dedup -> seen anti-join -> robots -> per-host budget ->
        # global cap. Adaptive physical choices (all semantics-preserving):
        # - seen small enough to broadcast -> broadcast-hash anti-join;
        #   above seen_broadcast_threshold -> exact shuffle anti-join.
        # - host-hash salting only kicks in above an activation threshold —
        #   below it, per-host partitions are small enough that the second
        #   window pass would be pure overhead.
        if wave == self._seeds_wave and cfg.seeds_distinct:
            # declared-distinct seeds: first-wins dedup is vacuous — skip
            # the wave's dominant exchange+sort (see CrawlConfig)
            deduped = frontier
        else:
            deduped = dedup_first_wins_frontier(frontier)
        # the real deduplicated count, computed by the scheduled write
        # itself (no extra job): read after the write below
        dedup_obs = Observation()
        counted = deduped.observe(dedup_obs, F.count(F.lit(1)).alias("n"))
        seen_keys = seen.select("url_hash")
        if self._total_seen <= cfg.seen_broadcast_threshold:
            seen_keys = F.broadcast(seen_keys)
        # only the previous wave's pending retries carry retry_count > 0
        # (seeds and outlinks enter with 0, and the dedup keeps each key's
        # max), so they pass a seen set that still holds their keys
        new = counted.join(
            seen_keys,
            (counted["url_hash"] == seen_keys["url_hash"]) & (counted["retry_count"] == 0),
            "left_anti",
        )
        # robots verdict + crawl-delay budget: one join on host against the
        # per-run policy table (see _host_policy)
        gated, budget_col = new, None
        if self._rules is not None:
            table, allowed, budget = self._host_policy()
            extra = [] if budget is None else [budget]
            gated = (
                new.join(table, F.col("host") == F.col("_r_host"), "left")
                .filter(allowed)
                .select(*new.columns, *extra)
            )
            budget_col = None if budget is None else "_host_budget"
        if self._blocklist is not None:
            from bodhium_webscrapper_spark.operators.blocklist import blocklist_gate

            gated = blocklist_gate(
                gated, self._blocklist, strategy=self._blocklist_strategy
            )
        huge_wave = n_candidates > cfg.salt_activation_threshold
        salt = cfg.salt_buckets if huge_wave else 1
        # huge waves: count-split the politeness window (only over-budget
        # hosts — the Zipf head — pay the sort; the tail passes through
        # sort-free). The split consumes the gated frontier three times
        # (counts, semi, anti), so it is persisted for the write's duration
        # — MEMORY_AND_DISK, a 10^8-row wave spills rather than recomputes
        # the dedup window. Below the threshold the plain two-phase window
        # is cheaper than a cache + extra aggregation.
        gate_cache = None
        if huge_wave:
            from pyspark import StorageLevel

            gated = gated.persist(StorageLevel.MEMORY_AND_DISK)
            gate_cache = gated
        capped = per_host_budget(
            gated,
            cfg.max_urls_per_host_per_wave,
            host_col="host",
            salt_buckets=salt,
            budget_col=budget_col,
            count_split=huge_wave,
        )
        if cfg.global_wave_limit:
            # small caps: TakeOrdered (per-partition top-k + driver merge);
            # giant caps: exact threshold-filter form — no single-partition
            # stage (operators/politeness.global_ordered_cap)
            capped = global_ordered_cap(capped, cfg.global_wave_limit)
        # tag the wave id only: the wave sequence number is NOT materialized
        # in the hot loop. The order contract is the sort key (priority DESC,
        # url_hash ASC), a pure function of the data, so crawl_order()
        # computes seq lazily at read/verify time; a global sort + count
        # here would cost one shuffle and two jobs per wave
        self.store.write(wave, "scheduled", capped.withColumn("wave", F.lit(wave)))
        dedup_metrics = observed(dedup_obs)
        # None: the observed stage was dropped (a wave that schedules
        # nothing), and only such a wave counts its deduped frontier itself
        n_deduped = dedup_metrics["n"] if dedup_metrics else deduped.count()
        if gate_cache is not None:  # count-split cache served the write
            gate_cache.unpersist()
        n_scheduled = self.store.row_count(wave, "scheduled")  # footer, no job
        # the fetch path, picked from the footer count: a wave too big to
        # broadcast takes the bucketed join wherever the store can write a
        # bucketed artifact (see broadcast_wave_threshold)
        bucketed = n_scheduled > cfg.broadcast_wave_threshold and hasattr(
            self.store, "write_bucketed"
        )
        scheduled = self.store.read(self.spark, wave, "scheduled")
        if bucketed:
            sc.setJobDescription(f"w{wave}:bucketed_twin")
            pages_table, wave_table = self._bucketed_tables()
            # NARROW bucketed twin for the fetch side (r5): the durable
            # ``scheduled`` artifact above is written plainly — no exchange,
            # straight from the politeness output partitioning — and the
            # wave TABLE the storage-partitioned join consumes is derived
            # from it by a footer-pruned read-back of the numeric columns
            # only (url_hash/depth/priority/wave, 32 B/row). The bucket-hash
            # exchange + bucket sort + second write therefore move ints, not
            # the ~100 B/row of canonical_url+host strings — the narrow-int
            # shuffle is the shape this host (and a real cluster's network)
            # scales best, and the strings are re-derived JVM-side from
            # pages.url at fetch time exactly as the broadcast path does
            # (url_hash equality implies string equality — the engine merges
            # 64-bit collisions identically everywhere).
            self.store.write_bucketed(
                wave,
                "scheduled_bkt",
                scheduled.select("url_hash", "depth", "priority", "wave"),
                wave_table,
                cfg.fetch_buckets,
            )
        t = mark("schedule", t0)
        sc.setJobDescription(f"w{wave}:fetch_extract")

        # fetch: pages are NEVER shuffled per wave, whatever its size.
        #   1. a wave up to broadcast_wave_threshold is broadcast with its
        #      NUMERIC attributes (32 B/row) into a hash probe of pages: the
        #      100 TB side is scanned once and probed in place, and ONE
        #      inner join both prunes pages and attaches depth/priority/
        #      wave. A bigger wave joins bucket b of its narrow wave table
        #      against bucket b of pages: no broadcast (nothing
        #      driver-serial), no exchange, no sort.
        #   2. ONE fused pandas-UDF pass over the pruned pages extracts text
        #      AND resolves+canonicalizes the outlinks (html never travels
        #      past this projection, and outlink canonicalization shares its
        #      Arrow batch — no second UDF pass, no separate frontier job).
        #   3. canonical_url/host are never broadcast or shuffled at all:
        #      both sides key on url_hash == xxhash64(<canonical string>),
        #      so a fetch match implies pages.url IS the scheduled
        #      canonical_url (the engine merges 64-bit collisions
        #      identically everywhere), and host is re-derived with the
        #      same host_of expression that produced it.
        from bodhium_webscrapper_spark.functions.canonicalize import host_of

        derived_cols = [
            F.col("url").alias("canonical_url"),
            host_of(F.col("url")).alias("host"),
        ]
        extract_cols = [F.col("_page.text").alias("text")]
        if cfg.honor_meta_robots:
            # in-page REP directives, JVM regexp over the html already in
            # this projection (html still never travels past it): nofollow
            # zeroes the page's outlink contribution AND its n_links (the
            # footer-summed count_next must agree with the exploded
            # frontier); noindex rides along as a column for extracted()
            from bodhium_webscrapper_spark.functions.extract import (
                meta_robots_cols,
            )

            noindex_c, nofollow_c = meta_robots_cols(
                F.col("html").cast("string")
            )
            extract_cols += [
                F.when(nofollow_c, F.array().cast("array<string>"))
                .otherwise(F.col("_page.outlinks"))
                .alias("outlinks"),
                F.when(nofollow_c, F.lit(0))
                .otherwise(F.size(F.col("_page.outlinks")))
                .alias("n_links"),
                noindex_c.alias("noindex"),
            ]
        else:
            extract_cols += [
                F.col("_page.outlinks").alias("outlinks"),
                F.size(F.col("_page.outlinks")).alias("n_links"),
            ]
        if cfg.verify_extraction:
            extract_cols.append(
                F.col("_page.text").eqNullSafe(F.col("text")).alias("golden_ok")
            )
        if bucketed:
            # bucket b of the (narrow, numeric-only) wave table streams
            # against bucket b of pages. canonical_url/host are re-derived
            # JVM-side from pages.url, same as the broadcast path, so
            # strings never enter the wave table's bucket shuffle at all.
            joined = bucketed_fetch_join(self.spark, pages_table, wave_table)
        else:
            attrs = F.broadcast(
                scheduled.select("url_hash", "depth", "priority", "wave")
            )
            joined = self.pages.join(attrs, "url_hash")
        fetch_plan = (
            joined.withColumn("_page", self._extract_udf(F.col("html"), F.col("url")))
            .select(
                F.col("url_hash"),
                *derived_cols,
                F.col("depth"),
                F.col("priority"),
                F.col("wave"),
                *extract_cols,
            )
        )
        # the bucketed join elides its sorts only while it plans and runs
        # under bucket_ordering (scoped: the session value is restored)
        with bucket_ordering(self.spark) if bucketed else nullcontext():
            self.store.write(wave, "page_results", fetch_plan)
        n_fetched = self.store.row_count(wave, "page_results")  # footer, no job
        if cfg.verify_extraction:
            results = self.store.read(self.spark, wave, "page_results")
            mismatches = results.filter(~F.col("golden_ok")).count()
            if mismatches:
                raise AssertionError(
                    f"wave {wave}: {mismatches} rows differ from golden extractor output"
                )
        t = mark("fetch_extract", t)

        # pending retryable misses, MATERIALIZED as a (tiny) wave artifact:
        # misses = scheduled ∖ fetched with retry budget left, stored in
        # frontier-row form (retry_count already incremented). Keeping this
        # as a stored artifact instead of a lazy anti-join plan removes a
        # whole broadcast-build sub-job from every subsequent schedule stage
        # (the next wave's frontier just READS it) — that sub-job was ~half
        # the schedule stage's parallelism-independent cost. The zero-miss
        # wave (the common case) costs nothing at all.
        sc.setJobDescription(f"w{wave}:count_next")
        n_misses = n_scheduled - n_fetched
        # the two driver-side reads are independent (pending reads the
        # scheduled artifact + fetched keys; the sum reads one int64 column
        # of page_results) and both release the GIL inside pyarrow — run
        # them concurrently so a miss-bearing giant wave pays max(), not
        # sum(), of the two
        with ThreadPoolExecutor(max_workers=1) as pool:
            sum_f = pool.submit(
                self.store.column_sum, wave, "page_results", "n_links"
            )
            n_pending = self._write_pending(wave, n_misses)
            # |frontier_{t+1}| exactly, zero Spark jobs: outlink rows from
            # the n_links column sum + the pending artifact's footer count
            n_outlinks = sum_f.result()
        next_candidates = n_outlinks + n_pending
        t = mark("count_next", t)
        # clear the phase label: it is sticky per-context, so without this
        # every job AFTER the loop (bench queries, compaction, user code in
        # the same session) would be attributed to "w<N>:count_next" in the
        # event log — corrupting the very per-phase decomposition
        # (perfbench/eventlog.py) the labels exist to enable
        sc.setJobDescription(None)

        stats = WaveStats(
            wave=wave,
            candidates=n_candidates,
            deduped=n_deduped,
            scheduled=n_scheduled,
            fetched=n_fetched,
            misses=n_misses,
            outlinks=n_outlinks,
            next_candidates=next_candidates,
            seconds=round(time.time() - t0, 3),
        )
        # S9: orchestration event trail (reference: DynamoDB events,
        # app.py:817-860) — driver-side rows, rewritten idempotently with
        # the wave, so a crash+resume replays no duplicate events
        events: list[tuple[str, dict]] = []
        if self._resumed_at == wave:
            events.append(("resume", {"from_wave": wave - 1}))
        events.append(("wave_start", {"candidates": n_candidates}))
        events.append(
            (
                "wave_commit",
                {
                    "scheduled": n_scheduled,
                    "fetched": n_fetched,
                    "misses": n_misses,
                    "seconds": stats.seconds,
                },
            )
        )
        # wave finalize — per-partition metrics (footer/metadata reads via
        # the store seam: the shim answers from parquet footers,
        # IcebergSnapshotStore from its .files metadata table — the loop
        # never assumes wave_dir() is a filesystem path), lineage rows, and
        # the manifest commit. Every input (the wave's artifacts) is already
        # durably written and every count already extracted, so NONE of it
        # is on the next wave's data path: it runs on a background thread,
        # overlapping the next wave's schedule job. This is ~0.5-1 s/wave of
        # parallelism-INDEPENDENT driver latency — exactly the fixed cost
        # that caps N->4N scaling efficiency at small wave sizes. Commit
        # order is preserved (the loop joins thread t before spawning t+1),
        # so a crash mid-finalize just leaves wave t uncommitted and resume
        # redoes it idempotently — the same contract as a crash mid-wave.
        def finalize() -> None:
            import pyarrow as pa

            t_fin = time.time()
            rows = [
                (wave, "scheduled", pid, n, b)
                for (pid, n, b) in self.store.partition_metrics(wave, "scheduled")
            ] + [
                (wave, "fetched", pid, n, b)
                for (pid, n, b) in self.store.partition_metrics(
                    wave, "page_results", bytes_col="text"
                )
            ]
            self.store.write_rows(
                wave,
                "metrics",
                pa.table(
                    {
                        "wave": pa.array([r[0] for r in rows], pa.int32()),
                        "stage": pa.array([r[1] for r in rows], pa.string()),
                        "partition_id": pa.array([r[2] for r in rows], pa.int32()),
                        "rows": pa.array([r[3] for r in rows], pa.int64()),
                        "bytes": pa.array([r[4] for r in rows], pa.int64()),
                    }
                ),
            )
            self.store.write_rows(
                wave, "lineage", lineage_rows_table(self.job_id, wave, events)
            )
            timings["commit_async"] = round(time.time() - t_fin, 2)
            self.store.commit_wave(wave, {**stats.__dict__, "timings": timings})

        self._spawn_finalize(finalize)
        return stats

    # ---- background wave-finalize lifecycle (metrics/lineage/commit)
    def _spawn_finalize(self, fn) -> None:
        import threading

        self._join_finalize()  # one in flight: commits stay ordered

        def wrapped() -> None:
            try:
                fn()
            except BaseException as e:  # surfaced at the next join
                self._finalize_err = e

        self._finalize_err = None
        t = threading.Thread(target=wrapped, name="wave-finalize", daemon=True)
        t.start()
        self._finalize_thread = t

    def _join_finalize(self) -> None:
        t = getattr(self, "_finalize_thread", None)
        if t is not None:
            t.join()
            self._finalize_thread = None
            err = getattr(self, "_finalize_err", None)
            if err is not None:
                self._finalize_err = None
                raise err

    def run(self, resume: bool = False) -> dict:
        """Run (or resume) the wave loop; returns a summary dict."""
        cfg = self.config
        committed = self.store.committed_wave()
        n_frontier: int | None = None  # derived count; None = seeds wave
        self._resumed_at = committed + 1 if (resume and committed >= 0) else -1
        # seeds-wave marker: wave 0 of a fresh run is the only wave whose
        # frontier is the raw seed list (seeds_distinct applies there only)
        self._seeds_wave = -1 if (resume and committed >= 0) else 0
        if resume and committed >= 0:
            # checkpoint-format guard: resuming against a manifest written
            # by an older engine (no ``pending`` artifact, stats without
            # ``next_candidates``) must fail HERE with a format error, not
            # waves later with an opaque path-not-found from the first
            # frontier read
            fmt = self.store.manifest().get("format")
            if fmt != CHECKPOINT_FORMAT:
                raise ValueError(
                    f"checkpoint format {fmt!r} != engine format "
                    f"{CHECKPOINT_FORMAT}: this checkpoint was committed by "
                    "an incompatible engine version (pre-pending-artifact "
                    "layout); re-run from scratch or migrate the snapshot"
                )
            start = committed + 1
            frontier = self._frontier_after(committed)
            n_frontier = self.store.manifest()["waves"][str(committed)].get(
                "next_candidates"
            )
            seen = self._scheduled_upto(committed)
            seed_cache = None
        else:
            start = 0
            # persisted across the seeds wave's TWO consumers (the exact
            # candidates count and the schedule job): without it the seed
            # canonicalization UDF runs twice — at full-dump seeding
            # (10^7-10^8 seeds) that is a whole duplicated Arrow pass.
            # MEMORY_AND_DISK: a giant seed frontier may exceed executor
            # storage; spilling beats recomputing the python UDF. With
            # seeds_canonical there is no UDF to amortize — recomputing the
            # JVM expressions is cheaper than writing the cache.
            frontier = self._seed_frontier()
            seed_cache = None
            if not cfg.seeds_canonical:
                from pyspark import StorageLevel

                frontier = frontier.persist(StorageLevel.MEMORY_AND_DISK)
                seed_cache = frontier
            seen = self._empty(SEEN_SCHEMA)

        total_scheduled = sum(
            s.get("scheduled", 0) for s in self.store.manifest()["waves"].values()
        ) if resume else 0
        self._total_seen = total_scheduled
        total_candidates = 0
        waves_run = []
        loop_overhead: list[float] = []
        t_tail = time.time()
        for wave in range(start, cfg.max_waves):
            loop_overhead.append(round(time.time() - t_tail, 3))
            if n_frontier is None:
                # seeds wave only: ONE count action doubles as the
                # empty-check and the seed-cache materialization (an
                # isEmpty() here used to run the canonicalization UDF a
                # second time just to probe for a row). Must count the
                # CANONICALIZED frontier — with_canonical_url drops
                # null/hostless/non-http seeds, so a raw seeds.count()
                # would overstate candidates and mis-trigger salting.
                # The count's jobs leave the driver idle: plan the per-host
                # policy table on a second thread meanwhile.
                with ThreadPoolExecutor(max_workers=1) as pool:
                    policy = (
                        pool.submit(self._host_policy) if self._rules is not None else None
                    )
                    n_frontier = frontier.count()
                    if policy is not None:
                        policy.result()
            if n_frontier == 0:
                break
            stats = self._run_wave(wave, frontier, seen, n_candidates=n_frontier)
            if seed_cache is not None:  # seeds wave committed; cache served
                seed_cache.unpersist()  # its count + schedule actions
                seed_cache = None
            t_tail = time.time()
            waves_run.append(stats)
            total_scheduled += stats.scheduled
            total_candidates += stats.candidates
            self._total_seen = total_scheduled
            # re-read state from the snapshot: flat lineage, O(1) plans
            if cfg.compact_seen_every and (wave + 1) % cfg.compact_seen_every == 0:
                # compaction rewrites the scheduled delta dirs the in-flight
                # finalize thread is reading footers from — settle it first
                self._join_finalize()
                self.store.compact_deltas(self.spark, "scheduled", wave)
            frontier = self._frontier_after(wave)
            n_frontier = stats.next_candidates
            seen = self._scheduled_upto(wave)

        if seed_cache is not None:  # empty-seeds break before wave 0 ran
            seed_cache.unpersist()
        self._join_finalize()  # last wave's commit lands before we report
        if self._rank_edges is not None:
            self._rank_edges.unpersist()
            self._rank_edges = None
        return {
            "job_id": self.job_id,
            "waves": [s.__dict__ for s in waves_run],
            "committed_wave": self.store.committed_wave(),
            "total_scheduled": total_scheduled,
            "total_candidates": total_candidates,
            # driver-side time between waves (read-backs, seen projection,
            # manifest) — the loop's fixed-cost observability
            "loop_overhead": loop_overhead,
        }

    # ---- readers over the committed snapshot
    def crawl_order(self) -> DataFrame:
        """(wave, seq, canonical_url) in exact crawl order — seq materialized
        here (read/verify time), not in the hot loop."""
        df = self.store.read_deltas(self.spark, "scheduled", self.store.committed_wave())
        w = Window.partitionBy("wave").orderBy(
            F.col("priority").desc(), F.col("url_hash").asc()
        )
        return (
            df.withColumn("seq", F.row_number().over(w))
            .select("wave", "seq", "canonical_url")
            .orderBy("wave", "seq")
        )

    def _scheduled_upto(self, wave: int) -> DataFrame:
        """Everything scheduled up to ``wave``, duplicates and all: the seen
        side of the wave loop's anti-join. The wave's pending retries are
        in it too; the anti-join lets them through by their retry_count."""
        df = self.store.read_deltas(self.spark, "scheduled", wave)
        return df.select("url_hash", F.col("canonical_url").alias("url"))

    def _seen_upto(self, wave: int) -> DataFrame:
        """Seen = everything scheduled so far MINUS pending retries.

        A fetch-miss re-enters frontier_{wave+1} with retry_count+1, so it
        is not seen yet. Pending retries can only originate from the LATEST
        committed wave (an older miss either got rescheduled later, or
        exhausted max_retries and stays seen → permanently dropped), so one
        small anti-join against that wave's retryable misses gives the
        permanently-seen set. Readers outside the loop use it; the loop
        itself anti-joins ``_scheduled_upto`` by retry_count instead."""
        seen = self._scheduled_upto(wave)
        if self.store.has_artifact(wave, "pending"):
            pending = self._pending_misses(wave).select("url_hash")
            seen = seen.join(F.broadcast(pending), "url_hash", "left_anti")
        return seen

    def seen_set(self) -> DataFrame:
        """Distinct permanently-seen URLs. A retried URL appears in several
        waves' scheduled deltas; the anti-join in the hot loop tolerates the
        duplicates, the reporting contract here does not. A group-by, not
        ``dropDuplicates(["url_hash"])``: Spark 4.1 cannot plan a subset
        ``dropDuplicates`` under ``exceptAll`` (INTERNAL_ERROR, attribute
        not found), and url is a function of url_hash, so min(url) is the
        one url of each key."""
        return (
            self._seen_upto(self.store.committed_wave())
            .groupBy("url_hash")
            .agg(F.min("url").alias("url"))
        )

    def extracted(self) -> DataFrame:
        df = self.store.read_deltas(self.spark, "page_results", self.store.committed_wave())
        if self.config.honor_meta_robots and "noindex" in df.columns:
            # the S5 corpus view honors the page's own noindex ask; the
            # raw page_results artifact keeps the row (its links were
            # still followed, and resume/metrics count it as fetched)
            df = df.filter(~F.col("noindex"))
        return df.select("url_hash", "canonical_url", "wave", "text")

    def metrics(self) -> DataFrame:
        return self.store.read_deltas(self.spark, "metrics", self.store.committed_wave())

    def lineage(self) -> DataFrame:
        """Orchestration event trail: one wave_start + wave_commit row per
        committed wave (plus a resume row on the first wave of a resumed
        run) — the engine's DynamoDB-events analogue (app.py:817-860)."""
        return self.store.read_deltas(self.spark, "lineage", self.store.committed_wave())
