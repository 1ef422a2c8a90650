"""End-to-end crawl replay (SURVEY.md §5 test 3) + resume determinism (§5 test 4)."""

import os

from pyspark.sql import functions as F

from bodhium_webscrapper_spark.plans.frontier import CrawlConfig, CrawlJob


def _mk_job(spark, crawl_fixture, tmp_path, name, **cfg_kwargs):
    seeds = spark.read.parquet(crawl_fixture["seeds"])
    robots = spark.read.parquet(crawl_fixture["robots"])
    defaults = dict(
        max_urls_per_host_per_wave=5,
        max_waves=4,
        global_wave_limit=500,
        verify_extraction=True,
    )
    defaults.update(cfg_kwargs)
    cfg = CrawlConfig(**defaults)
    return CrawlJob(
        spark,
        crawl_fixture["pages"],
        seeds,
        robots,
        cfg,
        os.path.join(str(tmp_path), name),
    )


def _order_tuples(job):
    return [
        (r.wave, r.seq, r.canonical_url)
        for r in job.crawl_order().collect()
    ]


def test_e2e_crawl(spark, crawl_fixture, tmp_path):
    job = _mk_job(spark, crawl_fixture, tmp_path, "a")
    summary = job.run()
    assert summary["committed_wave"] >= 1
    assert summary["total_scheduled"] > 50

    order = _order_tuples(job)
    # deterministic sequence, no gaps per wave
    waves = {}
    for w, s, u in order:
        waves.setdefault(w, []).append(s)
    for w, seqs in waves.items():
        assert seqs == list(range(1, len(seqs) + 1))

    # seen set has no duplicate hashes and covers exactly the distinct
    # scheduled urls minus retries still pending after the final wave:
    # the next wave would schedule those again, though the loop's own
    # seen side (_scheduled_upto) keeps their keys
    seen = [r.url_hash for r in job.seen_set().collect()]
    assert len(seen) == len(set(seen))
    final = job.store.committed_wave()
    pending = {r.url_hash for r in job._pending_misses(final).select("url_hash").collect()}
    assert pending  # the fixture's /p{i} links miss from wave 2 on
    assert pending.isdisjoint(seen)
    scheduled = {
        r.url_hash
        for r in job.store.read_deltas(spark, "scheduled", final).select("url_hash").collect()
    }
    assert set(seen) == scheduled - pending

    # politeness: never more than budget urls per host per wave
    per_host = (
        job.crawl_order()
        .withColumn("host", F.parse_url("canonical_url", F.lit("HOST")))
        .groupBy("wave", "host")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    assert per_host <= 5

    # robots: scheduled urls must not violate any host's disallow prefixes
    robots = spark.read.parquet(crawl_fixture["robots"])
    order_df = job.crawl_order().withColumn(
        "host", F.parse_url("canonical_url", F.lit("HOST"))
    ).withColumn("path", F.parse_url("canonical_url", F.lit("PATH")))
    bad = (
        order_df.join(robots, "host")
        .filter(F.exists("disallow_prefixes", lambda p: F.startswith(F.col("path"), p)))
        .count()
    )
    assert bad == 0
    # the megahost /p3 subtree specifically must be gated (big visible rule)
    assert (
        job.crawl_order()
        .filter(F.col("canonical_url").startswith("https://megahost.example/p3"))
        .count()
        == 0
    )

    # extraction rows exist and verify_extraction already asserted
    # byte-identity inside the waves
    assert job.extracted().count() == len(order) - summary["waves"][-1]["misses"] - sum(
        w["misses"] for w in summary["waves"][:-1]
    )

    # metrics emitted per wave
    m = job.metrics()
    assert m.filter(F.col("stage") == "scheduled").count() > 0


def test_same_run_is_identical(spark, crawl_fixture, tmp_path):
    j1 = _mk_job(spark, crawl_fixture, tmp_path, "r1")
    j1.run()
    j2 = _mk_job(spark, crawl_fixture, tmp_path, "r2")
    j2.run()
    assert _order_tuples(j1) == _order_tuples(j2)


def test_resume_determinism(spark, crawl_fixture, tmp_path):
    """Kill after wave 1, resume → identical order + seen set vs cold run."""
    full = _mk_job(spark, crawl_fixture, tmp_path, "full")
    full.run()

    partial = _mk_job(spark, crawl_fixture, tmp_path, "partial", max_waves=2)
    partial.run()  # "killed" after wave 1 (max_waves=2)
    resumed = _mk_job(spark, crawl_fixture, tmp_path, "partial")
    resumed.run(resume=True)

    assert _order_tuples(resumed) == _order_tuples(full)
    a = sorted(r.url_hash for r in resumed.seen_set().collect())
    b = sorted(r.url_hash for r in full.seen_set().collect())
    assert a == b


def test_crash_mid_wave_resume(spark, crawl_fixture, tmp_path):
    """A crash AFTER wave files are written but BEFORE the manifest commit
    must leave the store resumable: the partial wave dir is ignored,
    re-run idempotently, and the final state matches an uninterrupted run."""
    import shutil

    full = _mk_job(spark, crawl_fixture, tmp_path, "cfull")
    full.run()

    crashed = _mk_job(spark, crawl_fixture, tmp_path, "ccrash", max_waves=2)
    crashed.run()
    # simulate a crash during wave 2: partial files exist, manifest not bumped
    w2 = crashed.store.wave_dir(2, "scheduled")
    shutil.copytree(crashed.store.wave_dir(1, "scheduled"), w2)
    assert crashed.store.committed_wave() == 1  # manifest unaffected

    resumed = _mk_job(spark, crawl_fixture, tmp_path, "ccrash")
    resumed.run(resume=True)
    assert _order_tuples(resumed) == _order_tuples(full)
    a = sorted(r.url_hash for r in resumed.seen_set().collect())
    b = sorted(r.url_hash for r in full.seen_set().collect())
    assert a == b


def test_miss_retry_rescheduled(spark, crawl_fixture, tmp_path):
    """A fetch-miss must be re-scheduled in a later wave, at most
    1 + max_retries times total (the wave equation's retry term)."""
    job = _mk_job(spark, crawl_fixture, tmp_path, "retry", max_waves=6)
    summary = job.run()
    total_misses = sum(w["misses"] for w in summary["waves"])
    assert total_misses > 0  # fixture 404s (links to /p{i} vs /private/p{i})

    per_url = job.crawl_order().groupBy("canonical_url").count()
    rescheduled = per_url.filter(F.col("count") > 1)
    # only misses can be scheduled twice (seen anti-join blocks everything
    # else), so retries being alive <=> some URL appears in several waves
    assert rescheduled.count() > 0
    assert (
        rescheduled.agg(F.max("count")).first()[0]
        <= 1 + job.config.max_retries
    )


def test_crawl_delay_reduces_schedule_e2e(spark, crawl_fixture, tmp_path):
    """W3 e2e: with a short wave period, hosts declaring crawl_delay_ms=1000
    must schedule at most wave_period/delay URLs per wave while undelayed
    hosts use the full budget."""
    job = _mk_job(
        spark, crawl_fixture, tmp_path, "delay", wave_period_ms=2000
    )
    job.run()
    robots = spark.read.parquet(crawl_fixture["robots"])
    delayed_hosts = robots.filter(F.col("crawl_delay_ms") >= 1000).select("host")
    per_wave_host = (
        job.crawl_order()
        .withColumn("host", F.parse_url("canonical_url", F.lit("HOST")))
        .groupBy("wave", "host")
        .count()
    )
    slow = per_wave_host.join(delayed_hosts, "host")
    fast = per_wave_host.join(delayed_hosts, "host", "left_anti")
    assert slow.count() > 0, "fixture must exercise some delayed host"
    assert slow.agg(F.max("count")).first()[0] <= 2  # 2000 // 1000
    assert fast.agg(F.max("count")).first()[0] == 5  # full budget


def test_lineage_events(spark, crawl_fixture, tmp_path):
    """S9: one wave_start + wave_commit event per committed wave; resume
    writes a single resume marker and replays no duplicates."""
    full = _mk_job(spark, crawl_fixture, tmp_path, "lfull")
    full.run()
    lin = full.lineage()
    n_waves = full.store.committed_wave() + 1
    assert lin.filter(F.col("event") == "wave_commit").count() == n_waves
    assert lin.filter(F.col("event") == "wave_start").count() == n_waves
    assert lin.filter(F.col("event") == "resume").count() == 0

    partial = _mk_job(spark, crawl_fixture, tmp_path, "lpart", max_waves=2)
    partial.run()
    resumed = _mk_job(spark, crawl_fixture, tmp_path, "lpart")
    resumed.run(resume=True)
    lin2 = resumed.lineage()
    n_waves2 = resumed.store.committed_wave() + 1
    assert lin2.filter(F.col("event") == "wave_commit").count() == n_waves2
    # idempotent re-commit: no (wave, event) pair appears twice
    dups = lin2.groupBy("wave", "event").count().filter(F.col("count") > 1)
    assert dups.count() == 0
    resume_rows = lin2.filter(F.col("event") == "resume").collect()
    assert len(resume_rows) == 1 and resume_rows[0]["wave"] == 2

    # details map survives the round trip
    row = lin2.filter(
        (F.col("wave") == 0) & (F.col("event") == "wave_commit")
    ).first()
    assert int(row["details"]["scheduled"]) > 0


def test_shuffle_seen_resume_identical(spark, crawl_fixture, tmp_path):
    """Resume with the exact shuffle anti-join (threshold 0: the path past
    seen_broadcast_threshold) must replay the identical crawl order from
    the committed scheduled deltas alone — no wave writes any artifact
    beyond them (in particular no ``bloom`` directory)."""
    full = _mk_job(spark, crawl_fixture, tmp_path, "sfull", seen_broadcast_threshold=0)
    full.run()

    partial = _mk_job(
        spark, crawl_fixture, tmp_path, "spart", seen_broadcast_threshold=0, max_waves=2
    )
    partial.run()
    assert partial.store.committed_wave() == 1

    resumed = _mk_job(spark, crawl_fixture, tmp_path, "spart", seen_broadcast_threshold=0)
    resumed.run(resume=True)
    assert resumed.store.committed_wave() == full.store.committed_wave() >= 2
    assert _order_tuples(resumed) == _order_tuples(full)
    for job in (full, resumed):
        for wave in range(job.store.committed_wave() + 1):
            assert not os.path.exists(job.store.wave_dir(wave, "bloom")), wave


def test_physical_knobs_preserve_order(spark, crawl_fixture, tmp_path):
    """Every adaptive physical choice in the wave loop (host-hash salting,
    broadcast vs bucketed fetch, broadcast vs shuffle anti-join) is an
    optimization, not a semantics change: the crawl order, seen set and
    extracted rows must be bit-identical under all of them."""
    base = _mk_job(spark, crawl_fixture, tmp_path, "k_base")
    base.run()
    expected = _checksums(base)
    variants = {
        "k_salt": dict(salt_activation_threshold=0, salt_buckets=8),
        "k_bucketed": dict(broadcast_wave_threshold=0),
        "k_shuffle_seen": dict(seen_broadcast_threshold=0),
        "k_shuffle_robots": dict(robots_broadcast_threshold=0),
    }
    for name, knobs in variants.items():
        job = _mk_job(spark, crawl_fixture, tmp_path, name, **knobs)
        job.run()
        assert _checksums(job) == expected, name


def test_edge_empty_seeds_and_total_block(spark, crawl_fixture, tmp_path):
    """Empty seed list → zero waves; robots blocking every path → wave 0
    schedules nothing and the loop stops cleanly."""
    from bodhium_webscrapper_spark.plans.frontier import CrawlConfig, CrawlJob

    empty_seeds = spark.createDataFrame([], "url string, priority double")
    job = CrawlJob(
        spark, crawl_fixture["pages"], empty_seeds, None,
        CrawlConfig(max_waves=3), os.path.join(str(tmp_path), "empty"),
    )
    out = job.run()
    assert out["waves"] == [] and out["total_scheduled"] == 0

    seeds = spark.read.parquet(crawl_fixture["seeds"])
    hosts = spark.read.parquet(crawl_fixture["robots"]).select("host")
    block_all = hosts.select(
        "host",
        F.array(F.lit("/")).alias("disallow_prefixes"),
        F.lit(0).cast("long").alias("crawl_delay_ms"),
    )
    job2 = CrawlJob(
        spark, crawl_fixture["pages"], seeds, block_all,
        CrawlConfig(max_waves=3), os.path.join(str(tmp_path), "blocked"),
    )
    out2 = job2.run()
    assert out2["total_scheduled"] == 0


def test_footer_metrics_match_spark_metrics(spark, crawl_fixture, tmp_path):
    """The footer-derived metrics (zero-job path the loop uses) must agree
    with the Spark-computed partition_metrics on totals, and with the
    footer row_count and df.count()."""
    from bodhium_webscrapper_spark.plans.metrics import partition_metrics

    job = _mk_job(spark, crawl_fixture, tmp_path, "fm", max_waves=2)
    job.run()
    for wave in (0, 1):
        df = job.store.read(spark, wave, "scheduled")
        n = df.count()
        assert job.store.row_count(wave, "scheduled") == n
        footer_rows = (
            job.metrics()
            .filter((F.col("wave") == wave) & (F.col("stage") == "scheduled"))
            .agg(F.sum("rows"))
            .first()[0]
        )
        spark_rows = partition_metrics(df, wave, "scheduled").agg(F.sum("rows")).first()[0]
        assert footer_rows == spark_rows == n


def test_seen_compaction_preserves_semantics(spark, crawl_fixture, tmp_path):
    """Delta compaction (LSM base + tail dirs) must not change the crawl:
    identical order and seen set vs the uncompacted twin, and the compacted
    base must actually be registered and used."""
    import os as _os

    plain = _mk_job(spark, crawl_fixture, tmp_path, "nc")
    plain.run()

    compacted = _mk_job(spark, crawl_fixture, tmp_path, "cc", compact_seen_every=2)
    compacted.run()
    assert _order_tuples(compacted) == _order_tuples(plain)
    a = sorted(r.url_hash for r in compacted.seen_set().collect())
    b = sorted(r.url_hash for r in plain.seen_set().collect())
    assert a == b

    m = compacted.store.manifest()
    base = m.get("compacted", {}).get("scheduled")
    assert base is not None and base >= 1
    assert _os.path.exists(compacted.store.compact_dir("scheduled", base))

    # resume over a compacted store still replays deterministically
    partial = _mk_job(
        spark, crawl_fixture, tmp_path, "cp", compact_seen_every=2, max_waves=2
    )
    partial.run()
    resumed = _mk_job(spark, crawl_fixture, tmp_path, "cp", compact_seen_every=2)
    resumed.run(resume=True)
    assert _order_tuples(resumed) == _order_tuples(plain)


# ---- per-host policy table (robots verdict + crawl-delay budget)

# allow overrides, `*` wildcards, `$` anchors, an allow/disallow length tie,
# a host with only a crawl delay and one with both
_POLICY_ROBOTS = [
    # /p1* blocked except /p1*7 (longer allow wins) and the /p12 subtree
    ("megahost.example", ["/p1", "/private"], ["/p1*7$", "/p12"], 0),
    # every path ending in 5 is blocked; 10_000 // 2500 = 4 URLs per wave
    ("host00000.example", ["/*5$"], [], 2500),
    ("host00001.example", ["/private"], ["/private/p1"], 0),
    # paths with a 0 after /p are blocked, except exactly /p10
    ("host00002.example", ["/p*0"], ["/p10$"], 0),
    # only the root page
    ("host00003.example", ["/"], ["/$"], 0),
    # equal length: the allow wins, nothing is blocked
    ("host00004.example", ["/p2"], ["/p2"], 0),
    ("host00005.example", [], [], 5000),
]


def _robots_verdict(url, disallow, allow):
    """RFC 9309: the longest matching rule wins, an allow wins a tie."""
    import re
    from urllib.parse import urlsplit

    path = urlsplit(url).path or "/"

    def match(p):
        if "*" not in p and not p.endswith("$"):
            return path.startswith(p)
        anchored = p.endswith("$")
        rx = re.escape(p[:-1] if anchored else p).replace(r"\*", ".*")
        return re.match(rx + ("$" if anchored else ""), path) is not None

    def best(rules):
        return max((len(p) for p in rules if match(p)), default=0)

    return best(disallow) <= best(allow)


def _checksums(job):
    import hashlib

    def digest(rows):
        return hashlib.sha256(repr(sorted(map(tuple, rows))).encode()).hexdigest()

    return {
        "crawl_order": digest(job.crawl_order().collect()),
        "seen_set": digest(job.seen_set().collect()),
        "extracted": digest(job.extracted().collect()),
    }


def test_policy_table_rules_and_delays_both_strategies(spark, crawl_fixture, tmp_path):
    """One crawl under the robots fixture above, with the policy table
    broadcast (default) and shuffled (robots_broadcast_threshold=0): the
    same crawl_order, seen_set and extracted; no scheduled URL is disallowed
    by an independent RFC 9309 verdict; allow overrides do schedule; crawl
    delays cap the host's URLs per wave."""
    robots = spark.createDataFrame(
        _POLICY_ROBOTS,
        "host string, disallow_prefixes array<string>, "
        "allow_prefixes array<string>, crawl_delay_ms long",
    )
    cfg = dict(max_urls_per_host_per_wave=40, max_waves=3, global_wave_limit=None)
    jobs = {}
    for name, knobs in {"pb": {}, "ps": dict(robots_broadcast_threshold=0)}.items():
        job = CrawlJob(
            spark, crawl_fixture["pages"], spark.read.parquet(crawl_fixture["seeds"]),
            robots, CrawlConfig(**cfg, **knobs), os.path.join(str(tmp_path), name),
        )
        assert len(job.run()["waves"]) == 3
        jobs[name] = job
    assert jobs["ps"]._robots_strategy == "shuffle"
    assert _checksums(jobs["pb"]) == _checksums(jobs["ps"])

    rules = {h: (d, a) for h, d, a, _ in _POLICY_ROBOTS}
    order = jobs["pb"].crawl_order().withColumn(
        "host", F.parse_url("canonical_url", F.lit("HOST"))
    )
    scheduled = [(r.wave, r.host, r.canonical_url) for r in order.collect()]
    assert all(
        _robots_verdict(u, *rules[h]) for _, h, u in scheduled if h in rules
    )
    overridden = [
        u for _, h, u in scheduled
        if h in rules and rules[h][1] and not _robots_verdict(u, rules[h][0], [])
    ]
    assert overridden, "no URL scheduled by an allow rule overriding a disallow"
    per_wave = {}
    for w, h, _ in scheduled:
        per_wave[w, h] = per_wave.get((w, h), 0) + 1
    assert max(n for (_, h), n in per_wave.items() if h == "host00000.example") <= 4
    assert max(n for (_, h), n in per_wave.items() if h == "host00005.example") <= 2
    assert max(per_wave.values()) > 4  # undelayed hosts keep the larger budget


def test_empty_seen_folds_to_no_join_and_no_job(spark, crawl_fixture, tmp_path, spark_jobs):
    """Wave 0's seen set is an empty relation the optimizer folds: the seen
    anti-join against it disappears from the plan and nothing runs a job."""
    from bodhium_webscrapper_spark.plans.frontier import SEEN_SCHEMA

    job = _mk_job(spark, crawl_fixture, tmp_path, "empty_seen")
    seen = job._empty(SEEN_SCHEMA)
    assert seen.schema == SEEN_SCHEMA
    frontier = spark.sql(
        "SELECT * FROM VALUES (1L, 'a'), (2L, 'b') AS t(url_hash, canonical_url)"
    )
    new = frontier.join(F.broadcast(seen.select("url_hash")), "url_hash", "left_anti")
    assert "Join" not in new._jdf.queryExecution().optimizedPlan().toString()
    with spark_jobs() as jobs:
        rows = new.collect()
        assert seen.collect() == []
    assert jobs == []
    assert sorted(r.url_hash for r in rows) == [1, 2]


def test_wave_stats_deduped_observed_without_extra_jobs(
    spark, crawl_fixture, tmp_path, spark_jobs, monkeypatch
):
    """WaveStats.deduped is the first-wins deduplicated count, equal to an
    independent count, and observing it inside the scheduled write adds no
    Spark job: the run submits as many jobs as with the observation
    stubbed out, and counts nothing but the seeds."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    from bodhium_webscrapper_spark.plans import frontier

    def run(name):
        spark.catalog.clearCache()  # both runs start from the same cache state
        job = _mk_job(
            spark, crawl_fixture, tmp_path, name, max_waves=3, verify_extraction=False
        )
        with spark_jobs() as jobs:
            summary = job.run()
        return job, summary["waves"], len(jobs)

    counts = []
    real_count = ClassicDataFrame.count
    monkeypatch.setattr(
        ClassicDataFrame, "count", lambda self: counts.append(1) or real_count(self)
    )
    job, waves, n_jobs = run("dd_observed")
    monkeypatch.undo()
    assert len(counts) == 2  # CrawlJob.__init__'s rules count, the seeds count
    for s in waves:
        w = s["wave"]
        fr = job._seed_frontier() if w == 0 else job._frontier_after(w - 1)
        assert s["deduped"] == frontier.dedup_first_wins_frontier(fr).count()
    assert any(s["deduped"] < s["candidates"] for s in waves)

    monkeypatch.setattr(ClassicDataFrame, "observe", lambda self, obs, *exprs: self)
    monkeypatch.setattr(frontier, "observed", lambda obs: {"n": 0})
    _, _, n_plain = run("dd_plain")
    assert n_jobs == n_plain
