"""Bucketed storage-partitioned fetch (plans/bucketed_fetch.py): the
zero-broadcast path that waves above ``broadcast_wave_threshold`` take must
(a) produce exactly the broadcast path's rows and (b) plan with NO exchange,
NO broadcast, and NO sort on either side of the join. The loop tests force
it with ``broadcast_wave_threshold=0``."""

from __future__ import annotations

import io
import os
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from bodhium_webscrapper_spark.plans.bucketed_fetch import (
    _ORDERING_CONF,
    bucket_ordering,
    bucketed_fetch_join,
    write_bucketed,
)
from bodhium_webscrapper_spark.plans.frontier import CrawlConfig, CrawlJob


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture()
def bucketed_tables(spark, crawl_fixture, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("bucketed"))
    pages = spark.read.parquet(crawl_fixture["pages"]).select(
        "url_hash", "url", "html"
    )
    wave = (
        spark.read.parquet(crawl_fixture["pages"])
        .select("url_hash")
        .filter(F.col("url_hash") % 3 == 0)
        .withColumn("depth", F.lit(1))
        .withColumn("priority", F.lit(0.5))
        .withColumn("wave", F.lit(7))
    )
    write_bucketed(pages, "pages_bkt", 8, os.path.join(root, "pages"))
    write_bucketed(wave, "wave_bkt", 8, os.path.join(root, "wave"))
    yield pages, wave
    spark.sql("DROP TABLE IF EXISTS pages_bkt")
    spark.sql("DROP TABLE IF EXISTS wave_bkt")


def test_bucketed_join_zero_exchange_zero_sort(spark, bucketed_tables):
    before = spark.conf.get(_ORDERING_CONF, None)
    joined = bucketed_fetch_join(spark, "pages_bkt", "wave_bkt")
    with bucket_ordering(spark):
        p = plan_of(joined)
    assert spark.conf.get(_ORDERING_CONF, None) == before
    assert "SortMergeJoin" in p
    assert "Exchange" not in p  # no shuffle AND no broadcast anywhere
    tree = p.split("\n\n")[0]
    assert "Sort " not in tree  # bucket-sorted at write: no sort at read
    assert "Bucketed: true" in p


def test_bucketed_join_rows_identical_to_broadcast(spark, bucketed_tables):
    pages, wave = bucketed_tables
    bucketed = bucketed_fetch_join(spark, "pages_bkt", "wave_bkt").select(
        "url_hash", "url", "depth", "priority", "wave"
    )
    broadcast = pages.join(F.broadcast(wave), "url_hash").select(
        "url_hash", "url", "depth", "priority", "wave"
    )
    assert bucketed.count() == broadcast.count() > 0
    assert bucketed.exceptAll(broadcast).isEmpty()
    assert broadcast.exceptAll(bucketed).isEmpty()


@pytest.mark.parametrize("preset", [None, "false"])
def test_bucketed_crawl_restores_session_conf(spark, crawl_fixture, tmp_path, preset):
    """A bucketed crawl scopes the bucketed-scan ordering conf to its
    fetch actions: afterwards the session reads exactly as it did before
    the run, whether the conf was unset or set explicitly."""
    if preset is None:
        spark.conf.unset(_ORDERING_CONF)
    else:
        spark.conf.set(_ORDERING_CONF, preset)
    job = CrawlJob(
        spark,
        crawl_fixture["pages"],
        spark.read.parquet(crawl_fixture["seeds"]),
        spark.read.parquet(crawl_fixture["robots"]),
        CrawlConfig(max_waves=2, broadcast_wave_threshold=0, fetch_buckets=8),
        os.path.join(str(tmp_path), "bkt_conf"),
    )
    try:
        assert job.run()["total_scheduled"] > 0
        assert spark.conf.get(_ORDERING_CONF, None) == preset
    finally:
        spark.conf.unset(_ORDERING_CONF)


# ------------------------------------------------------------ in the loop
def _run_job(spark, crawl_fixture, tmp, tag, max_waves=3, **cfg_kwargs):
    job = CrawlJob(
        spark,
        crawl_fixture["pages"],
        spark.read.parquet(crawl_fixture["seeds_full"]),
        spark.read.parquet(crawl_fixture["robots"]),
        CrawlConfig(max_waves=max_waves, **cfg_kwargs),
        os.path.join(tmp, tag),
        job_id=tag,
    )
    return job, job.run()


def _drop_tables(spark, *tags):
    for tag in tags:
        for t in (f"pages_bkt_{tag}", f"wave_scheduled_{tag}"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def _assert_same_crawl(spark, a, b):
    """crawl_order, seen_set, extracted and every wave's full page_results
    artifact (schema included) are identical."""
    assert [tuple(r) for r in a.crawl_order().collect()] == [
        tuple(r) for r in b.crawl_order().collect()
    ]
    for view in ("seen_set", "extracted"):
        x, y = getattr(a, view)(), getattr(b, view)()
        assert x.schema == y.schema, view
        rows = sorted(x.collect())
        assert rows and rows == sorted(y.collect()), view
    assert a.store.committed_wave() == b.store.committed_wave()
    for w in range(a.store.committed_wave() + 1):
        x = a.store.read(spark, w, "page_results")
        y = b.store.read(spark, w, "page_results")
        assert x.columns == y.columns, w
        assert x.exceptAll(y).isEmpty() and y.exceptAll(x).isEmpty(), w


def test_bucketed_loop_identical_to_broadcast(spark, crawl_fixture, tmp_path):
    """A crawl whose every wave takes the bucketed fetch changes ONLY the
    physical plan: crawl order, seen set, extracted rows and the page_results
    artifacts are bit-identical to the default broadcast loop."""
    tmp = str(tmp_path)
    jb, sb = _run_job(spark, crawl_fixture, tmp, "bk_bcast")
    jk, sk = _run_job(
        spark, crawl_fixture, tmp, "bk_bkt",
        broadcast_wave_threshold=0, fetch_buckets=8,
    )
    try:
        assert sb["total_scheduled"] == sk["total_scheduled"] > 0
        for w in range(jk.store.committed_wave() + 1):
            assert jk.store.has_artifact(w, "scheduled_bkt"), w
            assert not jb.store.has_artifact(w, "scheduled_bkt"), w
        _assert_same_crawl(spark, jb, jk)
        # the seen set is a set-algebra operand too: exceptAll both ways
        xs, ys = jb.seen_set(), jk.seen_set()
        assert xs.exceptAll(ys).isEmpty() and ys.exceptAll(xs).isEmpty()
    finally:
        _drop_tables(spark, "bk_bkt")


def test_bucketed_fetch_switches_mid_run(spark, crawl_fixture, tmp_path):
    """The fetch path is picked per wave from its footer row count: with
    the threshold between wave 0's and wave 1's scheduled counts, wave 0
    broadcasts and wave 1 goes bucketed, and the crawl equals the default
    run. ``__init__`` writes no bucketed layout; the first bucketed wave
    does."""
    tmp = str(tmp_path)
    jd, sd = _run_job(spark, crawl_fixture, tmp, "sw_default")
    n0, n1 = (w["scheduled"] for w in sd["waves"][:2])
    assert 0 < n0 < n1, "fixture: wave 1 must schedule more than wave 0"
    job = CrawlJob(
        spark,
        crawl_fixture["pages"],
        spark.read.parquet(crawl_fixture["seeds_full"]),
        spark.read.parquet(crawl_fixture["robots"]),
        CrawlConfig(max_waves=3, broadcast_wave_threshold=n0, fetch_buckets=8),
        os.path.join(tmp, "sw_switch"),
        job_id="sw_switch",
    )
    bpath = os.path.join(tmp, "sw_switch", "_bucketed_pages")
    assert not os.path.exists(bpath)
    try:
        job.run()
        assert not job.store.has_artifact(0, "scheduled_bkt")
        assert job.store.has_artifact(1, "scheduled_bkt")
        assert os.path.exists(os.path.join(bpath, "_SUCCESS"))
        _assert_same_crawl(spark, jd, job)
    finally:
        _drop_tables(spark, "sw_switch")


def test_bucketed_loop_resume_reattaches_layout(spark, crawl_fixture, tmp_path):
    """A resumed bucketed run re-attaches the existing _bucketed_pages layout
    (register_bucketed, metadata only) instead of rewriting it, and replays
    the identical remaining order."""
    tmp = str(tmp_path)
    bkt = dict(broadcast_wave_threshold=0, fetch_buckets=8)
    jf, _ = _run_job(spark, crawl_fixture, tmp, "bk_full", **bkt)
    full_order = [tuple(r) for r in jf.crawl_order().collect()]
    try:
        # fresh run, killed after wave 1 (max_waves=2), then resumed to 3
        _run_job(spark, crawl_fixture, tmp, "bk_resume", max_waves=2, **bkt)
        bpath = os.path.join(tmp, "bk_resume", "_bucketed_pages")
        assert os.path.exists(os.path.join(bpath, "_SUCCESS"))
        mtime = os.path.getmtime(os.path.join(bpath, "_SUCCESS"))
        jr = CrawlJob(
            spark,
            crawl_fixture["pages"],
            spark.read.parquet(crawl_fixture["seeds_full"]),
            spark.read.parquet(crawl_fixture["robots"]),
            CrawlConfig(max_waves=3, **bkt),
            os.path.join(tmp, "bk_resume"),
            job_id="bk_resume",
        )
        jr.run(resume=True)
        # layout untouched => re-attach, not rewrite
        assert os.path.getmtime(os.path.join(bpath, "_SUCCESS")) == mtime
        assert [tuple(r) for r in jr.crawl_order().collect()] == full_order
    finally:
        _drop_tables(spark, "bk_full", "bk_resume")


def test_bucketed_wave_table_is_numeric_only(spark, crawl_fixture, tmp_path):
    """The bucketed path's wave TABLE must carry only the numeric fetch
    attributes (url_hash/depth/priority/wave): the scheduled artifact keeps
    the full schema (pending/crawl_order contracts), while the bucket
    exchange + sort + fetch scan never see the URL/host strings."""
    jk, _ = _run_job(
        spark, crawl_fixture, str(tmp_path), "bk_narrow",
        broadcast_wave_threshold=0, fetch_buckets=8,
    )
    try:
        wave_cols = set(spark.table("wave_scheduled_bk_narrow").columns)
        assert wave_cols == {"url_hash", "depth", "priority", "wave"}
        # durable artifact keeps the full frontier schema
        sched = jk.store.read(spark, 0, "scheduled")
        assert {"url_hash", "canonical_url", "host", "depth", "priority"} <= set(
            sched.columns
        )
        # and the fetch output still carries the re-derived URL string
        assert "canonical_url" in jk.extracted().columns
    finally:
        _drop_tables(spark, "bk_narrow")
