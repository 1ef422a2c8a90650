"""Bucketed storage-partitioned fetch (plans/bucketed_fetch.py): the
zero-broadcast 10^8-row-wave path must (a) produce exactly the broadcast
path's rows and (b) plan with NO exchange, NO broadcast, and NO sort on
either side of the join."""

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
    """A fetch_strategy="bucketed" crawl scopes the bucketed-scan ordering
    conf to its fetch actions: afterwards the session reads exactly as it
    did before the run, whether the conf was unset or set explicitly."""
    if preset is None:
        spark.conf.unset(_ORDERING_CONF)
    else:
        spark.conf.set(_ORDERING_CONF, preset)
    job = CrawlJob(
        spark,
        crawl_fixture["pages"],
        spark.read.parquet(crawl_fixture["seeds"]),
        spark.read.parquet(crawl_fixture["robots"]),
        CrawlConfig(max_waves=2, fetch_strategy="bucketed", fetch_buckets=8),
        os.path.join(str(tmp_path), "bkt_conf"),
    )
    try:
        assert job.run()["total_scheduled"] > 0
        assert spark.conf.get(_ORDERING_CONF, None) == preset
    finally:
        spark.conf.unset(_ORDERING_CONF)
