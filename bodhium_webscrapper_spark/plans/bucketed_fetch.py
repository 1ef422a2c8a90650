"""Bucketed storage-partitioned fetch — the zero-broadcast scale path.

The wave loop fetches a wave up to ``broadcast_wave_threshold`` rows by
broadcasting it into a hash probe of pages (plans/frontier.py). The broadcast build is
driver-serial — measured ~0.7 s per million keys (a probe script of
commit 0e901c5, deleted since) — which is fine for 10^5-10^7-row waves
but becomes the bottleneck for 10^8-row waves, where no broadcast of any
kind is viable. The production answer (and the plain-parquet analogue of
Iceberg's ``bucket(N, url_hash)`` storage-partitioned join) is BUCKETED
TABLES: both sides are written hash-clustered by ``url_hash`` into the
same number of buckets, so the join needs

- NO broadcast (nothing driver-serial, nothing resident per executor),
- NO exchange on either side (bucket b of the wave joins bucket b of
  pages, already co-located on disk),

and parallelism equals the bucket count. Reference behavior being
re-expressed: the fetch of scheduled URLs (app.py:482-589), identical
semantics to the broadcast path — only the physical strategy differs
(asserted row-identical and exchange-free in tests/test_bucketed_fetch.py).

Trade-offs, stated honestly:
- pages must be REWRITTEN once into the bucketed layout (a full-corpus
  shuffle — amortized across every subsequent wave; on Iceberg this is
  just the table's partition spec, no separate rewrite).
- each wave gains a second, NARROW write: the loop's durable ``scheduled``
  artifact stays a plain no-exchange write, and the wave TABLE this join
  consumes is a numeric-only (url_hash/depth/priority/wave, 32 B/row)
  ``bucketBy`` twin read back from that artifact's pruned footers. The
  bucket-hash shuffle + bucket sort therefore move ints, never the
  canonical_url/host strings (re-derived from pages.url at fetch time),
  and the fetch loses its broadcast AND both join sorts
  (``sortBy(url_hash)`` at write time).
- Spark's bucketed joins require session catalogs (``saveAsTable``); the
  SnapshotStore's plain-directory artifacts stay the default, and this
  module is the path only waves above ``broadcast_wave_threshold`` take.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

_ORDERING_CONF = "spark.sql.legacy.bucketedTableScan.outputOrdering"


def _abs_path(path: str) -> str:
    """Absolutize scheme-less table locations: Spark resolves a RELATIVE
    ``path`` option/LOCATION against the session WAREHOUSE dir, while every
    other consumer of the same artifact (SnapshotStore footer reads,
    spark.read.parquet) resolves it against the process cwd — a silent
    split-brain for callers passing relative checkpoint dirs."""
    return path if "://" in path else os.path.abspath(path)


@contextmanager
def bucket_ordering(spark: SparkSession):
    """Honor bucketed tables' ``sortBy`` metadata at read for the queries
    planned and run inside the block, then restore the session's previous
    value. Off by default since Spark 3.0 because MULTI-file buckets need a
    merge at read; ``write_bucketed`` guarantees one file per bucket,
    exactly the case where the on-disk order elides both join sorts. Only
    scans of bucketed tables read the setting, so writes need no scope."""
    prev = spark.conf.get(_ORDERING_CONF, None)
    spark.conf.set(_ORDERING_CONF, "true")
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(_ORDERING_CONF)
        else:
            spark.conf.set(_ORDERING_CONF, prev)


def write_bucketed(
    df: DataFrame,
    table: str,
    n_buckets: int,
    path: str | None = None,
    key: str = "url_hash",
) -> None:
    """Write ``df`` as a bucketed, bucket-sorted table (overwrite).

    The pre-write ``repartition(n_buckets, key)`` uses the same Murmur3
    hash as the bucket spec, so every bucket lands in exactly ONE file —
    the condition under which Spark elides the read-side Sort of a
    bucket-sorted table (multi-file buckets must be merge-sorted at read).
    """
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    w = (
        df.repartition(n_buckets, key)
        .write.mode("overwrite")
        .bucketBy(n_buckets, key)
        .sortBy(key)
    )
    if path:
        w = w.option("path", _abs_path(path))
    w.format("parquet").saveAsTable(table)


def register_bucketed(
    spark: SparkSession,
    table: str,
    path: str,
    n_buckets: int,
    key: str = "url_hash",
    schema_ddl: str | None = None,
) -> None:
    """Register an EXISTING ``write_bucketed`` layout as an external bucketed
    table — metadata only, no data rewrite. This is how a new session (the
    in-memory catalog does not survive restarts) re-attaches an amortized
    one-time bucketing of the pages corpus; the Iceberg analogue is simply
    the table existing in the catalog with a ``bucket(N, key)`` spec.
    ``schema_ddl`` defaults to the parquet footer schema at ``path``."""
    path = _abs_path(path)
    if schema_ddl is None:
        schema_ddl = ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in spark.read.parquet(path).schema.fields
        )
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(
        f"CREATE TABLE {table} ({schema_ddl}) USING parquet "
        f"CLUSTERED BY ({key}) SORTED BY ({key}) INTO {n_buckets} BUCKETS "
        f"LOCATION '{path}'"
    )


def bucketed_fetch_join(
    spark: SparkSession,
    pages_table: str,
    wave_table: str,
    key: str = "url_hash",
) -> DataFrame:
    """Join two same-bucketed tables on ``key`` with zero exchanges and no
    broadcast, whatever the wave size.

    The MERGE hint pins the sort-merge strategy (a small wave would
    otherwise be broadcast, which is exactly what the caller is opting out
    of); with matching bucket specs Spark plans no Exchange on either side
    and — because both sides are ``sortBy(key)`` bucket-sorted — no Sort
    either. Parallelism = bucket count; at 10^8-row waves each task
    streams one wave bucket against one pages bucket.

    The sort elision holds only where the query is planned and run inside
    ``bucket_ordering(spark)``; outside it the join is still correct but
    sorts both sides at read.
    """
    pages = spark.table(pages_table)
    wave = spark.table(wave_table).hint("merge")
    return pages.join(wave, key)
