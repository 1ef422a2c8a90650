"""Crawl snapshot diff — classify URLs across two crawls of the same site.

The reference re-scrapes a site per job and overwrites state keyed on URL
(RDS MERGE upsert, /root/reference/RDS/app.py); the diff between two crawl
snapshots (what appeared, vanished, or changed) is the incremental-crawl
primitive a recurring 100 TB pipeline needs — it bounds re-fetch work to
the changed frontier instead of re-processing the whole corpus.

Shape: one FULL OUTER equi-join between the two snapshots on the URL key,
comparing content hashes. At scale both snapshots should be stored
bucketed on the join key (plans/bucketed_fetch.write_bucketed — the same
layout the fetch path amortizes), making the diff a zero-exchange
storage-partitioned join: each task streams two co-located sorted buckets.
Nothing else shuffles: the classification is a projection.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

ADDED = "added"
REMOVED = "removed"
CHANGED = "changed"
UNCHANGED = "unchanged"


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key: str = "url",
    hash_col: str = "content_hash",
) -> DataFrame:
    """(key, status) for every URL in either snapshot.

    ``old`` / ``new`` carry one row per ``key`` with a content hash in
    ``hash_col`` (callers dedup first — first_wins_dedup — so the join is
    1:1 and output cardinality is |old ∪ new|).
    """
    o = old.select(F.col(key), F.col(hash_col).alias("_h_old"))
    n = new.select(F.col(key), F.col(hash_col).alias("_h_new"))
    j = o.join(n, key, "full_outer")
    status: Column = (
        F.when(F.col("_h_old").isNull(), F.lit(ADDED))
        .when(F.col("_h_new").isNull(), F.lit(REMOVED))
        .when(F.col("_h_old") != F.col("_h_new"), F.lit(CHANGED))
        .otherwise(F.lit(UNCHANGED))
    )
    return j.select(F.col(key), status.alias("status"))


def recrawl_priority(
    diff: DataFrame,
    key: str = "url",
    host_col: str = "host",
    hot_pct: int = 20,
) -> DataFrame:
    """Adaptive recrawl scheduling from a snapshot diff (the freshness
    policy of Cho & Garcia-Molina, reduced to exact integers): pages that
    CHANGED get the next crawl's top priority, new pages follow, and
    UNCHANGED pages inherit their HOST's observed change rate — a host
    where >= ``hot_pct``% of revisited urls changed is hot, so even its
    stable pages age faster. REMOVED urls drop out (nothing to refetch).

    The reference re-scrapes every configured site from scratch each job
    (/root/reference/app.py one-shot pipeline); this operator is what turns
    that into an incremental crawl that spends its politeness budget where
    content actually moves.

    Input: ``diff`` rows (key, host, status) from ``snapshot_diff`` plus a
    host column. Output adds exact-integer evidence columns and the final
    ``priority_level`` (3 changed / 2 added / 1 unchanged-on-hot-host /
    0 unchanged-on-cold-host).

    Plan shape: host stats are a groupBy(host) partial-agg (host cardinality
    is orders below url cardinality), joined back on host — AQE broadcasts
    the stats side when it fits, and the urls side never re-shuffles more
    than (key, host, status). No windows, no per-url state.
    """
    s = F.col("status")
    stats = (
        diff.where(s.isin(CHANGED, UNCHANGED))
        .groupBy(host_col)
        .agg(
            F.sum(F.when(s == CHANGED, 1).otherwise(0))
            .cast("long")
            .alias("host_changed"),
            F.count(F.lit(1)).alias("host_total"),
        )
    )
    j = diff.where(s != REMOVED).join(stats, host_col, "left")
    level = (
        F.when(s == CHANGED, 3)
        .when(s == ADDED, 2)
        .when(
            (F.col("host_total") > 0)
            & (F.col("host_changed") * 100 >= F.lit(hot_pct) * F.col("host_total")),
            1,
        )
        .otherwise(0)
    )
    return j.select(
        F.col(key),
        F.col(host_col),
        "status",
        F.coalesce(F.col("host_changed"), F.lit(0)).cast("long").alias("host_changed"),
        F.coalesce(F.col("host_total"), F.lit(0)).cast("long").alias("host_total"),
        level.cast("int").alias("priority_level"),
    )


def revalidation_classes(
    prev: DataFrame,
    curr: DataFrame,
    url_col: str = "url",
) -> DataFrame:
    """HTTP conditional-revalidation classification for a recrawl wave —
    the decision the reference never makes (it re-scrapes every URL
    unconditionally, ``/root/reference/app.py`` scrape branch) and a
    10^10-URL recrawl cannot afford to skip: a page whose validators match
    needs neither re-extraction nor re-storage.

    Inputs are the previous crawl's stored validators and the refetch's
    response headers, both ``(url, etag, last_modified, content_hash)``.
    Per RFC 9110 §8.8: the ETag is the strong validator and wins when both
    sides carry one, compared weakly (§8.8.3.2: an optional ``W/`` prefix
    is stripped on both sides, so ``W/"a"`` matches ``"a"``); Last-Modified
    is the weak fallback when either ETag is absent; with no validators at
    all the stored content hash decides. Each side must hold at most one
    row per url: the full-outer join would otherwise pair every duplicate
    and return one status per pair.
    Returns ``(url, status)`` with status in

      - ``'not_modified'`` — validators (or hashes) match: skip extract,
        refresh the fetch timestamp only
      - ``'changed'``      — re-extract and re-store
      - ``'new'``          — in the current fetch only
      - ``'gone'``         — in the previous crawl only (tombstone)

    One full-outer equi-join on url — the same shape as
    :func:`snapshot_diff`, and like it zero-exchange when both sides are
    bucketed on the url key; every comparison is a JVM string equality in
    the join projection, no UDFs.
    """
    p = prev.select(
        F.col(url_col).alias("url"),
        F.col("etag").alias("_pe"),
        F.col("last_modified").alias("_pl"),
        F.col("content_hash").alias("_ph"),
        F.lit(1).alias("_in_p"),
    )
    c = curr.select(
        F.col(url_col).alias("url"),
        F.col("etag").alias("_ce"),
        F.col("last_modified").alias("_cl"),
        F.col("content_hash").alias("_ch"),
        F.lit(1).alias("_in_c"),
    )
    j = p.join(c, "url", "full_outer")
    both_etags = F.col("_pe").isNotNull() & F.col("_ce").isNotNull()
    both_lm = F.col("_pl").isNotNull() & F.col("_cl").isNotNull()
    matched = (
        F.when(
            both_etags,
            F.regexp_replace("_pe", "^W/", "") == F.regexp_replace("_ce", "^W/", ""),
        )
        .when(both_lm, F.col("_pl") == F.col("_cl"))
        .otherwise(F.col("_ph").eqNullSafe(F.col("_ch")))
    )
    status = (
        F.when(F.col("_in_p").isNull(), F.lit("new"))
        .when(F.col("_in_c").isNull(), F.lit("gone"))
        .when(matched, F.lit("not_modified"))
        .otherwise(F.lit("changed"))
    )
    return j.select("url", status.alias("status"))
