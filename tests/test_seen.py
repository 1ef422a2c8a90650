"""URL-seen membership: bloom pre-pass must never change exact semantics.

All bloom state is the executor-side ``DistributedBloom`` blob table — the
only membership accelerator the engine ships (the driver-collected variant
was removed: collecting blobs to the driver is the 10^10-scale killer).
"""

from pyspark.sql import functions as F

from bodhium_webscrapper_spark.operators.seen import (
    DistributedBloom,
    seen_anti_join,
)


def _dfs(spark):
    frontier = spark.range(0, 5000).select(
        F.xxhash64(F.concat(F.lit("u"), F.col("id"))).alias("url_hash"),
        F.col("id").alias("payload"),
    )
    # seen = every third key (overlap) plus some foreign keys
    seen = spark.range(0, 5000, 3).select(
        F.xxhash64(F.concat(F.lit("u"), F.col("id"))).alias("url_hash"),
        F.concat(F.lit("u"), F.col("id")).alias("url"),
    )
    return frontier, seen


def _bloom(spark, seen, n_buckets=16):
    bloom = DistributedBloom(spark, n_buckets=n_buckets, capacity=10_000)
    bloom.add_delta(seen)
    return bloom


def test_bloom_matches_exact_antijoin(spark):
    frontier, seen = _dfs(spark)
    exact = seen_anti_join(frontier, seen)
    with_bloom = seen_anti_join(frontier, seen, bloom=_bloom(spark, seen))
    a = {r.payload for r in exact.collect()}
    b = {r.payload for r in with_bloom.collect()}
    assert a == b
    assert len(a) == 5000 - len(range(0, 5000, 3))


def test_bloom_no_false_negatives(spark):
    """Every seen key must test positive (bloom FNs would break dedup)."""
    _, seen = _dfs(spark)
    flagged = _bloom(spark, seen).pre_filter(seen.select("url_hash"), "url_hash")
    assert flagged.filter(~F.col("_maybe_seen")).count() == 0


def test_bloom_fpp_reasonable(spark):
    """Foreign keys should mostly test negative (that's the whole point)."""
    _, seen = _dfs(spark)
    foreign = spark.range(100000, 110000).select(
        F.xxhash64(F.concat(F.lit("u"), F.col("id"))).alias("url_hash")
    )
    flagged = _bloom(spark, seen).pre_filter(foreign, "url_hash")
    fp = flagged.filter(F.col("_maybe_seen")).count()
    assert fp / 10000 < 0.01


def test_bloom_non_pow2_buckets_no_false_negatives(spark):
    """Build buckets via F.pmod (signed), probe via numpy — they must agree
    for ANY n_buckets, not just powers of two (a mismatch makes bloom false
    negatives that bypass the exact anti-join)."""
    _, seen = _dfs(spark)
    for n_buckets in (13, 63, 100):
        flagged = _bloom(spark, seen, n_buckets).pre_filter(
            seen.select("url_hash"), "url_hash"
        )
        assert flagged.filter(~F.col("_maybe_seen")).count() == 0, f"n_buckets={n_buckets}"


def test_distributed_bloom_delta_merge_matches_exact(spark):
    """Incremental delta merge (or_merge_blobs) must not lose keys across
    waves: anti-join with the merged bloom == exact anti-join."""
    frontier, seen = _dfs(spark)
    half_a = seen.filter(F.col("url_hash") % 2 == 0)
    half_b = seen.filter(F.col("url_hash") % 2 != 0)
    bloom = DistributedBloom(spark, n_buckets=16, capacity=10_000)
    bloom.add_delta(half_a)
    bloom.add_delta(half_b)  # exercises or_merge_blobs
    exact = seen_anti_join(frontier, seen)
    with_bloom = seen_anti_join(frontier, seen, bloom=bloom.state())
    a = {r.payload for r in exact.collect()}
    b = {r.payload for r in with_bloom.collect()}
    assert a == b

    # no false negatives: every seen key must flag maybe_seen
    flagged = bloom.pre_filter(seen.select("url_hash"), "url_hash")
    assert flagged.filter(~F.col("_maybe_seen")).count() == 0

