"""Round-5c ops: compaction planner, CDX composition, dataset-card stats."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bodhium_webscrapper_spark.operators.packing import compaction_plan


def _files(spark, sizes):
    return spark.createDataFrame(
        [(i, s) for i, s in enumerate(sizes)], "file_id long, bytes long"
    )


def test_compaction_plan_hand_sizes(spark):
    # cumulative starts: 0,100,250,250+200=450,470 ; target 250 ->
    # grp = start // 250 = 0,0,1,1,1 — group 0 overflows by at most one file
    got = {
        r.file_id: r.grp
        for r in compaction_plan(
            _files(spark, [100, 150, 200, 20, 30]),
            "file_id", "bytes", target_bytes=250,
        ).collect()
    }
    assert got == {0: 0, 1: 0, 2: 1, 3: 1, 4: 1}


def test_compaction_plan_groups_bounded_and_partition_invariant(spark):
    sizes = [(i * 37) % 90 + 5 for i in range(300)]
    base = _files(spark, sizes)
    a = sorted(map(tuple, compaction_plan(
        base, "file_id", "bytes", target_bytes=500).collect()))
    b = sorted(map(tuple, compaction_plan(
        base.repartition(11), "file_id", "bytes",
        target_bytes=500, num_partitions=5).collect()))
    assert a == b
    # every group's total is < target + its largest member (first-fit bound)
    import collections
    tot = collections.defaultdict(int)
    mx = collections.defaultdict(int)
    for fid, by, grp in a:
        tot[grp] += by
        mx[grp] = max(mx[grp], by)
    for g in tot:
        assert tot[g] < 500 + mx[g]
    # groups cover all files exactly once and are contiguous in file order
    grps = [grp for _, _, grp in sorted(a)]
    assert grps == sorted(grps)


def test_compaction_plan_rejects_bad_target(spark, spark_jobs):
    # raised before the prefix-sum pass shuffles, persists and collects
    files = _files(spark, [1])
    with spark_jobs() as jobs, pytest.raises(ValueError):
        compaction_plan(files, "file_id", "bytes", target_bytes=0)
    assert jobs == []


def test_shard_boundaries_exact_order_statistics(spark):
    from bodhium_webscrapper_spark.operators.packing import shard_boundaries

    keys = spark.createDataFrame(
        [(f"k{i:03d}",) for i in range(100)] * 2, "key string"
    )
    got = {r.shard: r.boundary_key for r in
           shard_boundaries(keys, "key", n_shards=4).collect()}
    # ranks 25, 50, 75 of the 100 distinct sorted keys
    assert got == {1: "k025", 2: "k050", 3: "k075"}


def test_shard_boundaries_partition_invariant_and_few_keys(spark):
    import pytest as _pytest
    from bodhium_webscrapper_spark.operators.packing import shard_boundaries

    keys = spark.createDataFrame([(f"x{i}",) for i in range(3)], "key string")
    got = sorted(map(tuple, shard_boundaries(
        keys.repartition(9), "key", n_shards=8).collect()))
    # 3 distinct keys, 8 shards: duplicate rank targets collapse
    assert [k for _, k in got] == sorted({k for _, k in got})
    assert len(got) <= 2  # min(n-1, n_shards-1) usable split points
    with _pytest.raises(ValueError):
        shard_boundaries(keys, "key", n_shards=1)


def test_revalidation_classes_all_branches(spark):
    from bodhium_webscrapper_spark.operators.diff import revalidation_classes

    prev = spark.createDataFrame(
        [
            ("u1", 'W/"a"', "Mon", "h1"),   # etag match -> not_modified
            ("u2", 'W/"a"', "Mon", "h2"),   # etag differs -> changed
            ("u3", None, "Mon", "h3"),      # lm fallback match -> not_modified
            ("u4", None, "Mon", "h4"),      # lm differs -> changed
            ("u5", None, None, "h5"),       # hash match -> not_modified
            ("u6", None, None, "h6"),       # hash differs -> changed
            ("u7", 'W/"g"', None, "h7"),    # gone (prev only)
            # prev has etag, curr doesn't -> weak fallback decides
            ("u9", 'W/"z"', "Mon", "h9"),
            ("u10", 'W/"a"', "Mon", "h10"),  # weak vs strong same tag -> match
        ],
        "url string, etag string, last_modified string, content_hash string",
    )
    curr = spark.createDataFrame(
        [
            ("u1", 'W/"a"', "Tue", "zzz"),  # lm/hash noise must not matter
            ("u2", 'W/"b"', "Mon", "h2"),
            ("u3", None, "Mon", "x"),
            ("u4", None, "Tue", "h4"),
            ("u5", 'W/"e"', None, "h5"),    # curr-only etag -> hash decides
            ("u6", None, None, "HX"),
            ("u8", 'W/"n"', "Mon", "h8"),   # new (curr only)
            ("u9", None, "Mon", "h9x"),
            ("u10", '"a"', "Tue", "h10x"),
        ],
        "url string, etag string, last_modified string, content_hash string",
    )
    got = {r.url: r.status for r in revalidation_classes(prev, curr).collect()}
    assert got == {
        "u1": "not_modified",
        "u2": "changed",
        "u3": "not_modified",
        "u4": "changed",
        "u5": "not_modified",
        "u6": "changed",
        "u7": "gone",
        "u8": "new",
        "u9": "not_modified",
        "u10": "not_modified",
    }


def test_hreflang_links_extraction_rules(spark):
    from bodhium_webscrapper_spark.functions.extract import hreflang_links

    html = (
        '<link rel="alternate" hreflang="en" href="https://e/en"/>'
        '<link hreflang="DE-at" rel="alternate" href="https://e/de"/>'  # order+case
        '<link hreflang="fr" href="https://e/fr"/>'                     # no rel
        '<link rel="alternate" hreflang="it" href=""/>'                 # empty href
        '<link rel="alternate" hreflang="x-default" href="https://e/"/>'
    )
    df = spark.createDataFrame([(html,)], "html string")
    rows = df.select(
        F.explode(hreflang_links(F.col("html"))).alias("s")
    ).select("s.hreflang", "s.href").collect()
    assert [(r.hreflang, r.href) for r in rows] == [
        ("en", "https://e/en"),
        ("de-at", "https://e/de"),
        ("x-default", "https://e/"),
    ]
    plan = (
        df.select(hreflang_links(F.col("html")).alias("a"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan and "Python" not in plan
