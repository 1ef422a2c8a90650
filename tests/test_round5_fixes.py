"""Round-5 regression tests.

Covers: count_split politeness with NULL hosts (advice r4), the distributed
global wave cap, IVF sampling without a full-corpus sort, PSL
wildcard/exception rules, dataset-job output counting through a
Hadoop-FS-safe seam, relative bucketed-table paths, seeds_distinct,
PageRank-blended priorities, tracking-param stripping, canonical-link
extraction and the narrow dedup exchange.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from bodhium_webscrapper_spark.plans.frontier import CrawlConfig, CrawlJob


def _run_job(spark, crawl_fixture, tmp, tag, **cfg_kwargs):
    cfg = CrawlConfig(max_waves=3, **cfg_kwargs)
    job = CrawlJob(
        spark,
        crawl_fixture["pages"],
        spark.read.parquet(crawl_fixture["seeds_full"]),
        spark.read.parquet(crawl_fixture["robots"]),
        cfg,
        os.path.join(tmp, tag),
        job_id=tag,
    )
    summary = job.run()
    return job, summary


# ------------------------------------------------- count_split NULL-host (r4 advice)
def test_count_split_null_host_capped(spark):
    from bodhium_webscrapper_spark.operators.politeness import per_host_budget

    rows = [(None, i) for i in range(20)] + [("a.example", i + 100) for i in range(3)]
    df = spark.createDataFrame(rows, "host string, url_hash long").withColumn(
        "priority", F.lit(1.0)
    )
    plain = per_host_budget(df, 5, count_split=False)
    split = per_host_budget(df, 5, count_split=True)
    assert plain.count() == split.count() == 5 + 3
    a = plain.select("host", "url_hash")
    b = split.select("host", "url_hash")
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


# ---------------------------------------------------------- global wave cap
def _cap_fixture(spark, n=2000):
    return (
        spark.range(n)
        .select(
            F.xxhash64(F.col("id").cast("string")).alias("url_hash"),
            F.pow(F.lit(0.5), (F.col("id") % 7).cast("double")).alias("priority"),
            F.concat(F.lit("h"), (F.col("id") % 37).cast("string")).alias("host"),
        )
    )


def _wide_cap_fixture(spark, n=120_000):
    """More than 100k distinct priorities: 2400 NULLs, a tied outlier level
    (2400 rows at 1e9) that puts every other row in the first histogram's
    bin 0 (so a boundary there is narrowed twice), and 10k priorities
    shared by two rows each."""
    p = (
        F.when(F.col("id") % 50 == 0, F.lit(None).cast("double"))
        .when(F.col("id") % 50 == 1, F.lit(1e9))
        .otherwise((F.col("id") % 110_000).cast("double") * 1e-6)
    )
    return spark.range(n).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash"), p.alias("priority")
    )


@pytest.mark.parametrize(
    "fixture,k",
    [pytest.param(_cap_fixture, k, id=str(k)) for k in (1, 137, 500, 1999, 2000, 5000)]
    + [
        pytest.param(_wide_cap_fixture, k, id=f"wide-{k}")
        for k in (1, 2400, 60_000, 117_601, 119_000, 130_000)
    ],
)
def test_global_cap_threshold_form_exact(spark, fixture, k):
    from bodhium_webscrapper_spark.operators.politeness import global_ordered_cap

    df = fixture(spark)
    want = {
        r["url_hash"]
        for r in df.orderBy(F.col("priority").desc(), F.col("url_hash").asc())
        .limit(k)
        .collect()
    }
    got = {
        r["url_hash"]
        for r in global_ordered_cap(df, k, takeordered_threshold=0).collect()
    }
    assert got == want


def test_global_cap_no_single_partition_merge_above_threshold(spark):
    import io
    from contextlib import redirect_stdout

    from bodhium_webscrapper_spark.operators.politeness import global_ordered_cap

    for df in (_cap_fixture(spark), _wide_cap_fixture(spark)):
        capped = global_ordered_cap(df, 500, takeordered_threshold=0)
        buf = io.StringIO()
        with redirect_stdout(buf):
            capped.explain("formatted")
        plan = buf.getvalue()
        assert "TakeOrderedAndProject" not in plan
        assert "GlobalLimit" not in plan
        # and the small-k path still IS TakeOrdered
        buf2 = io.StringIO()
        with redirect_stdout(buf2):
            global_ordered_cap(df, 500, takeordered_threshold=1000).explain("formatted")
        assert "TakeOrderedAndProject" in buf2.getvalue()


# ------------------------------------------------------------- IVF sampling
def test_ivf_sample_plan_is_filter_not_sort(spark):
    import io
    from contextlib import redirect_stdout

    import numpy as np

    from bodhium_webscrapper_spark.operators.similarity import (
        hash_sample_candidates,
        ivf_centroids,
    )

    emb = spark.range(300).select(
        F.col("id").alias("vec_id"),
        F.array(
            (F.col("id") % 7).cast("float"),
            (F.col("id") % 3).cast("float"),
            F.lit(1.0).cast("float"),
        ).alias("embedding"),
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        hash_sample_candidates(emb, "embedding", 0, 42).explain("formatted")
    p = buf.getvalue()
    assert "Filter" in p
    assert "Sort" not in p and "TakeOrdered" not in p
    # codebook is deterministic across calls (the widening loop is a pure
    # function of the data) and trains fine when n exceeds the corpus
    c1 = ivf_centroids(emb, n_centroids=4, sample_per_centroid=64, seed=7)
    c2 = ivf_centroids(emb, n_centroids=4, sample_per_centroid=64, seed=7)
    assert np.array_equal(c1, c2) and c1.shape == (4, 3)


# ----------------------------------------------------- PSL wildcard/exception
PSL_WILDCARD_CASES = [
    # *.ck: every <label>.ck is a public suffix...
    ("user.foo.ck", "user.foo.ck"),
    ("a.user.foo.ck", "user.foo.ck"),
    ("foo.ck", "foo.ck"),        # IS a public suffix -> unchanged
    # ...except !www.ck: www.ck is registrable
    ("www.ck", "www.ck"),
    ("sub.www.ck", "www.ck"),
    ("a.sub.www.ck", "www.ck"),
    # *.kawasaki.jp + !city.kawasaki.jp
    ("city.kawasaki.jp", "city.kawasaki.jp"),
    ("x.city.kawasaki.jp", "city.kawasaki.jp"),
    ("town.kawasaki.jp", "town.kawasaki.jp"),      # wildcard PS -> unchanged
    ("y.town.kawasaki.jp", "y.town.kawasaki.jp"),  # base+2 labels
    ("z.y.town.kawasaki.jp", "y.town.kawasaki.jp"),
    # exact rules unaffected
    ("blog.example.co.uk", "example.co.uk"),
    ("a.b.example.com", "example.com"),
]


def test_psl_wildcard_exception_python_twin():
    from bodhium_webscrapper_spark.functions.canonicalize import (
        registrable_domain_py,
    )

    for host, want in PSL_WILDCARD_CASES:
        assert registrable_domain_py(host) == want, host


def test_psl_wildcard_exception_jvm_parity(spark):
    from bodhium_webscrapper_spark.functions.canonicalize import (
        registrable_domain,
    )

    df = spark.createDataFrame(
        [(h,) for h, _ in PSL_WILDCARD_CASES], "host string"
    ).select("host", registrable_domain(F.col("host")).alias("rd"))
    got = {r["host"]: r["rd"] for r in df.collect()}
    for host, want in PSL_WILDCARD_CASES:
        assert got[host] == want, host


def test_psl_loader_keeps_wildcards():
    from bodhium_webscrapper_spark.functions.canonicalize import (
        load_public_suffix_list,
        registrable_domain_with_rules,
        set_public_suffixes,
        current_suffix_rules,
    )

    text = "// comment\nck\n*.ck\n!www.ck\nco.uk\n"
    old = current_suffix_rules()
    try:
        set_public_suffixes(load_public_suffix_list(text))
        rules = current_suffix_rules()
        assert registrable_domain_with_rules("a.b.ck", rules) == "a.b.ck"
        assert registrable_domain_with_rules("x.www.ck", rules) == "www.ck"
        assert registrable_domain_with_rules("s.e.co.uk", rules) == "e.co.uk"
    finally:
        # restore the module snapshot for other tests
        import bodhium_webscrapper_spark.functions.canonicalize as c

        c._suffix_rules = old


def test_psl_old_exact_only_table_still_accepted():
    from bodhium_webscrapper_spark.functions.canonicalize import (
        registrable_domain_with_rules,
    )

    legacy = {2: frozenset({"co.uk"})}
    assert registrable_domain_with_rules("a.b.co.uk", legacy) == "b.co.uk"
    assert registrable_domain_with_rules("a.b.c", legacy) == "b.c"


# ----------------------------------------------- Hadoop-FS-safe output counts
def test_output_counts_file_uri_and_spark_fallback_agree(spark, tmp_path):
    from bodhium_webscrapper_spark.plans.metrics import output_counts

    out = os.path.join(str(tmp_path), "counts_out")
    spark.range(1000).select(
        F.col("id"), (F.col("id") % 7).alias("n_tokens")
    ).repartition(4).write.parquet(out)
    from bodhium_webscrapper_spark.plans.metrics import _spark_output_counts

    plain = output_counts(spark, out, sum_col="n_tokens")
    file_uri = output_counts(spark, "file://" + out, sum_col="n_tokens")
    # the branch an hdfs://-s3a:// path takes, driven on the same data
    via_spark = _spark_output_counts(spark, out, sum_col="n_tokens")
    assert plain == file_uri == via_spark
    assert plain["rows"] == 1000
    assert plain["sum"] == sum(i % 7 for i in range(1000))


# ------------------------------------------------------------ seeds_distinct
def test_seeds_distinct_identical_on_distinct_seeds(spark, crawl_fixture, tmp_path):
    """With duplicate-free seeds, seeds_distinct=True (skip the wave-0 dedup
    window) must be a pure physical change: identical crawl order and seen
    set; discovery waves still dedup (wave>=1 frontiers carry dup outlinks)."""
    tmp = str(tmp_path)
    ja, sa = _run_job(spark, crawl_fixture, tmp, "r5_dd_off")
    jb, sb = _run_job(spark, crawl_fixture, tmp, "r5_dd_on", seeds_distinct=True)
    assert sa["total_scheduled"] == sb["total_scheduled"] > 0
    assert [tuple(r) for r in ja.crawl_order().collect()] == [
        tuple(r) for r in jb.crawl_order().collect()
    ]
    assert ja.seen_set().select("url_hash").exceptAll(
        jb.seen_set().select("url_hash")
    ).isEmpty()


def test_write_bucketed_relative_path_lands_in_cwd(spark, tmp_path):
    """A RELATIVE table location must resolve against the process cwd (like
    every other artifact path), not silently under spark-warehouse/."""
    from bodhium_webscrapper_spark.plans.bucketed_fetch import write_bucketed

    rel = os.path.relpath(str(tmp_path / "bkt_rel"))
    df = spark.range(10).selectExpr("id as url_hash")
    write_bucketed(df, "rel_bkt_t", 2, rel)
    try:
        assert os.path.exists(os.path.join(rel, "_SUCCESS"))
        assert not os.path.exists(os.path.join("spark-warehouse", rel))
    finally:
        spark.sql("DROP TABLE IF EXISTS rel_bkt_t")


def test_count_split_aggregates_on_host_hash(spark):
    """count_split's over-budget detection must key its aggregation on
    xxhash64(host), not the host string — the count shuffle and broadcast
    probe move 8 B/row. Asserted on the optimized plan, plus exactness on a
    frontier whose NULL group and a colliding-free host mix pass/window."""
    from bodhium_webscrapper_spark.operators.politeness import per_host_budget

    rows = [(f"h{i % 7}.example", i) for i in range(70)]
    rows += [(None, 1000 + i) for i in range(9)]  # over-budget NULL group
    df = spark.createDataFrame(rows, "host string, url_hash long").withColumn(
        "priority", F.lit(1.0)
    )
    out = per_host_budget(df, 5, count_split=True)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "xxhash64(host" in plan
    # NULL hosts hash to the seed constant, so the over-budget NULL group
    # routes through the window and is capped like any host (r4 advice: the
    # string-keyed semi/anti joins let NULLs bypass the budget entirely)
    assert out.count() == 7 * 5 + 5
    assert out.filter(F.col("host").isNull()).count() == 5


# ---------------------------------------------------------------- pagerank priority

def test_rank_priority_deterministic_and_changes_order(spark, crawl_fixture, tmp_path):
    """rank_priority_every blends fixed-point PageRank into frontier
    priorities: two identical runs agree exactly (incl. across a resume),
    and the blended ordering differs from decay-only ordering."""
    tmp = str(tmp_path)
    cfg = dict(max_urls_per_host_per_wave=3, global_wave_limit=60)

    _, s_plain = _run_job(spark, crawl_fixture, tmp, "pr_off", **cfg)
    ja, sa = _run_job(spark, crawl_fixture, tmp, "pr_a",
                      rank_priority_every=1, **cfg)
    jb, sb = _run_job(spark, crawl_fixture, tmp, "pr_b",
                      rank_priority_every=1, **cfg)

    # bit-determinism: identical runs, identical order
    oa, ob = ja.crawl_order(), jb.crawl_order()
    assert [w["scheduled"] for w in sa["waves"]] == [w["scheduled"] for w in sb["waves"]]
    assert oa.exceptAll(ob).isEmpty() and ob.exceptAll(oa).isEmpty()

    # the authority blend must actually change the schedule relative to
    # decay-only ordering in at least one post-seed wave
    j_off = CrawlJob(
        spark, crawl_fixture["pages"],
        spark.read.parquet(crawl_fixture["seeds_full"]),
        spark.read.parquet(crawl_fixture["robots"]),
        CrawlConfig(max_waves=3, **cfg),
        os.path.join(tmp, "pr_off"), job_id="pr_off",
    )
    o_off = j_off.crawl_order().filter(F.col("wave") > 0)
    o_on = oa.filter(F.col("wave") > 0)
    assert not (o_off.exceptAll(o_on).isEmpty() and o_on.exceptAll(o_off).isEmpty())


def test_rank_priority_resume_replays_blend(spark, crawl_fixture, tmp_path):
    """A killed-and-resumed rank-priority run must schedule the same set as
    the uninterrupted one — the blend lives in _frontier_after, a pure
    function of committed artifacts."""
    tmp = str(tmp_path)
    cfg = dict(max_urls_per_host_per_wave=3, global_wave_limit=60,
               rank_priority_every=1)
    _, s_full = _run_job(spark, crawl_fixture, tmp, "pr_full", **cfg)

    seeds = spark.read.parquet(crawl_fixture["seeds_full"])
    robots = spark.read.parquet(crawl_fixture["robots"])
    ck = os.path.join(tmp, "pr_resume")
    CrawlJob(spark, crawl_fixture["pages"], seeds, robots,
             CrawlConfig(max_waves=2, **cfg), ck, job_id="pr_resume").run()
    jr = CrawlJob(spark, crawl_fixture["pages"], seeds, robots,
                  CrawlConfig(max_waves=3, **cfg), ck, job_id="pr_resume")
    sr = jr.run(resume=True)
    assert sr["committed_wave"] == 2
    j_full = CrawlJob(spark, crawl_fixture["pages"], seeds, robots,
                      CrawlConfig(max_waves=3, **cfg),
                      os.path.join(tmp, "pr_full"), job_id="pr_full")
    of, orr = j_full.crawl_order(), jr.crawl_order()
    assert of.exceptAll(orr).isEmpty() and orr.exceptAll(of).isEmpty()


def test_rank_bonus_not_accumulated_on_retries(spark, crawl_fixture, tmp_path):
    """Pending retries re-enter with their stored priority: the authority
    blend applies only to freshly derived outlinks, so a repeatedly missed
    URL must NOT outgrow fresh links by retry count. Structural check: the
    pending branch of the derived frontier carries priorities that exist in
    the committed scheduled artifact (no new bonus added)."""
    tmp = str(tmp_path)
    job, summary = _run_job(
        spark, crawl_fixture, tmp, "pr_retry",
        max_urls_per_host_per_wave=3, global_wave_limit=60,
        rank_priority_every=1,
    )
    last = job.store.committed_wave()
    misses_exist = any(w["misses"] > 0 for w in summary["waves"])
    pending = job._pending_misses(last)
    if misses_exist and pending.count() > 0:
        sched = job.store.read_deltas(spark, "scheduled", last).select(
            "url_hash", F.col("priority").alias("_sched_p")
        )
        joined = pending.join(sched, "url_hash", "inner")
        diverged = joined.filter(
            F.abs(F.col("priority") - F.col("_sched_p")) > 1e-12
        ).count()
        assert diverged == 0


# ---------------------------------------------------------------- strip_tracking


def _tracking_fixture(spark, tmp):
    """Four-page host where /'s outlinks differ only by tracking params."""
    body = " ".join(f"word{i}" for i in range(20))
    links = (
        '<a href="https://trk.example/a?utm_source=x">l1</a>'
        '<a href="https://trk.example/a?gclid=1&x=2">l2</a>'
        '<a href="https://trk.example/a?x=2">l3</a>'
        '<a href="https://trk.example/b">l4</a>'
    )
    rows = [
        ("https://trk.example/", f"<html><body>{links}<p>{body}</p></body></html>"),
        ("https://trk.example/a", f"<html><body><p>{body}</p></body></html>"),
        ("https://trk.example/a?x=2", f"<html><body><p>{body}</p></body></html>"),
        ("https://trk.example/b", f"<html><body><p>{body}</p></body></html>"),
    ]
    pages = os.path.join(tmp, "trk_pages")
    (
        spark.createDataFrame(rows, "url string, html string")
        .withColumn("url_hash", F.xxhash64("url"))
        .write.mode("overwrite")
        .parquet(pages)
    )
    seeds = spark.createDataFrame(
        [("https://trk.example/", 1.0)], "url string, priority double"
    )
    return pages, seeds


def _wave1_urls(spark, pages, seeds, tmp, tag, **cfg_kwargs):
    cfg = CrawlConfig(max_waves=2, global_wave_limit=None, **cfg_kwargs)
    job = CrawlJob(spark, pages, seeds, None, cfg, os.path.join(tmp, tag))
    job.run()
    return sorted(
        r.canonical_url for r in job.crawl_order().filter("wave = 1").collect()
    )


def test_strip_tracking_collapses_outlink_aliases_e2e(spark, tmp_path):
    """With strip_tracking on, the three /a tracking variants key to two
    frontier rows (/a and /a?x=2); off, the reference-parity mode keeps
    all three distinct (app.py:618-622 keys dedup on the raw string)."""
    tmp = str(tmp_path)
    pages, seeds = _tracking_fixture(spark, tmp)
    off = _wave1_urls(spark, pages, seeds, tmp, "trk_off")
    on = _wave1_urls(spark, pages, seeds, tmp, "trk_on", strip_tracking=True)
    assert off == [
        "https://trk.example/a?gclid=1&x=2",
        "https://trk.example/a?utm_source=x",
        "https://trk.example/a?x=2",
        "https://trk.example/b",
    ]
    assert on == [
        "https://trk.example/a",
        "https://trk.example/a?x=2",
        "https://trk.example/b",
    ]


def test_strip_tracking_seed_path_both_branches(spark, tmp_path):
    """Seeds with tracking params key identically whether they enter via
    the canonicalizer UDF or the trusted-canonical JVM branch."""
    tmp = str(tmp_path)
    pages, _ = _tracking_fixture(spark, tmp)
    seeds = spark.createDataFrame(
        [("https://trk.example/?utm_campaign=s", 1.0)],
        "url string, priority double",
    )
    for tag, canon in (("sd_udf", False), ("sd_jvm", True)):
        cfg = CrawlConfig(
            max_waves=1, global_wave_limit=None,
            strip_tracking=True, seeds_canonical=canon,
        )
        job = CrawlJob(spark, pages, seeds, None, cfg, os.path.join(tmp, tag))
        job.run()
        rows = job.crawl_order().collect()
        assert [r.canonical_url for r in rows] == ["https://trk.example/"]


def test_canonical_link_extraction_variants(spark):
    """canonical_link_of covers both attribute orders, single/double
    quotes, case-insensitive rel values, and returns NULL for pages with
    no (or an empty) canonical declaration."""
    from bodhium_webscrapper_spark.functions.extract import canonical_link_of

    rows = [
        ('<link rel="canonical" href="https://a/x"/>', "https://a/x"),
        ("<link href='https://a/y' rel='canonical'>", "https://a/y"),
        ('<LINK REL="Canonical" HREF="https://a/z">', "https://a/z"),
        ('<link rel="canonical" href=""/>', None),
        ("<p>no link here</p>", None),
        ('<link rel="stylesheet" href="https://a/css">', None),
    ]
    df = spark.createDataFrame(
        [(h,) for h, _ in rows], "html string"
    ).select(canonical_link_of(F.col("html")).alias("dst"))
    assert [r.dst for r in df.collect()] == [want for _, want in rows]


def test_canonical_alias_edges_drop_self_and_collapse_chain(spark):
    """Self-canonical pages emit no edge; a 2-hop declaration chain
    resolves to its terminal with exact hops; a mutual pair flags
    is_cycle with NULL final."""
    from bodhium_webscrapper_spark.operators.redirects import (
        canonical_alias_edges,
        resolve_redirects,
    )

    def page(url, canon=None):
        tag = f'<link rel="canonical" href="{canon}"/>' if canon else ""
        return (url, f"<html><head>{tag}</head><body>hi</body></html>")

    pages = spark.createDataFrame(
        [
            page("https://s/a", "https://s/b"),
            page("https://s/b", "https://s/c"),
            page("https://s/c"),
            page("https://s/self", "https://s/self"),
            page("https://s/l1", "https://s/l2"),
            page("https://s/l2", "https://s/l1"),
        ],
        "url string, html_text string",
    )
    edges = canonical_alias_edges(pages, "url", "html_text")
    assert edges.filter(F.col("src") == "https://s/self").count() == 0
    got = {
        r.src_id: (r.final_id, r.hops, r.is_cycle)
        for r in resolve_redirects(edges, max_hops=8).collect()
    }
    assert got["https://s/a"] == ("https://s/c", 2, False)
    assert got["https://s/b"] == ("https://s/c", 1, False)
    assert got["https://s/l1"] == (None, None, True)
    assert got["https://s/l2"] == (None, None, True)


def test_dedup_narrow_exchange_row_identical(spark):
    """The r5 narrow-exchange rewrite of dedup_first_wins_frontier (host
    dropped before the window shuffle, re-derived after) must be row-
    identical to the original full-row window form on frontier rows whose
    host is host_of(canonical_url) — which is every engine source (seeds,
    outlinks, pending)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from bodhium_webscrapper_spark.functions.canonicalize import host_of
    from bodhium_webscrapper_spark.plans.frontier import dedup_first_wins_frontier

    n = 5000
    base = spark.range(n).select(
        F.concat(
            F.lit("https://h"), (F.col("id") % 37).cast("string"),
            F.lit(".example/p"), (F.col("id") % 613).cast("string"),
        ).alias("canonical_url"),
        (F.col("id") % 613).alias("url_hash"),  # forced collisions -> dups
        (F.col("id") % 5).cast("int").alias("depth"),
        (F.pmod(F.col("id") * 7919, F.lit(100)) / 10.0).alias("priority"),
        (F.col("id") % 3).cast("int").alias("retry_count"),
    ).withColumn("host", host_of(F.col("canonical_url"))).select(
        "url_hash", "canonical_url", "host", "depth", "priority", "retry_count"
    )

    w = Window.partitionBy("url_hash").orderBy(
        F.col("priority").desc(), F.col("depth").asc(), F.col("retry_count").desc()
    )
    legacy = (
        base.withColumn("_rn", F.row_number().over(w))
        .withColumn(
            "retry_count", F.max("retry_count").over(Window.partitionBy("url_hash"))
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    got = dedup_first_wins_frontier(base)
    assert got.columns == base.columns
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, legacy.collect()))

