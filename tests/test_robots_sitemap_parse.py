"""parse_robots_txt / parse_sitemap — raw web
inputs (robots.txt text, sitemap XML) into the engine's typed tables.

Reference parity note: the reference has neither a robots parser nor a
sitemap parser (its seed chain fetches sitemap.xml but delegates the walk
to a library; robots is absent entirely — /root/reference/app.py's only
politeness is asyncio.sleep(1)). These tests pin OUR declared semantics:
RFC 9309 grouping for robots, sitemaps.org regular shape for sitemaps.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from bodhium_webscrapper_spark.operators.robots import (  # noqa: E402
    parse_robots_txt,
    robots_gate,
)
from bodhium_webscrapper_spark.sources.sitemap import (  # noqa: E402
    missing_child_sitemaps,
    parse_sitemap,
    sitemap_seeds,
)

GNARLY = (
    "# corpo robots, CRLF + comments + stacked agents\r\n"
    "Disallow: /ignored-before-any-group\r\n"
    "User-agent: GoogleBot\r\n"
    "User-Agent: bodhium   # stacked onto the same group\r\n"
    "Disallow: /private\r\n"
    "Disallow:            # empty value = allow-all, no prefix\r\n"
    "Crawl-delay: 2.5\r\n"
    "\r\n"
    "User-agent: *\r\n"
    "Disallow: /tmp\r\n"
    "Crawl-delay: notanumber\r\n"
    "Sitemap: https://h0.example/sitemap.xml\r\n"
    "User-agent: bodhium\r\n"  # second bodhium group -> merged with first
    "Disallow: /drafts\r\n"
    "Crawl-delay: 9\r\n"
)

STAR_ONLY = "User-agent: *\nDisallow: /x\nSitemap: https://h1.example/s.xml\n"
NO_MATCH = "User-agent: othercrawler\nDisallow: /everything\n"


def _raw(spark):
    return spark.createDataFrame(
        [
            ("h0.example", GNARLY),
            ("h1.example", STAR_ONLY),
            ("h2.example", NO_MATCH),
        ],
        "host string, robots_txt string",
    )


def test_parse_robots_group_semantics(spark):
    out = {
        r["host"]: r
        for r in parse_robots_txt(_raw(spark), agent="Bodhium").collect()
    }
    # both bodhium groups merged, empty Disallow contributes nothing, the
    # * group's /tmp is NOT taken (specific agent wins)
    assert out["h0.example"]["disallow_prefixes"] == ["/drafts", "/private"]
    # min across merged groups, floor(2.5s * 1000)
    assert out["h0.example"]["crawl_delay_ms"] == 2500
    # star fallback where no specific group exists
    assert out["h1.example"]["disallow_prefixes"] == ["/x"]
    assert out["h1.example"]["crawl_delay_ms"] is None
    # no matching group and no * group -> host absent (= allowed)
    assert "h2.example" not in out


def test_parse_robots_star_agent_default(spark):
    out = {
        r["host"]: r["disallow_prefixes"]
        for r in parse_robots_txt(_raw(spark)).collect()  # agent="*"
    }
    # as "*" we take the * groups only
    assert out["h0.example"] == ["/tmp"]
    assert out["h1.example"] == ["/x"]


def test_parse_robots_feeds_gate_end_to_end(spark):
    rules = parse_robots_txt(_raw(spark), agent="bodhium")
    urls = spark.createDataFrame(
        [
            ("h0.example", "https://h0.example/private/a"),
            ("h0.example", "https://h0.example/public/a"),
            ("h1.example", "https://h1.example/x/1"),  # blocked: /x prefix
            ("h1.example", "https://h1.example/y/1"),
            ("h2.example", "https://h2.example/everything"),
        ],
        "host string, canonical_url string",
    )
    kept = sorted(
        r["canonical_url"] for r in robots_gate(urls, rules).collect()
    )
    assert kept == [
        "https://h0.example/public/a",
        "https://h1.example/y/1",
        "https://h2.example/everything",  # no group matched -> allowed
    ]


def test_parse_robots_blank_between_stacked_agents(spark):
    """RFC 9309: blank/comment lines have no grouping significance — a
    blank or comment BETWEEN two consecutive User-agent lines must not
    split the group (regression: the lag-based grouper keyed on the
    immediately preceding raw line, so 'User-agent: a\\n\\nUser-agent: b\\n
    Disallow: /x' gave agent a zero rules)."""
    raw = spark.createDataFrame(
        [("h.example",
          "User-agent: bodhium\n# note\n\nUser-agent: googlebot\n"
          "Disallow: /x\n")],
        "host string, robots_txt string",
    )
    row = parse_robots_txt(raw, agent="bodhium").collect()[0]
    assert row["disallow_prefixes"] == ["/x"]


def test_parse_robots_allow_collected(spark):
    raw = spark.createDataFrame(
        [("h.example",
          "User-agent: *\nDisallow: /p\nAllow: /p/ok\nAllow:\nAllow: /q\n")],
        "host string, robots_txt string",
    )
    row = parse_robots_txt(raw).collect()[0]
    assert row["disallow_prefixes"] == ["/p"]
    assert row["allow_prefixes"] == ["/p/ok", "/q"]  # empty Allow dropped


def test_robots_gate_rfc_precedence(spark):
    """RFC 9309 §2.2.2 most-octets-wins + allow-wins-ties, §2.2.3 * and $."""
    rules = spark.createDataFrame(
        [("h.example", ["/p", "/q/*/x", "/exact$", "/same"],
          ["/p/ok", "/q", "/same"], None)],
        "host string, disallow_prefixes array<string>, "
        "allow_prefixes array<string>, crawl_delay_ms long",
    )
    cases = {
        "/p/a": False,        # only /p (2) matches -> blocked
        "/p/ok/z": True,      # allow /p/ok (5) > dis /p (2)
        "/q/1/x": False,      # dis /q/*/x (6) > allow /q (2)
        "/q/z": True,         # wildcard misses; allow /q matches
        "/exact": False,      # $-anchored dis matches exactly
        "/exactmore": True,   # $ anchor misses
        "/same/x": True,      # dis /same (5) == allow /same (5) -> allow
    }
    urls = spark.createDataFrame(
        [("h.example", f"https://h.example{p}") for p in cases],
        "host string, canonical_url string",
    )
    kept = {r["canonical_url"].replace("https://h.example", "")
            for r in robots_gate(urls, rules).collect()}
    assert kept == {p for p, ok in cases.items() if ok}


def test_robots_gate_legacy_schema_unchanged(spark):
    """A rules table WITHOUT allow_prefixes (the fixture shape) behaves
    exactly as before: any matching disallow blocks."""
    rules = spark.createDataFrame(
        [("h.example", ["/x"], None)],
        "host string, disallow_prefixes array<string>, crawl_delay_ms long",
    )
    urls = spark.createDataFrame(
        [("h.example", "https://h.example/x/1"),
         ("h.example", "https://h.example/y")],
        "host string, canonical_url string",
    )
    kept = [r["canonical_url"] for r in robots_gate(urls, rules).collect()]
    assert kept == ["https://h.example/y"]


def test_parse_robots_no_python_in_plan(spark):
    plan = (
        parse_robots_txt(_raw(spark))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


URLSET = """<?xml version="1.0" encoding="UTF-8"?>
<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <url>
    <loc>https://h.example/a?x=1&amp;y=2</loc>
    <lastmod>2026-01-02</lastmod>
  </url>
  <url><loc> https://h.example/b </loc></url>
  <url><lastmod>2026-01-03</lastmod></url>
</urlset>
"""

INDEX = (
    '<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
    "<sitemap><loc>https://h.example/s1.xml</loc>"
    "<lastmod>2026-02-01T00:00:00Z</lastmod></sitemap>"
    "<sitemap><loc>https://h.example/s2.xml</loc></sitemap>"
    "</sitemapindex>"
)


def test_parse_sitemap_urlset_and_index(spark):
    df = spark.createDataFrame(
        [("https://h.example/sitemap.xml", URLSET),
         ("https://h.example/index.xml", INDEX)],
        "sitemap_url string, sitemap_xml string",
    )
    rows = parse_sitemap(df).collect()
    byloc = {r["loc"]: r for r in rows}
    # entity unescape + whitespace trim; entry with no <loc> dropped
    assert set(byloc) == {
        "https://h.example/a?x=1&y=2",
        "https://h.example/b",
        "https://h.example/s1.xml",
        "https://h.example/s2.xml",
    }
    a = byloc["https://h.example/a?x=1&y=2"]
    assert (a["kind"], a["entry_pos"], a["lastmod"]) == ("urlset", 0, "2026-01-02")
    b = byloc["https://h.example/b"]
    assert (b["kind"], b["entry_pos"], b["lastmod"]) == ("urlset", 1, None)
    s1 = byloc["https://h.example/s1.xml"]
    assert (s1["kind"], s1["entry_pos"], s1["lastmod"]) == (
        "index", 0, "2026-02-01T00:00:00Z",
    )
    # no shuffle: the whole parse is a scan-shaped map
    plan = (
        parse_sitemap(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_sitemap_seeds_best_position_wins(spark):
    """A URL listed in several sitemaps keeps its best (earliest) position;
    index entries contribute no seeds; priority = 1/(1+pos)."""
    other = (
        "<urlset><url><loc>https://h.example/z</loc></url>"
        "<url><loc>https://h.example/b</loc></url></urlset>"
    )
    df = spark.createDataFrame(
        [("https://h.example/sitemap.xml", URLSET),
         ("https://h.example/index.xml", INDEX),
         ("https://h.example/other.xml", other)],
        "sitemap_url string, sitemap_xml string",
    )
    seeds = {r["url"]: r["priority"] for r in sitemap_seeds(df).collect()}
    assert seeds == {
        "https://h.example/a?x=1&y=2": 1.0,  # pos 0 in URLSET
        "https://h.example/b": 0.5,          # pos 1 in both listings
        "https://h.example/z": 1.0,          # pos 0 in other
    }
    # s1/s2 (index children) are not seeds
    assert not any(u.endswith(".xml") for u in seeds)


def test_missing_child_sitemaps_anti_join(spark):
    df = spark.createDataFrame(
        [("https://h.example/index.xml", INDEX),
         ("https://h.example/s1.xml", URLSET)],  # s1 fetched, s2 not
        "sitemap_url string, sitemap_xml string",
    )
    missing = [r["sitemap_url"] for r in missing_child_sitemaps(df).collect()]
    assert missing == ["https://h.example/s2.xml"]


def test_sitemap_seeds_drive_wave0_identically(spark, crawl_fixture, tmp_path):
    """The --sitemaps CLI source: rendering the fixture's seed list as
    sitemap XML bodies and deriving seeds via sitemap_seeds schedules the
    SAME wave-0 URL set as feeding the seeds table directly (priorities
    differ in value — 1/(1+position) vs the fixture's — but the per-host
    seed is unique, so the scheduled set is invariant)."""
    import os

    from pyspark.sql import Window

    from bodhium_webscrapper_spark.plans.frontier import CrawlConfig, CrawlJob

    seeds = spark.read.parquet(crawl_fixture["seeds"])
    # render all seeds into a handful of sitemap documents, 10 per doc,
    # ordered by (priority desc, url) so positions follow fixture priority
    xml = (
        seeds.select(
            "url",
            F.floor(
                (F.row_number().over(
                    Window.orderBy(F.col("priority").desc(), F.col("url"))
                ) - 1) / 10
            ).alias("doc"),
        )
        .groupBy("doc")
        .agg(
            F.concat(
                F.lit("<urlset>"),
                F.array_join(
                    F.collect_list(
                        F.concat(F.lit("<url><loc>"), F.col("url"),
                                 F.lit("</loc></url>"))
                    ),
                    "",
                ),
                F.lit("</urlset>"),
            ).alias("sitemap_xml"),
            F.concat(F.lit("https://seeds.example/sm"),
                     F.col("doc").cast("string"), F.lit(".xml")).alias(
                "sitemap_url"
            ),
        )
        .select("sitemap_url", "sitemap_xml")
    )
    derived = sitemap_seeds(xml)

    robots = spark.read.parquet(crawl_fixture["robots"])
    cfg = CrawlConfig(max_urls_per_host_per_wave=5, max_waves=1,
                      global_wave_limit=0)
    ja = CrawlJob(spark, crawl_fixture["pages"], seeds, robots, cfg,
                  os.path.join(str(tmp_path), "direct"))
    jb = CrawlJob(spark, crawl_fixture["pages"], derived, robots, cfg,
                  os.path.join(str(tmp_path), "sitemap"))
    ja.run()
    jb.run()
    a = {r["canonical_url"] for r in ja.crawl_order().collect()}
    b = {r["canonical_url"] for r in jb.crawl_order().collect()}
    assert a == b and len(a) > 0


def test_rules_roundtrip_through_text(spark, crawl_fixture):
    """Fixture rules table -> rendered robots.txt text -> parse_robots_txt
    == the original rules (the CLI's --robots-txt path is equivalent to
    --robots on the same information)."""
    rules = spark.read.parquet(crawl_fixture["robots"])
    # render each host's rules as a robots.txt body
    body = F.concat(
        F.lit("User-agent: *\n"),
        F.array_join(
            F.transform(
                "disallow_prefixes",
                lambda pfx: F.concat(F.lit("Disallow: "), pfx),
            ),
            "\n",
        ),
        F.when(
            F.col("crawl_delay_ms").isNotNull() & (F.col("crawl_delay_ms") > 0),
            F.concat(
                F.lit("\nCrawl-delay: "),
                (F.col("crawl_delay_ms") / 1000.0).cast("string"),
            ),
        ).otherwise(F.lit("")),
    )
    raw = rules.select("host", body.alias("robots_txt"))
    parsed = parse_robots_txt(raw)
    orig = rules.select(
        "host",
        F.array_sort("disallow_prefixes").alias("disallow_prefixes"),
        F.when(
            F.col("crawl_delay_ms") > 0, F.col("crawl_delay_ms")
        ).alias("crawl_delay_ms"),
    ).filter(F.size("disallow_prefixes") > 0)
    got = parsed.filter(F.size("disallow_prefixes") > 0).select(
        "host", "disallow_prefixes", "crawl_delay_ms"
    )
    assert got.exceptAll(orig).count() == 0
    assert orig.exceptAll(got).count() == 0
