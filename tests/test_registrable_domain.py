"""eTLD+1 (registrable domain) semantics: unit twins + e2e subdomain crawl.

The reference's same-site test is a substring quirk
(/root/reference/app.py:384-387); the engine's default is exact-host
equality; ``domain_scope="registrable"`` gives the public-suffix-aware
behavior a real crawl operator means by "same site"
(blog.example.co.uk ↔ example.co.uk).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from bodhium_webscrapper_spark.functions.canonicalize import (
    registrable_domain,
    registrable_domain_py,
)

CASES = [
    ("example.com", "example.com"),
    ("www2.blog.example.com", "example.com"),
    ("blog.example.co.uk", "example.co.uk"),
    ("a.b.c.example.co.uk", "example.co.uk"),
    ("example.co.uk", "example.co.uk"),
    ("co.uk", "co.uk"),               # bare suffix: default rule
    ("shop.store.com.au", "store.com.au"),
    ("x.gov.br", "x.gov.br"),
    ("deep.ns.x.gov.br", "x.gov.br"),
    ("localhost", "localhost"),
    ("192.168.10.1", "192.168.10.1"),  # IP literal untouched
    ("sub.megahost.example", "megahost.example"),
]


def test_registrable_domain_python_twin():
    for host, want in CASES:
        assert registrable_domain_py(host) == want, host
    assert registrable_domain_py(None) is None


def test_registrable_domain_jvm_matches_python(spark):
    df = spark.createDataFrame([(h,) for h, _ in CASES], ["host"])
    got = {
        r.host: r.rd
        for r in df.select("host", registrable_domain(F.col("host")).alias("rd")).collect()
    }
    assert got == dict(CASES)
    # pure JVM: no python eval in the plan
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.select(registrable_domain(F.col("host"))).explain()
    assert "EvalPython" not in buf.getvalue()


def _subdomain_fixture(spark, tmp_path):
    """Tiny pages table spanning subdomains of one registrable domain plus a
    lookalike host that only the substring quirk over-matches."""
    words = " ".join(f"w{i}" for i in range(12))
    mk = lambda links: (
        f"<html><head><title>t {words}</title></head><body><p>{words}</p>"
        + "".join(f'<a href="{u}">l</a>' for u in links)
        + "</body></html>"
    ).encode()
    rows = [
        ("https://foo.co.uk/", mk([
            "/a",
            "https://shop.foo.co.uk/",
            "https://evilfoo.co.uk/",
            "https://other.example/",
        ])),
        ("https://foo.co.uk/a", mk([])),
        ("https://shop.foo.co.uk/", mk(["https://blog.foo.co.uk/"])),
        ("https://blog.foo.co.uk/", mk([])),
        ("https://evilfoo.co.uk/", mk([])),
        ("https://other.example/", mk([])),
    ]
    path = os.path.join(str(tmp_path), "subdomain_pages")
    spark.createDataFrame(rows, "url string, html binary").withColumn(
        "url_hash", F.xxhash64("url")
    ).write.mode("overwrite").parquet(path)
    return path


def _crawl_hosts(spark, pages, tmp_path, name, **cfg_kwargs):
    from bodhium_webscrapper_spark.plans.frontier import CrawlConfig, CrawlJob

    seeds = spark.createDataFrame([("https://foo.co.uk/", 1.0)], ["url", "priority"])
    job = CrawlJob(
        spark, pages, seeds, None,
        CrawlConfig(max_waves=4, max_urls_per_host_per_wave=10, **cfg_kwargs),
        os.path.join(str(tmp_path), name),
    )
    job.run()
    return {
        r.h
        for r in job.crawl_order()
        .select(F.parse_url("canonical_url", F.lit("HOST")).alias("h"))
        .distinct()
        .collect()
    }


def test_e2e_domain_scopes(spark, tmp_path):
    pages = _subdomain_fixture(spark, tmp_path)
    # exact-host: never leaves foo.co.uk
    assert _crawl_hosts(spark, pages, tmp_path, "host") == {"foo.co.uk"}
    # registrable: spans subdomains of foo.co.uk (incl. one discovered only
    # via another subdomain), but neither the lookalike nor external hosts
    assert _crawl_hosts(
        spark, pages, tmp_path, "reg", domain_scope="registrable"
    ) == {"foo.co.uk", "shop.foo.co.uk", "blog.foo.co.uk"}
    # the reference's substring quirk ALSO over-matches evilfoo.co.uk —
    # reproduced as the fixture-compatibility mode. It is evaluated
    # per-PAGE (base = linking page's host), so blog.foo.co.uk — linked only
    # from shop.foo.co.uk, whose host is not a substring of blog's — stays
    # out: the quirk both over- and under-matches, which is why it is not
    # the default
    assert _crawl_hosts(
        spark, pages, tmp_path, "sub", domain_scope="substring"
    ) == {"foo.co.uk", "shop.foo.co.uk", "evilfoo.co.uk"}
    # scope off: everything reachable
    assert _crawl_hosts(
        spark, pages, tmp_path, "all", domain_scope="all"
    ) == {
        "foo.co.uk", "shop.foo.co.uk", "blog.foo.co.uk",
        "evilfoo.co.uk", "other.example",
    }
