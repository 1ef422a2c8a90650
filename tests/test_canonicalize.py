"""Unit tests for the RFC 3986 canonicalizer (SURVEY.md §2.2 P1-P4, §2.9 U2).

Covers the reference's quirks (scheme prefixing app.py:381-383, www/port
stripping app.py:272-280) plus the full-normalization cases the north rule
adds on top.
"""

import pytest
from pyspark.sql import functions as F

from bodhium_webscrapper_spark.functions.canonicalize import (
    canonicalize_one,
    with_canonical_url,
)

CASES = [
    # reference quirk: bare domain → https:// (app.py:381-383)
    ("example.com", "https://example.com/"),
    ("http://example.com", "http://example.com/"),
    # lowercase scheme + host, strip www (app.py:272-280)
    ("HTTPS://WWW.Example.COM/Path", "https://example.com/Path"),
    # default ports stripped, non-default kept
    ("https://example.com:443/a", "https://example.com/a"),
    ("http://example.com:80/a", "http://example.com/a"),
    ("https://example.com:8443/a", "https://example.com:8443/a"),
    # fragment removed
    ("https://example.com/a#frag", "https://example.com/a"),
    # dot-segment resolution (RFC 3986 §5.2.4)
    ("https://example.com/a/./b/../c", "https://example.com/a/c"),
    ("https://example.com/./p1", "https://example.com/p1"),
    # percent-encoding: decode unreserved, uppercase the rest
    ("https://example.com/%7Euser/%2fx", "https://example.com/~user/%2Fx"),
    # query sort + empty query dropped
    ("https://example.com/p?b=2&a=1", "https://example.com/p?a=1&b=2"),
    ("https://example.com/p?", "https://example.com/p"),
    # non-http rejected
    ("ftp://example.com/x", None),
    ("", None),
    (None, None),
]


@pytest.mark.parametrize("raw,expected", CASES)
def test_canonicalize_one(raw, expected):
    assert canonicalize_one(raw) == expected


def test_relative_resolution():
    assert (
        canonicalize_one("../sibling", "https://example.com/a/b/c")
        == "https://example.com/a/sibling"
    )
    assert canonicalize_one("/p9", "https://h.example/p1") == "https://h.example/p9"


def test_idempotent():
    for raw, expected in CASES:
        if expected:
            assert canonicalize_one(expected) == expected


def test_with_canonical_url_spark(spark):
    df = spark.createDataFrame(
        [("HTTPS://WWW.Example.COM:443/p?b=2&a=1#f",), ("example.com",), ("ftp://x/y",)],
        ["url"],
    )
    rows = with_canonical_url(df).orderBy("canonical_url").collect()
    assert [r.canonical_url for r in rows] == [
        "https://example.com/",
        "https://example.com/p?a=1&b=2",
    ]
    assert rows[0].host == "example.com"
    assert all(isinstance(r.url_hash, int) for r in rows)
    # url_hash must equal the JVM built-in xxhash64 of the canonical url
    check = df.select(F.xxhash64(F.lit("https://example.com/")).alias("h")).first().h
    assert rows[0].url_hash == check


def test_variant_urls_collide(spark):
    variants = [
        "https://megahost.example/p7",
        "HTTPS://WWW.MEGAHOST.EXAMPLE:443/p7#frag",
        "https://megahost.example/./p7",
        "megahost.example/p7",
    ]
    canon = {canonicalize_one(v) for v in variants}
    assert canon == {"https://megahost.example/p7"}


def test_strip_tracking_params_hand_cases(spark):
    from bodhium_webscrapper_spark.functions.canonicalize import (
        strip_tracking_params,
    )

    cases = [
        # (input, expected)
        ("https://a.com/p", "https://a.com/p"),                    # no query
        ("https://a.com/p?id=1&utm_source=x", "https://a.com/p?id=1"),
        ("https://a.com/p?gclid=z", "https://a.com/p"),            # all gone
        ("https://a.com/p?utm_campaign", "https://a.com/p"),       # bare flag
        ("https://a.com/p?fbclid=1&id=2&utm_m=3", "https://a.com/p?id=2"),
        ("https://a.com/p?utmx=1", "https://a.com/p?utmx=1"),      # not utm_
        ("https://a.com/p?page=2&ref_src=tw", "https://a.com/p?page=2"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    out = [
        r["s"]
        for r in df.select(
            strip_tracking_params(F.col("url")).alias("s")
        ).collect()
    ]
    assert out == [e for _, e in cases]


def test_strip_tracking_params_plan_is_jvm(spark):
    from bodhium_webscrapper_spark.functions.canonicalize import (
        strip_tracking_params,
    )

    df = spark.range(10).select(
        F.concat(F.lit("https://h/p?id="), F.col("id").cast("string")).alias("url")
    )
    p = (
        df.select(strip_tracking_params(F.col("url")).alias("s"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
