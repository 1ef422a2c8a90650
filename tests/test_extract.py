"""Extractor tests: the byte-identical per-row invariant (BASELINE.json).

The pinned extractor defines the golden `text` column of the pages fixture;
the wave loop's fused extract+outlink UDF must reproduce it byte-for-byte
for every url.
"""

from pyspark.sql import functions as F

from bodhium_webscrapper_spark.functions.extract import (
    extract_links_py,
    extract_text_py,
    make_extract_page_outlinks_udf,
)

HTML = (
    b"<html><head><title>T &amp; Co</title><script>var x=1;</script>"
    b"<style>.a{}</style></head><body>"
    b"<nav><a href='/'>home</a> nav words that must vanish entirely from output</nav>"
    b"<header>banner</header>"
    b"<p>one two three four five six seven eight nine ten eleven</p>"
    b"<p>short block</p>"
    b"<div>alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo</div>"
    b"<footer>fine print</footer></body></html>"
)


def test_extract_text_basic():
    out = extract_text_py(HTML)
    assert out.startswith("T & Co\n\n")
    assert "one two three four five six seven eight nine ten eleven" in out
    assert "alpha bravo charlie" in out
    assert "short block" not in out  # word_count_threshold=10 (app.py:492)
    assert "nav words" not in out and "banner" not in out and "fine print" not in out
    assert "var x=1" not in out


def test_extract_text_deterministic():
    assert extract_text_py(HTML) == extract_text_py(HTML)
    assert extract_text_py(None) is None
    assert extract_text_py(b"") == ""


def test_extract_links():
    html = (
        b'<a href="/a">x</a><a href="/a">dup</a><a href=\'https://h/b\'>y</a>'
        b'<a href="#top">skip</a><a href="mailto:a@b">skip</a>'
    )
    assert extract_links_py(html) == ["/a", "https://h/b"]


def test_byte_identical_vs_golden_fixture(spark, crawl_fixture):
    """The loop's extractor text == stored golden text for EVERY page (bytes)."""
    pages = spark.read.parquet(crawl_fixture["pages"])
    page_udf = make_extract_page_outlinks_udf("host")
    mismatch = (
        pages.withColumn("engine_text", page_udf(F.col("html"), F.col("url")).getField("text"))
        .filter(~F.col("engine_text").eqNullSafe(F.col("text")))
        .count()
    )
    assert mismatch == 0
