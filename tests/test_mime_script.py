"""Content-type gating (functions/mime.py) and Unicode-script profiling
(functions/textstats.py script_counts / dominant_script)."""

from __future__ import annotations

from pyspark.sql import functions as F

from bodhium_webscrapper_spark.functions.mime import (
    content_type_charset,
    content_type_mime,
    effective_mime,
    html_gate,
    sniff_mime,
)
from bodhium_webscrapper_spark.functions.textstats import (
    dominant_script,
    script_counts,
)


def _one(spark, header, body):
    df = spark.createDataFrame([(header, body)], "h string, b string")
    return df.select(
        content_type_mime(F.col("h")).alias("mime"),
        content_type_charset(F.col("h")).alias("charset"),
        sniff_mime(F.col("b")).alias("sniffed"),
        effective_mime(F.col("h"), F.col("b")).alias("eff"),
        html_gate(F.col("h"), F.col("b")).alias("keep"),
    ).first()


def test_mime_lying_header_magic_overrides(spark):
    r = _one(spark, "text/html; charset=UTF-8", "%PDF-1.7 data")
    assert r.mime == "text/html" and r.charset == "utf-8"
    assert r.sniffed == "application/pdf"
    assert r.eff == "application/pdf" and r.keep is False


def test_mime_texty_sniff_does_not_contradict(spark):
    r = _one(spark, "application/xhtml+xml", '<?xml version="1.0"?><html/>')
    assert r.sniffed == "text/xml"
    assert r.eff == "application/xhtml+xml" and r.keep is True


def test_mime_weak_json_sniff_keeps_declared_text(spark):
    r = _one(spark, "text/plain", "[DRAFT] notes")
    assert r.sniffed == "application/json"
    assert r.eff == "text/plain" and r.keep is True
    r = _one(spark, None, '{"a": 1}')
    assert r.eff == "application/json" and r.keep is False


def test_mime_missing_header_sniff_fills(spark):
    r = _one(spark, None, "  <HTML><body>x")
    assert r.mime == "" and r.sniffed == "text/html"
    assert r.eff == "text/html" and r.keep is True


def test_mime_octet_stream_default(spark):
    r = _one(spark, "", "no magic at all")
    assert r.sniffed is None
    assert r.eff == "application/octet-stream" and r.keep is False


def test_mime_charset_quote_and_space_variants(spark):
    r = _one(spark, 'TEXT/HTML ; charset = "ISO-8859-1"', "<html>")
    assert r.mime == "text/html" and r.charset == "iso-8859-1"
    assert r.keep is True


def test_script_counts_and_dominance(spark):
    rows = [
        ("hello world", "latin"),
        ("привет мир", "cyrillic"),
        ("αβγ δε", "greek"),
        ("中文 网页", "han"),
        ("abc абв", "latin"),  # exact tie -> priority order breaks to latin
        ("1234 .,!?", "unknown"),
        ("中文中文 ab", "han"),
    ]
    df = spark.createDataFrame([(t,) for t, _ in rows], "t string")
    got = [
        r.s
        for r in df.select(dominant_script(F.col("t")).alias("s")).collect()
    ]
    assert got == [want for _, want in rows]
    c = (
        spark.createDataFrame([("ab вг 中",)], "t string")
        .select(
            *[
                v.alias(k)
                for k, v in script_counts(F.col("t")).items()
            ]
        )
        .first()
    )
    assert (c.latin, c.cyrillic, c.greek, c.han, c.letters) == (2, 2, 0, 1, 5)
