"""Content-type gating: HTTP header parse + magic-byte sniff, JVM-side.

A crawler must decide per response whether the body is page text worth
extracting or a binary it should route to the media path / drop. The
reference trusts file extensions and its fetcher's defaults (the scrape
branch of ``/root/reference/app.py`` feeds every fetched body to the
extractor); at Common-Crawl scale headers LIE often enough (classic:
``text/html`` serving a PDF) that production pipelines sniff the leading
bytes and let the magic override the header — the same precedence the
WHATWG MIME Sniffing Standard specifies for browsers.

Everything here is ``split``/``regexp_extract``/``startswith`` over the
scan projection — whole-stage codegen, zero shuffle, zero Python — so the
gate costs nothing next to the fetch join it runs inside. Binary magics
that are not valid UTF-8 (PNG's ``\\x89``, ZIP's ``PK\\x03\\x04``) belong
to the BINARY body column of the media path (``functions/multimodal.py``);
this module sniffs the string bodies the pages table carries, whose
ASCII-prefixed magics (``%PDF``, ``GIF8``, markup) survive decoding.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# the html-ish family the extractor accepts; anything else is media/drop
TEXT_MIMES = ("text/html", "application/xhtml+xml", "text/plain", "text/xml")
# weak sniffs: they only fill in a missing header, never override a declared
# type (markup magic does not contradict a text/html header, and a body that
# merely starts with "{" or "[" is no proof of JSON; %PDF and GIF8 are)
_WEAK_SNIFFS = ("text/html", "text/xml", "application/json")

_CHARSET_PARAM_RE = r"""(?i)charset\s*=\s*["']?\s*([A-Za-z0-9_.:\-]+)"""


def content_type_mime(header: Column) -> Column:
    """Media type of a ``Content-Type`` header value: the token before the
    first ``;``, trimmed and lowercased (RFC 9110 §8.3 — type tokens are
    case-insensitive). Empty string when the header is empty/NULL."""
    return F.lower(F.trim(F.split(F.coalesce(header, F.lit("")), ";").getItem(0)))


def content_type_charset(header: Column) -> Column:
    """``charset`` parameter of a ``Content-Type`` header, lowercased;
    NULL when absent. Pairs with ``textstats.sniff_charset`` — the header
    wins over in-document declarations per the HTML spec's encoding
    precedence."""
    return F.nullif(
        F.lower(F.regexp_extract(F.coalesce(header, F.lit("")),
                                 _CHARSET_PARAM_RE, 1)),
        F.lit(""),
    )


def sniff_mime(body: Column) -> Column:
    """Magic-prefix sniff of a (string) response body; NULL when the
    leading bytes claim nothing. Checks the ASCII-safe magics in
    specificity order: ``%PDF``, ``GIF8``, HTML markup (``<!doctype html``
    or ``<html``), an XML prolog, and a JSON value start — the subset of
    the WHATWG sniffing table that survives into a decoded string column."""
    head = F.lower(F.ltrim(F.coalesce(body, F.lit(""))))
    return (
        F.when(head.startswith("%pdf"), F.lit("application/pdf"))
        .when(head.startswith("gif8"), F.lit("image/gif"))
        .when(
            head.startswith("<!doctype html") | head.startswith("<html"),
            F.lit("text/html"),
        )
        .when(head.startswith("<?xml"), F.lit("text/xml"))
        .when(
            head.startswith("{") | head.startswith("["),
            F.lit("application/json"),
        )
        .otherwise(F.lit(None).cast("string"))
    )


def effective_mime(header: Column, body: Column) -> Column:
    """The type the pipeline acts on, WHATWG-precedence: a sniffed binary
    magic (``%PDF``, ``GIF8``) overrides whatever the header claims (the
    lying ``text/html``-serving-a-PDF case); otherwise the declared type; a
    weak sniff (markup, XML prolog, JSON value start) fills in for a
    missing header only; with neither, the RFC 9110 default
    ``application/octet-stream``."""
    declared = content_type_mime(header)
    sniffed = sniff_mime(body)
    return (
        F.when(
            sniffed.isNotNull() & ~sniffed.isin(*_WEAK_SNIFFS), sniffed
        )
        .when(declared != "", declared)
        .when(sniffed.isNotNull(), sniffed)
        .otherwise(F.lit("application/octet-stream"))
    )


def html_gate(header: Column, body: Column) -> Column:
    """True when the response should flow to the text-extraction path:
    its :func:`effective_mime` is in :data:`TEXT_MIMES`. The complement is
    the media/drop route — at 100 TB this predicate is pushed into the
    fetch projection so non-page bytes never reach the extract UDF."""
    return effective_mime(header, body).isin(*TEXT_MIMES)
