"""Deterministic trafilatura-style HTML → text extraction as pandas UDFs.

This replaces the reference's per-page LLM extraction stage
(``/root/reference/app.py:591-682``: markdown[:50k] → Gemini → JSON). The
LLM call is non-deterministic and is NOT reproduced; instead the engine pins
a deterministic main-content extractor whose output is the per-row invariant:
``extract_text(html)`` must be byte-identical per url to the stored golden
``text`` column of the pages table (BASELINE.json ``input_hint``).

The extractor mirrors the reference crawler's content config
(``app.py:489-500``): strip ``script/style/nav/footer/header`` (plus
``aside/form/noscript/svg/template``), keep the title, drop text blocks under
``word_count_threshold=10`` words (``app.py:492``), collapse whitespace.

Pure function of the input bytes — no clocks, locale, or randomness; regex
pipeline only, so it is stable across pandas/arrow versions.
"""

from __future__ import annotations

import html as _htmllib
import re

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

WORD_COUNT_THRESHOLD = 10  # reference app.py:492

_COMMENT_RE = re.compile(r"<!--.*?-->", re.S)
_DROP_BLOCK_RE = re.compile(
    r"<(script|style|noscript|svg|template|nav|header|footer|aside|form)\b.*?</\1\s*>",
    re.S | re.I,
)
_TITLE_RE = re.compile(r"<title\b[^>]*>(.*?)</title\s*>", re.S | re.I)
_BLOCK_TAG_RE = re.compile(
    r"</?(?:p|div|section|article|main|ul|ol|li|table|tr|td|th|thead|tbody|"
    r"h[1-6]|blockquote|pre|figure|figcaption|dl|dt|dd)\b[^>]*>|<br\s*/?>",
    re.I,
)
_ANY_TAG_RE = re.compile(r"<[^>]+>")
_HSPACE_RE = re.compile(r"[ \t\r\f\v]+")


def extract_text_py(html_bytes: bytes | None) -> str | None:
    """The pinned extractor. bytes → str, deterministic.

    Layout: title line, blank line, then one line per surviving text block
    (blocks with >= WORD_COUNT_THRESHOLD words, mirroring app.py:492).
    """
    if html_bytes is None:
        return None
    raw = (
        html_bytes.decode("utf-8", errors="replace")
        if isinstance(html_bytes, (bytes, bytearray))
        else str(html_bytes)
    )
    s = _COMMENT_RE.sub(" ", raw)
    s = _DROP_BLOCK_RE.sub(" ", s)
    m = _TITLE_RE.search(s)
    title = ""
    if m:
        title = _HSPACE_RE.sub(" ", _htmllib.unescape(_ANY_TAG_RE.sub(" ", m.group(1)))).strip()
        s = s[: m.start()] + " " + s[m.end() :]
    s = _BLOCK_TAG_RE.sub("\n", s)
    s = _ANY_TAG_RE.sub(" ", s)
    s = _htmllib.unescape(s)
    lines: list[str] = []
    for block in s.split("\n"):
        block = _HSPACE_RE.sub(" ", block).strip()
        if not block:
            continue
        if len(block.split(" ")) >= WORD_COUNT_THRESHOLD:
            lines.append(block)
    body = "\n".join(lines)
    if title and body:
        return title + "\n\n" + body
    return title or body


_HREF_RE = re.compile(r"""<a\b[^>]*?\bhref\s*=\s*(?:"([^"]*)"|'([^']*)')""", re.I | re.S)


def extract_links_py(html_bytes: bytes | None) -> list[str]:
    """All <a href> targets, in document order, deduped first-wins."""
    if html_bytes is None:
        return []
    raw = (
        html_bytes.decode("utf-8", errors="replace")
        if isinstance(html_bytes, (bytes, bytearray))
        else str(html_bytes)
    )
    seen: set[str] = set()
    out: list[str] = []
    for m in _HREF_RE.finditer(raw):
        href = (m.group(1) or m.group(2) or "").strip()
        if not href or href.startswith(("#", "javascript:", "mailto:")):
            continue
        if href not in seen:
            seen.add(href)
            out.append(href)
    return out


_PAGE_OUTLINKS_STRUCT = StructType(
    [
        StructField("text", StringType()),
        StructField("outlinks", ArrayType(StringType())),
    ]
)

_HOST_RE = re.compile(r"^https?://([^/:?#]+)")


def make_extract_page_outlinks_udf(link_scope: str = "host"):
    """Fused extract+canonicalize page UDF: (html, page_url) →
    struct(text, outlinks) where ``outlinks`` are already RESOLVED and
    CANONICALIZED (and scope-filtered when configured).

    ``link_scope`` — which outlinks count as in-scope (P4/P7):
      - ``"host"``        exact host equality (default; app.py:497
                          exclude_external_links as exact-host)
      - ``"registrable"`` eTLD+1 equality (blog.example.co.uk ↔
                          example.co.uk) via the embedded public-suffix
                          snapshot — what a real crawl operator means by
                          "same site"
      - ``"substring"``   the reference's quirk, base host as a substring of
                          the link host (app.py:384-387) — fixture
                          compatibility mode
      - ``"all"``         no filtering (external links kept)

    This folds the wave loop's outlink-canonicalization pass into the same
    Arrow batch as text extraction: the html payload crosses into Python
    exactly once, and the downstream frontier derivation becomes pure JVM
    (explode + xxhash64) — removing one Spark job plus a full frontier
    write+read per wave (plans/frontier.py). ``text`` stays byte-identical
    to ``extract_text_py`` (the golden contract); link resolution is
    ``canonicalize.resolve_series``.

    ``page_url`` must be the page's canonical URL (the pages-table contract:
    rows are keyed by xxhash64(url), which only ever matches a frontier row
    when ``url`` equals its canonical form).
    """
    from bodhium_webscrapper_spark.functions.canonicalize import (
        current_suffix_rules,
        registrable_domain_with_rules,
        resolve_series,
    )

    if link_scope not in ("host", "registrable", "substring", "all"):
        raise ValueError(f"unknown link_scope {link_scope!r}")

    # captured BY VALUE at UDF-build time so executors (which re-import the
    # module fresh) apply the same public-suffix rules the driver installed
    psl_rules = current_suffix_rules()

    @pandas_udf(_PAGE_OUTLINKS_STRUCT)
    def extract_page_outlinks(html: pd.Series, page_url: pd.Series) -> pd.DataFrame:
        texts = html.map(extract_text_py)
        raw_lists = [extract_links_py(h) for h in html]
        counts = np.fromiter((len(ls) for ls in raw_lists), dtype=np.int64,
                             count=len(raw_lists))
        n_rows = len(raw_lists)
        flat = [link for ls in raw_lists for link in ls]
        if flat:
            links = pd.Series(flat, dtype="object")
            bases = pd.Series(
                np.repeat(page_url.to_numpy(), counts), dtype="object"
            )
            canon = resolve_series(links, bases)
            keep = canon.notna().to_numpy()
            if link_scope != "all":
                # hosts of canonical forms: scheme://host[:port]/..., host
                # already lowercased/www-stripped by canonicalization —
                # one vectorized regex instead of a per-link urlsplit
                link_hosts = canon.str.extract(_HOST_RE, expand=False)
                base_hosts = bases.str.extract(_HOST_RE, expand=False)
                same_host = (link_hosts == base_hosts).to_numpy()
                if link_scope == "host":
                    keep &= same_host
                else:
                    # exact-host links pass every scope; only the (few)
                    # cross-host survivors need the per-link check
                    widen = keep & ~same_host
                    for i in np.nonzero(widen)[0]:
                        lh, bh = link_hosts.iloc[i], base_hosts.iloc[i]
                        # uniform guard BOTH sides: .str.extract yields NaN
                        # (float) for non-matching values, and a base url
                        # that is not absolute http(s) must not crash the
                        # whole task (one bad pages row ≠ a dead wave)
                        if not isinstance(lh, str) or not isinstance(bh, str):
                            widen[i] = False
                        elif link_scope == "registrable":
                            widen[i] = (
                                registrable_domain_with_rules(lh, psl_rules)
                                == registrable_domain_with_rules(bh, psl_rules)
                            )
                        else:  # substring: the reference quirk app.py:384-387
                            widen[i] = bh in lh
                    keep &= same_host | widen
            row_idx = np.repeat(np.arange(n_rows), counts)[keep]
            kept = canon.to_numpy()[keep]
            bounds = np.searchsorted(row_idx, np.arange(1, n_rows))
            out_lists = [arr.tolist() for arr in np.split(kept, bounds)]
        else:
            out_lists = [[] for _ in range(n_rows)]
        return pd.DataFrame({"text": texts, "outlinks": out_lists})

    return extract_page_outlinks


# ------------------------------------------------------- rel=canonical

_CANON_A = r"""(?i)<link[^>]*rel\s*=\s*["']canonical["'][^>]*href\s*=\s*["']([^"']+)["']"""
_CANON_B = r"""(?i)<link[^>]*href\s*=\s*["']([^"']+)["'][^>]*rel\s*=\s*["']canonical["']"""


def canonical_link_of(html_col):
    """``<link rel="canonical" href=...>`` target from an html STRING column
    (decode binary payloads first), or NULL when the page declares none.

    Pure JVM: two ``regexp_extract`` passes cover both attribute orders
    (rel-then-href and href-then-rel), case-insensitive, coalesced — one
    codegen'd scan, no Python, no DOM parse. The duplicate-content policy
    built on top (collapse alias chains into the declared canonical) lives
    in operators/redirects.canonical_alias_edges.
    """
    from pyspark.sql import functions as F

    a = F.regexp_extract(html_col, _CANON_A, 1)
    b = F.regexp_extract(html_col, _CANON_B, 1)
    return F.coalesce(F.nullif(a, F.lit("")), F.nullif(b, F.lit("")))


# ------------------------------------------------------- meta robots

_META_RB_A = r"""(?i)<meta[^>]*name\s*=\s*["']robots["'][^>]*content\s*=\s*["']([^"']*)["']"""
_META_RB_B = r"""(?i)<meta[^>]*content\s*=\s*["']([^"']*)["'][^>]*name\s*=\s*["']robots["']"""
# directive token inside the comma/space-separated content list; "none"
# is the REP shorthand for "noindex, nofollow"
_RB_NOINDEX_RE = r"(?i)(^|[,\s])(noindex|none)([,\s]|$)"
_RB_NOFOLLOW_RE = r"(?i)(^|[,\s])(nofollow|none)([,\s]|$)"


def meta_robots_content_of(html_col):
    """``<meta name="robots" content=...>`` directive string from an html
    STRING column (decode binary payloads first), or NULL when the page
    declares none. Same shape as :func:`canonical_link_of`: two
    ``regexp_extract`` passes cover both attribute orders, case-
    insensitive, coalesced — one codegen'd scan, no Python, no DOM parse.
    When a page carries several robots metas the FIRST match wins (real
    engines union directives across tags; the engine's single-scan policy
    is documented here and replayed verbatim by the DuckDB oracle).
    """
    from pyspark.sql import functions as F

    a = F.regexp_extract(html_col, _META_RB_A, 1)
    b = F.regexp_extract(html_col, _META_RB_B, 1)
    return F.coalesce(F.nullif(a, F.lit("")), F.nullif(b, F.lit("")))


def meta_robots_cols(html_col):
    """``(noindex, nofollow)`` boolean Columns from an html STRING column —
    the robots-meta page directives (REP's in-page half; robots.txt is the
    per-host half, operators/robots.py). ``noindex`` = the page asks to be
    left out of the built corpus; ``nofollow`` = its outlinks must not be
    followed. ``none`` implies both. Pages with no robots meta read
    (false, false) — absent-means-allowed, the same default as the
    robots.txt gate.
    """
    from pyspark.sql import functions as F

    content = meta_robots_content_of(html_col)
    noindex = F.coalesce(content.rlike(_RB_NOINDEX_RE), F.lit(False))
    nofollow = F.coalesce(content.rlike(_RB_NOFOLLOW_RE), F.lit(False))
    return noindex, nofollow


# hreflang alternates: the <link rel="alternate" hreflang="…" href="…">
# cluster of language/region variants of one page. Both attribute orders
# (the meta-robots lesson) — a tag must carry rel=alternate AND hreflang
# to count, in any order; plain rel=alternate without hreflang is the
# feed/canonical case, not a language variant.
_HREFLANG_TAG_RE = r"""(?i)<link\b[^>]*hreflang\s*=\s*["'][^"']*["'][^>]*>"""
_HREFLANG_LANG_RE = r"""(?i)hreflang\s*=\s*["']([^"']*)["']"""
_HREFLANG_HREF_RE = r"""(?i)href\s*=\s*["']([^"']*)["']"""
_HREFLANG_REL_ALT_RE = r"""(?i)rel\s*=\s*["']alternate["']"""


def hreflang_links(html_col):
    """One array Column of ``struct(hreflang, href)`` per page from an html
    STRING column — the in-page alternate-language map (Google's
    multilingual-site convention; the web's own declaration of "these N
    URLs are the same document in different languages").

    Why a crawler wants it: hreflang clusters are NEAR-DUPLICATES BY
    DECLARATION — a corpus builder can keep one variant per cluster (or
    one per target language) without paying MinHash, and a frontier can
    prioritize variants of already-valuable pages. Lowercases the language
    tag (BCP 47 tags are case-insensitive; ``x-default`` is the fallback
    slot), preserves document order, drops tags missing ``rel=alternate``
    or an ``href``. Pure JVM: one ``regexp_extract_all`` over the scan +
    per-element ``transform``/``filter`` HOFs, zero shuffle, zero Python.
    """
    from pyspark.sql import functions as F

    tags = F.regexp_extract_all(html_col, F.lit(_HREFLANG_TAG_RE), F.lit(0))
    structs = F.transform(
        tags,
        lambda t: F.struct(
            F.lower(F.regexp_extract(t, _HREFLANG_LANG_RE, 1)).alias("hreflang"),
            F.regexp_extract(t, _HREFLANG_HREF_RE, 1).alias("href"),
        ),
    )
    keep = F.filter(
        F.zip_with(
            tags,
            structs,
            lambda t, s: F.when(
                t.rlike(_HREFLANG_REL_ALT_RE) & (s["href"] != ""), s
            ),
        ),
        lambda s: s.isNotNull(),
    )
    return keep
