"""Sitemap XML parsing — ``<urlset>``/``<sitemapindex>`` to rows, JVM-side.

The reference's seed discovery fetches ``sitemap.xml`` per site and walks
its ``<loc>`` entries (S1 in SURVEY.md §2.1; ``/root/reference/app.py``
sitemap branch of the seed chain). Here the fetched sitemap BODIES are a
DataFrame column and the walk is a scan-shaped extraction: one
``regexp_extract_all`` + ``posexplode`` per document, everything
whole-stage codegen — at 10^8 sitemaps this is an embarrassingly parallel
map with no shuffle at all.

Scope (documented, tested): the sitemaps.org protocol's regular shape —
``<url>``/``<sitemap>`` entry blocks with ``<loc>`` and optional
``<lastmod>`` children, the five predefined XML entities unescaped.
CDATA sections and exotic namespace prefixes are out of scope for the
regexp form; a production upgrade swaps ``_ENTRY_RE`` extraction for a
real XML parser behind the same output schema.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# one entry block per <url>…</url> (urlset) or <sitemap>…</sitemap>
# (sitemapindex); (?s) so entries may span lines
_ENTRY_RE = r"(?s)<(?:url|sitemap)\b[^>]*>(.*?)</(?:url|sitemap)>"
_LOC_RE = r"(?s)<loc>\s*(.*?)\s*</loc>"
_LASTMOD_RE = r"(?s)<lastmod>\s*(.*?)\s*</lastmod>"


def _xml_unescape(col: Column) -> Column:
    """The five predefined XML entities, innermost (&amp;) last so
    double-escaped text unescapes exactly one level."""
    out = col
    for ent, ch in (
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&apos;", "'"),
        ("&amp;", "&"),
    ):
        out = F.replace(out, F.lit(ent), F.lit(ch))
    return out


def parse_sitemap(
    df: DataFrame,
    xml_col: str = "sitemap_xml",
    source_col: str = "sitemap_url",
) -> DataFrame:
    """Explode sitemap XML bodies into ``(sitemap_url, kind, entry_pos,
    loc, lastmod)`` rows.

    ``kind`` is ``"index"`` for ``<sitemapindex>`` documents (entries are
    child sitemap URLs to fetch next — the seed scan loops those back) and
    ``"urlset"`` otherwise (entries are page URLs — frontier seeds).
    ``entry_pos`` is the 0-based position of the entry in its document, so
    downstream first-wins dedup keeps the sitemap author's ordering.
    ``lastmod`` stays a trimmed string (W3C datetime or date); casting is
    the caller's choice. Entries with no ``<loc>`` are dropped. URLs are
    entity-unescaped but NOT canonicalized — that is the seed pipeline's
    job.
    """
    kind = F.when(
        F.col(xml_col).contains("<sitemapindex"), F.lit("index")
    ).otherwise(F.lit("urlset"))
    entries = df.select(
        F.col(source_col).alias("sitemap_url"),
        kind.alias("kind"),
        F.posexplode(
            F.regexp_extract_all(F.col(xml_col), F.lit(_ENTRY_RE), F.lit(1))
        ).alias("entry_pos", "_entry"),
    )
    loc = F.regexp_extract(F.col("_entry"), _LOC_RE, 1)
    lastmod = F.regexp_extract(F.col("_entry"), _LASTMOD_RE, 1)
    return (
        entries.select(
            "sitemap_url",
            "kind",
            "entry_pos",
            _xml_unescape(loc).alias("loc"),
            F.nullif(_xml_unescape(lastmod), F.lit("")).alias("lastmod"),
        )
        .filter(F.col("loc") != "")
    )


def sitemap_seeds(df: DataFrame, xml_col: str = "sitemap_xml",
                  source_col: str = "sitemap_url") -> DataFrame:
    """Batch-collected sitemap bodies → frontier seed list
    ``(url, priority double)``.

    The reference's seed chain fetches sitemaps per domain and enqueues
    every discovered URL (``/root/reference/app.py:305-328``); here the
    fetched BODIES arrive as a table (the batch analogue of "fetch", same
    contract as the pages table) and seeding is one scan + one aggregation:

    - ``<urlset>`` entries become seeds; ``<sitemapindex>`` entries are
      pointers at other sitemaps, which — when crawled — appear as further
      ROWS of the same input, so their urlset contents are already covered
      and the index rows themselves contribute no seeds;
    - ``priority = 1.0 / (1.0 + entry_pos)`` honors the sitemap author's
      ordering (position 0 → 1.0, monotonically decreasing), feeding the
      frontier's priority-desc scheduling without inventing information
      the protocol doesn't carry;
    - a URL listed in several sitemaps keeps its best (earliest) position:
      ``max(priority)`` groupBy url — first-wins across documents, exactly
      the frontier's own dedup semantics.

    Scale shape: the parse is an exchange-free scan; the dedup is one hash
    aggregation keyed on url — at 10^8 sitemap entries this is a single
    bounded shuffle, and the output feeds wave 0 unchanged.
    """
    entries = parse_sitemap(df, xml_col=xml_col, source_col=source_col)
    return (
        entries.filter(F.col("kind") == "urlset")
        .select(
            F.col("loc").alias("url"),
            (F.lit(1.0) / (F.lit(1.0) + F.col("entry_pos"))).alias("_p"),
        )
        .groupBy("url")
        .agg(F.max("_p").alias("priority"))
    )


def missing_child_sitemaps(df: DataFrame, xml_col: str = "sitemap_xml",
                           source_col: str = "sitemap_url") -> DataFrame:
    """Child sitemaps referenced by ``<sitemapindex>`` entries but ABSENT
    from the input — the fetch frontier for the next sitemap round.

    ``(sitemap_url)`` rows, distinct. An anti-join against the input's own
    key column: broadcast-sized in practice (index files are few), and the
    planner picks the strategy. Lets a driver loop fetch sitemaps to a
    fixpoint the same way the crawl loop fetches pages."""
    children = (
        parse_sitemap(df, xml_col=xml_col, source_col=source_col)
        .filter(F.col("kind") == "index")
        .select(F.col("loc").alias("sitemap_url"))
        .distinct()
    )
    have = df.select(F.col(source_col).alias("sitemap_url")).distinct()
    return children.join(have, "sitemap_url", "left_anti")
