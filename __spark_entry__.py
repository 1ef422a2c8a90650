"""Driver contract for the spark-graft builder (PySpark target).

Every ``queries()`` entry is an operator from SURVEY.md §2 (or the
training-data-pipeline extensions), expressed through the engine's public
modules; ``oracle_sql()`` gives the DuckDB-replayable ANSI-SQL equivalent.
Crawl-shaped inputs (URLs, hosts, robots rules, near-duplicate documents,
duplicate embeddings) are synthesized *inside* each query from the provided
tables with identical deterministic expressions on both sides, so the
correctness gate exercises real operator semantics, not trivial scans.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# --------------------------------------------------------------------------
# shared deterministic synthesizers (Spark side); each has a twin inside the
# oracle SQL string — the pair must stay in lockstep.
# --------------------------------------------------------------------------

def _docs_with_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ near-duplicate variants: every 10th doc reappears with
    three extra tokens appended and doc_id+10000."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    variants = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz91 zz92 zz93")).alias("text"),
    )
    return docs.unionByName(variants)


_DOCS_WITH_DUPS_SQL = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 10000 AS doc_id, text || ' zz91 zz92 zz93' AS text
    FROM documents WHERE doc_id % 10 = 0
"""

def _docs_with_exact_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ byte-identical copies (modulo case+whitespace) of every
    7th doc — exercises exact dedup (reference app.py:684-703)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    copies = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 20000).alias("doc_id"),
        F.concat(F.lit("  "), F.upper(F.col("text"))).alias("text"),
    )
    return docs.unionByName(copies)


_DOCS_EXACT_DUPS_SQL = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 20000 AS doc_id, '  ' || upper(text) AS text
    FROM documents WHERE doc_id % 7 = 0
"""

def _emb_with_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    copies = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding"
    )
    return emb.unionByName(copies)


_EMB_WITH_DUPS_SQL = """
    SELECT vec_id, embedding::DOUBLE[] AS embedding FROM embeddings
    UNION ALL
    SELECT vec_id + 10000 AS vec_id, embedding::DOUBLE[] AS embedding
    FROM embeddings WHERE vec_id % 10 = 0
"""


# --------------------------------------------------------------------------
# crawl-core queries
# --------------------------------------------------------------------------

def q_canonicalize_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2/P1-P3: RFC 3986 canonicalizer over synthesized messy URLs."""
    from bodhium_webscrapper_spark.functions.canonicalize import canonicalize_udf

    docs = _t(spark, sf_dir, "documents")
    m = (F.col("doc_id") % 7).cast("string")
    raw = (
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(F.lit("HTTPS://WWW.Shop"), m, F.lit(".Example:443/Items/?b=2&a=1")))
        .when(F.col("doc_id") % 5 == 1, F.concat(F.lit("shop"), m, F.lit(".example")))
        .when(F.col("doc_id") % 5 == 2,
              F.concat(F.lit("http://shop"), m, F.lit(".example:80/a/./b/../c#frag")))
        .when(F.col("doc_id") % 5 == 3,
              F.concat(F.lit("https://shop"), m, F.lit(".example/%7euser")))
        .otherwise(F.lit("ftp://nope.example/x"))
    )
    return (
        docs.select("doc_id", canonicalize_udf(raw).alias("canonical_url"))
        .filter(F.col("canonical_url").isNotNull())
        .orderBy("doc_id")
    )


_Q_CANONICALIZE_SQL = """
    SELECT doc_id,
        CASE doc_id % 5
          WHEN 0 THEN 'https://shop' || (doc_id % 7) || '.example/Items/?a=1&b=2'
          WHEN 1 THEN 'https://shop' || (doc_id % 7) || '.example/'
          WHEN 2 THEN 'http://shop' || (doc_id % 7) || '.example/a/c'
          WHEN 3 THEN 'https://shop' || (doc_id % 7) || '.example/~user'
        END AS canonical_url
    FROM documents WHERE doc_id % 5 <> 4 ORDER BY doc_id
"""


def q_url_dedup_first_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: first-wins URL dedup in discovery order (app.py:376-390)."""
    from bodhium_webscrapper_spark.operators.dedup import first_wins_dedup

    docs = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("https://h"), (F.col("doc_id") % 50).cast("string"),
                 F.lit(".example/p"), (F.col("doc_id") % 100).cast("string")).alias("url"),
        F.col("doc_id").alias("discovery_seq"),
    )
    return first_wins_dedup(docs, ["url"], [F.col("discovery_seq").asc()]).select(
        "url", F.col("discovery_seq").alias("first_seq")
    ).orderBy("url")


_Q_URL_DEDUP_SQL = """
    SELECT url, discovery_seq AS first_seq FROM (
        SELECT 'https://h' || (doc_id % 50) || '.example/p' || (doc_id % 100) AS url,
               doc_id AS discovery_seq,
               row_number() OVER (PARTITION BY ('https://h' || (doc_id % 50) ||
                 '.example/p' || (doc_id % 100)) ORDER BY doc_id) AS rn
        FROM documents) WHERE rn = 1 ORDER BY url
"""


def q_host_budget_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/W3: per-host politeness budget — top-3 per host by priority."""
    from bodhium_webscrapper_spark.operators.politeness import per_host_budget

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("url_hash"),
        F.concat(F.lit("h"), (F.col("doc_id") % 20).cast("string")).alias("host"),
        F.col("n_chars").cast("double").alias("priority"),
    )
    out = per_host_budget(
        docs, 3, host_col="host",
        order_by=[F.col("priority").desc(), F.col("url_hash").asc()],
        salt_buckets=8, rank_col="rnk",
    )
    return out.select("host", F.col("url_hash").alias("doc_id"), "rnk").orderBy(
        "host", "rnk"
    )


_Q_HOST_BUDGET_SQL = """
    SELECT host, doc_id, rnk FROM (
        SELECT 'h' || (doc_id % 20) AS host, doc_id,
               row_number() OVER (PARTITION BY ('h' || (doc_id % 20))
                 ORDER BY CAST(n_chars AS DOUBLE) DESC, doc_id ASC) AS rnk
        FROM documents) WHERE rnk <= 3 ORDER BY host, rnk
"""


def q_robots_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5: robots disallow-prefix gate via broadcast rules table."""
    from bodhium_webscrapper_spark.operators.robots import robots_gate

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id"),
        F.concat(F.lit("h"), (F.col("doc_id") % 10).cast("string"), F.lit(".example")).alias("host"),
        F.concat(
            F.lit("https://h"), (F.col("doc_id") % 10).cast("string"), F.lit(".example"),
            F.when(F.col("doc_id") % 5 == 0, F.lit("/private/x")).otherwise(F.lit("/page")),
        ).alias("canonical_url"),
    )
    rules = spark.createDataFrame(
        [(f"h{i}.example", ["/private"], 0) for i in range(10) if i % 3 == 0],
        "host string, disallow_prefixes array<string>, crawl_delay_ms long",
    )
    return robots_gate(docs, rules).select("doc_id", "canonical_url").orderBy("doc_id")


_Q_ROBOTS_SQL = """
    SELECT doc_id,
           'https://h' || (doc_id % 10) || '.example' ||
             (CASE WHEN doc_id % 5 = 0 THEN '/private/x' ELSE '/page' END) AS canonical_url
    FROM documents
    WHERE NOT (doc_id % 5 = 0 AND (doc_id % 10) % 3 = 0)
    ORDER BY doc_id
"""


def q_blocklist_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UT1/FineWeb-style blocklist gate: banned registrable domains drop
    every subdomain under them (hosts here are www.hN.example — the gate
    must match on eTLD+1, not the literal host), banned URL substrings
    drop any URL containing them. The reference has no blocklist; this is
    the third frontier gate a production crawl runs next to robots and
    politeness."""
    from bodhium_webscrapper_spark.operators.blocklist import blocklist_gate

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id"),
        F.concat(
            F.lit("www.h"), (F.col("doc_id") % 10).cast("string"), F.lit(".example")
        ).alias("host"),
        F.concat(
            F.lit("https://www.h"),
            (F.col("doc_id") % 10).cast("string"),
            F.lit(".example"),
            F.when(F.col("doc_id") % 7 == 0, F.lit("/tracker/x")).otherwise(
                F.lit("/page")
            ),
        ).alias("canonical_url"),
    )
    bl = spark.createDataFrame(
        [
            ("domain", "h0.example"),
            ("domain", "h3.example"),
            ("domain", "h6.example"),
            ("substring", "/tracker/"),
        ],
        "kind string, pattern string",
    )
    return (
        blocklist_gate(docs, bl)
        .select("doc_id", "canonical_url")
        .orderBy("doc_id")
    )


_Q_BLOCKLIST_SQL = """
    SELECT doc_id,
           'https://www.h' || (doc_id % 10) || '.example' ||
             (CASE WHEN doc_id % 7 = 0 THEN '/tracker/x' ELSE '/page' END)
             AS canonical_url
    FROM documents
    WHERE (doc_id % 10) NOT IN (0, 3, 6) AND doc_id % 7 != 0
    ORDER BY doc_id
"""


def q_seen_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/A1: the exact URL-seen anti-join on url_hash, the wave loop's
    seen step. Registered as ``seen_antijoin_bloom``, a pinned key the
    driver gate verifies; there is no bloom pre-pass any more."""
    docs = _t(spark, sf_dir, "documents")
    key = F.xxhash64(F.concat(F.lit("u"), F.col("doc_id").cast("string"))).alias("url_hash")
    frontier = docs.select(key, F.col("doc_id"))
    seen = docs.filter(F.col("doc_id") % 2 == 0).select(key)
    return frontier.join(seen, "url_hash", "left_anti").select("doc_id").orderBy("doc_id")


_Q_SEEN_ANTIJOIN_SQL = "SELECT doc_id FROM documents WHERE doc_id % 2 = 1 ORDER BY doc_id"


def q_source_priority_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SET1: fallback union — first source empty ⇒ second source wins
    (app.py:305-374 sitemap→CC→manual chain)."""
    from bodhium_webscrapper_spark.operators.union import source_priority_union_df

    docs = _t(spark, sf_dir, "documents")
    sitemap = docs.filter(F.col("source") == "no_such_source").select("doc_id")
    cc = docs.filter(F.col("source") == "src7").select("doc_id")
    manual = docs.filter(F.col("source") == "src6").select("doc_id")
    return source_priority_union_df([sitemap, cc, manual]).orderBy("doc_id")


_Q_SOURCE_UNION_SQL = "SELECT doc_id FROM documents WHERE source = 'src7' ORDER BY doc_id"


def q_product_hash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11+A2+J2: sha256 product hash + first-wins dedup (RDS/app.py:446-508)."""
    from bodhium_webscrapper_spark.operators.dedup import first_wins_dedup

    products = _t(spark, sf_dir, "part").select(
        F.col("p_partkey"),
        F.col("p_name").alias("productname"),
        F.concat(F.lit("https://shop"), (F.col("p_partkey") % 10).cast("string"),
                 F.lit(".example")).alias("source_url"),
        F.col("p_size").cast("string").alias("current_price"),
    ).withColumn(
        "product_hash",
        F.sha2(F.concat_ws("", "productname", "source_url", "current_price"), 256),
    )
    return first_wins_dedup(products, ["product_hash"], [F.col("p_partkey").asc()]).select(
        "product_hash", F.col("p_partkey").alias("first_key")
    ).orderBy("product_hash")


_Q_PRODUCT_HASH_SQL = """
    SELECT product_hash, p_partkey AS first_key FROM (
        SELECT p_partkey,
               sha256(p_name || ('https://shop' || (p_partkey % 10) || '.example')
                      || CAST(p_size AS VARCHAR)) AS product_hash,
               row_number() OVER (PARTITION BY sha256(p_name ||
                 ('https://shop' || (p_partkey % 10) || '.example') ||
                 CAST(p_size AS VARCHAR)) ORDER BY p_partkey) AS rn
        FROM part) WHERE rn = 1 ORDER BY product_hash
"""


def q_crawl_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: deterministic wave ordering (priority desc, url asc) + global cap."""
    docs = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("https://h"), (F.col("doc_id") % 40).cast("string"),
                 F.lit(".example/")).alias("url"),
        (F.col("doc_id") % 3).cast("double").alias("priority"),
        "doc_id",
    )
    w = Window.orderBy(F.col("priority").desc(), F.col("url").asc(), F.col("doc_id").asc())
    return (
        docs.withColumn("seq", F.row_number().over(w))
        .filter(F.col("seq") <= 100)
        .select("seq", "url", "doc_id")
        .orderBy("seq")
    )


_Q_CRAWL_ORDER_SQL = """
    SELECT seq, url, doc_id FROM (
        SELECT row_number() OVER (ORDER BY CAST(doc_id % 3 AS DOUBLE) DESC,
                 ('https://h' || (doc_id % 40) || '.example/') ASC, doc_id ASC) AS seq,
               'https://h' || (doc_id % 40) || '.example/' AS url, doc_id
        FROM documents) WHERE seq <= 100 ORDER BY seq
"""


def q_global_wave_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 scale path (round 5): the exact DISTRIBUTED global wave cap —
    ``global_ordered_cap`` with the threshold-filter form FORCED
    (takeordered_threshold=0), so the oracle validates the priority-level /
    url_hash-histogram walk, not TakeOrdered. Must equal
    ORDER BY priority DESC, url_hash ASC LIMIT k. doc_id%5 priorities give
    137 a mid-level boundary (27 full rows of levels 4..1 < 137 < 200),
    exercising the histogram + boundary-hash steps."""
    from bodhium_webscrapper_spark.operators.politeness import global_ordered_cap

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("url_hash"),
        (F.col("doc_id") % 5).cast("double").alias("priority"),
    )
    out = global_ordered_cap(docs, 137, takeordered_threshold=0)
    return out.select("url_hash", "priority").orderBy(
        F.col("priority").desc(), F.col("url_hash").asc()
    )


_Q_GLOBAL_CAP_SQL = """
    SELECT doc_id AS url_hash, CAST(doc_id % 5 AS DOUBLE) AS priority
    FROM documents ORDER BY priority DESC, url_hash ASC LIMIT 137
"""


def q_brand_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P13: brand = initcap(first dns label) (RDS/app.py:700)."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.lit("shop"), (F.col("doc_id") % 7).cast("string"),
                 F.lit(".example")).alias("host"),
    )
    return docs.select(
        "doc_id", F.initcap(F.split_part(F.col("host"), F.lit("."), F.lit(1))).alias("brand")
    ).orderBy("doc_id")


_Q_BRAND_SQL = """
    SELECT doc_id,
           upper(substr(split_part('shop' || (doc_id % 7) || '.example', '.', 1), 1, 1)) ||
           substr(split_part('shop' || (doc_id % 7) || '.example', '.', 1), 2) AS brand
    FROM documents ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# join / aggregation queries (reference upserts + report rollups)
# --------------------------------------------------------------------------

def q_fetch_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: frontier⋈pages analogue — orders⋈lineitem equi-join + rollup."""
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    return (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        )
        .orderBy("o_orderpriority")
    )


_Q_FETCH_JOIN_SQL = """
    SELECT o_orderpriority, count(*) AS n_items,
           CAST(sum(l_quantity) AS BIGINT) AS sum_qty
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def q_pushdown_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-flavored scan+agg: predicate pushdown + partial aggregation."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") < "1998-09-01")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_Q_PUSHDOWN_AGG_SQL = """
    SELECT l_returnflag, l_linestatus, CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
           count(*) AS count_order
    FROM lineitem WHERE l_shipdate < TIMESTAMP '1998-09-01'
    GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus
"""


def q_session_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: success/fail rollup (app.py:752-756,993-1002)."""
    ev = _t(spark, sf_dir, "events")
    return ev.agg(
        F.count(F.lit(1)).alias("total_events"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("successful"),
        F.sum(F.when(F.col("event_type") != "click", 1).otherwise(0)).alias("failed"),
        F.countDistinct("user_id").alias("n_users"),
    )


_Q_SESSION_SUMMARY_SQL = """
    SELECT count(*) AS total_events,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS successful,
           CAST(sum(CASE WHEN event_type <> 'click' THEN 1 ELSE 0 END) AS BIGINT) AS failed,
           count(DISTINCT user_id) AS n_users
    FROM events
"""


def q_metric_rollups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: per-group metric rollups (app.py:884-887)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 1000).cast("long")).alias("value_millis"),
        )
        .orderBy("event_type")
    )


_Q_METRIC_ROLLUPS_SQL = """
    SELECT event_type, count(*) AS n,
           CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS value_millis
    FROM events GROUP BY event_type ORDER BY event_type
"""


def q_token_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10/A6: pricing-tier classification + per-tier cost sums
    (app.py:255-270, tiers app.py:177-189)."""
    docs = _t(spark, sf_dir, "documents")
    tiered = docs.select(
        F.when(F.col("n_chars") <= 256, F.lit("standard"))
        .otherwise(F.lit("large_context")).alias("pricing_tier"),
        F.col("n_chars"),
    )
    return (
        tiered.groupBy("pricing_tier")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum(
                F.col("n_chars")
                * F.when(F.col("pricing_tier") == "standard", 75).otherwise(150)
            ).alias("micro_cost"),
        )
        .orderBy("pricing_tier")
    )


_Q_TOKEN_ACCOUNTING_SQL = """
    SELECT pricing_tier, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(n_chars * (CASE WHEN pricing_tier = 'standard' THEN 75 ELSE 150 END))
                AS BIGINT) AS micro_cost
    FROM (SELECT CASE WHEN n_chars <= 256 THEN 'standard' ELSE 'large_context' END
            AS pricing_tier, n_chars FROM documents)
    GROUP BY pricing_tier ORDER BY pricing_tier
"""


def q_group_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: discovered-URL rollup by source (app.py:403-420)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("total_chars"))
        .orderBy("source")
    )


_Q_GROUP_BY_SOURCE_SQL = """
    SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY source ORDER BY source
"""


def q_top10_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4: display top-10 per source group (app.py:411-420)."""
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
    return (
        docs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 10)
        .select("source", "doc_id", "rnk")
        .orderBy("source", "rnk")
    )


_Q_TOP10_SQL = """
    SELECT source, doc_id, rnk FROM (
        SELECT source, doc_id,
               row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id ASC) AS rnk
        FROM documents) WHERE rnk <= 10 ORDER BY source, rnk
"""


# --------------------------------------------------------------------------
# text analysis
# --------------------------------------------------------------------------

def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bodhium_webscrapper_spark.functions.textstats import subword_count_est, token_count

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        subword_count_est(F.col("text")).alias("n_subwords"),
    ).orderBy("doc_id")


_Q_TOKEN_COUNT_SQL = """
    SELECT doc_id,
      CASE WHEN length(trim(text)) = 0 THEN 0
           ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
      CAST(list_aggregate(list_transform(
          string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' '),
          w -> CAST(ceil(length(w) / 4.0) AS BIGINT)), 'sum')
        + (length(text) - length(regexp_replace(text, '[.,!?;:''"()\\-]', '', 'g')))
        AS BIGINT) AS n_subwords
    FROM documents ORDER BY doc_id
"""


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bodhium_webscrapper_spark.functions.textstats import quality_score

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.floor(quality_score(F.col("text")) * 1e6).cast("long").alias("quality_micro"),
    ).orderBy("doc_id")


_Q_QUALITY_SQL = """
    WITH t AS (
      SELECT doc_id, text,
        string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks,
        CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tok
      FROM documents),
    s AS (
      SELECT doc_id,
        least(CAST(n_tok AS DOUBLE) / 100.0, 1.0) AS len_score,
        least((CASE WHEN len(toks) > 0 THEN
            CAST(len(list_filter(toks, x -> list_contains(
              ['the','and','of','to','in','is','that','with','for','was'], x))) AS DOUBLE)
            / len(toks) ELSE 0.0 END) * 5.0, 1.0) AS stop_score,
        CASE WHEN len(toks) > 0 THEN
            CAST(list_aggregate(list_transform(toks, w -> length(w)), 'sum') AS DOUBLE)
            / len(toks) ELSE 0.0 END AS mwl,
        least((CASE WHEN length(text) > 0 THEN
            CAST(length(text) - length(regexp_replace(text, '[.,!?;:''"()\\-]', '', 'g'))
              AS DOUBLE) / length(text) ELSE 0.0 END) * 2.0, 0.5) AS punct_pen
      FROM t)
    SELECT doc_id, CAST(floor(round(
        (len_score * 0.4 + stop_score * 0.3 +
         (CASE WHEN mwl >= 3.0 AND mwl <= 10.0 THEN 1.0 ELSE 0.5 END) * 0.3)
        - punct_pen, 6) * 1e6) AS BIGINT) AS quality_micro
    FROM s ORDER BY doc_id
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bodhium_webscrapper_spark.functions.textstats import lang_id

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", lang_id(F.col("text")).alias("lang_pred")).orderBy("doc_id")


_Q_LANG_ID_SQL = """
    WITH t AS (
      SELECT doc_id,
        string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
      FROM documents),
    s AS (
      SELECT doc_id,
        len(list_filter(toks, x -> list_contains(
          ['the','and','of','to','in','is','that','with','for','was'], x))) AS en,
        len(list_filter(toks, x -> list_contains(
          ['der','die','das','und','ist','nicht','eine','mit','von','für'], x))) AS de,
        len(list_filter(toks, x -> list_contains(
          ['le','la','les','et','est','pas','une','avec','dans','pour'], x))) AS fr
      FROM t)
    SELECT doc_id,
      CASE WHEN greatest(en, de, fr) = 0 THEN 'und'
           WHEN en = greatest(en, de, fr) THEN 'en'
           WHEN de = greatest(en, de, fr) THEN 'de'
           ELSE 'fr' END AS lang_pred
    FROM s ORDER BY doc_id
"""


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (emails/SSNs/phones/IPv4 → typed tokens) over documents
    with PLANTED PII: per-doc category counts + md5 of the scrubbed text
    (the value oracle checks redaction byte-for-byte). Pure JVM
    regexp_replace/regexp_count; patterns are backref/lookaround-free so
    Java and RE2 agree."""
    from bodhium_webscrapper_spark.functions.textstats import pii_counts, pii_scrub

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"), F.col("doc_id").cast("string"),
                F.lit("@example.com or 555-123-4567 or 10.0.0."),
                (F.col("doc_id") % 255).cast("string"),
                F.lit(" ssn 123-45-6789"),
            ),
        ).otherwise(F.col("text")).alias("text"),
    )
    counts = pii_counts(F.col("text"))
    return docs.select(
        "doc_id",
        counts["email"].cast("long").alias("n_emails"),
        counts["phone"].cast("long").alias("n_phones"),
        counts["ipv4"].cast("long").alias("n_ips"),
        counts["ssn"].cast("long").alias("n_ssns"),
        F.md5(pii_scrub(F.col("text"))).alias("scrubbed_md5"),
    ).orderBy("doc_id")


_Q_PII_SCRUB_SQL = r"""
    WITH d AS (
      SELECT doc_id,
        CASE WHEN doc_id % 3 = 0 THEN
          text || ' contact user' || doc_id || '@example.com or 555-123-4567 or 10.0.0.'
               || (doc_id % 255) || ' ssn 123-45-6789'
        ELSE text END AS text
      FROM documents)
    SELECT doc_id,
      len(regexp_extract_all(text, '[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}')) AS n_emails,
      len(regexp_extract_all(text, '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b')) AS n_phones,
      len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ips,
      len(regexp_extract_all(text, '\b\d{3}-\d{2}-\d{4}\b')) AS n_ssns,
      md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
        '[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
        '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>', 'g'),
        '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g')) AS scrubbed_md5
    FROM d ORDER BY doc_id
"""


def q_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-line stripping over documents with PLANTED footer/nav
    chrome: line counts before/after + md5 of the stripped text. The strip
    keeps content lines verbatim (curation stage for a 100 TB corpus)."""
    from bodhium_webscrapper_spark.functions.textstats import strip_boilerplate

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit("Subscribe to our newsletter today\n"),
                F.col("text"),
                F.lit("\nCopyright 2020 Example Corp\nAll rights reserved"),
            ),
        ).otherwise(F.col("text")).alias("text"),
    )
    stripped = strip_boilerplate(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), r"\n")).cast("long").alias("n_lines_before"),
        F.size(F.split(stripped, r"\n")).cast("long").alias("n_lines_after"),
        F.md5(stripped).alias("stripped_md5"),
    ).orderBy("doc_id")


_Q_BOILERPLATE_SQL = r"""
    WITH d AS (
      SELECT doc_id,
        CASE WHEN doc_id % 4 = 0 THEN
          'Subscribe to our newsletter today' || chr(10) || text || chr(10) ||
          'Copyright 2020 Example Corp' || chr(10) || 'All rights reserved'
        ELSE text END AS text
      FROM documents),
    s AS (
      SELECT doc_id, text,
        array_to_string(list_filter(string_split(text, chr(10)),
          l -> NOT regexp_matches(lower(l),
            '^\s*(copyright|all rights reserved|terms of (service|use)|privacy policy|cookie policy|subscribe to our newsletter|click here|share this (page|article))')),
          chr(10)) AS stripped
      FROM d)
    SELECT doc_id,
      len(string_split(text, chr(10))) AS n_lines_before,
      len(string_split(stripped, chr(10))) AS n_lines_after,
      md5(stripped) AS stripped_md5
    FROM s ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# dedup suite
# --------------------------------------------------------------------------

def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5(normalized text) groups with their survivor."""
    from bodhium_webscrapper_spark.functions.textstats import doc_fingerprint

    df = _docs_with_exact_dups(spark, sf_dir)
    return (
        df.select("doc_id", doc_fingerprint(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("survivor"))
        .filter(F.col("n_docs") >= 2)
        .orderBy("fp")
    )


_Q_EXACT_DEDUP_SQL = f"""
    WITH d AS ({_DOCS_EXACT_DUPS_SQL})
    SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
           count(*) AS n_docs, min(doc_id) AS survivor
    FROM d GROUP BY 1 HAVING count(*) >= 2 ORDER BY fp
"""


def q_ngram_jaccard_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram Jaccard near-dup pairs (LSH-pruned, exact-verified)."""
    from bodhium_webscrapper_spark.operators.dedup import ngram_jaccard_pairs

    df = _docs_with_near_dups(spark, sf_dir)
    pairs = ngram_jaccard_pairs(df, "doc_id", "text", shingle_k=3, threshold=0.5)
    return pairs.select("id_a", "id_b").orderBy("id_a", "id_b")


def _jaccard_pair_ctes(threshold: float) -> str:
    """Shared CTE text (d → sh → pairs) for every exact 3-gram-Jaccard
    oracle — the single source of the shingle definition, so the pair
    oracle and the cluster oracle cannot silently desynchronize."""
    return f"""d AS ({_DOCS_WITH_DUPS_SQL}),
    sh AS (
      SELECT doc_id, list_distinct(
        CASE WHEN len(toks) >= 3 THEN
          list_transform(range(1, len(toks) - 1),
                         i -> array_to_string(toks[i:i+2], ' '))
        ELSE [array_to_string(toks, ' ')] END) AS shingles
      FROM (SELECT doc_id,
              string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
            FROM d)),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_filter(a.shingles, x -> list_contains(b.shingles, x))) AS DOUBLE)
            / (len(a.shingles) + len(b.shingles)
               - len(list_filter(a.shingles, x -> list_contains(b.shingles, x)))) >= {threshold})"""


def _ngram_jaccard_sql(threshold: float) -> str:
    """Exact 3-gram Jaccard pair oracle at the given threshold."""
    return f"""
    WITH {_jaccard_pair_ctes(threshold)}
    SELECT id_a, id_b FROM pairs ORDER BY id_a, id_b
"""


_Q_NGRAM_JACCARD_SQL = _ngram_jaccard_sql(0.5)

# MinHash-LSH output is exact-verified at jaccard >= 0.7 (candidate gen only
# bounds recall); the oracle is the exact-Jaccard twin at the same threshold.
# Equality additionally evidences banding recall = 1.0 on this fixture (the
# in-repo tests assert the exact-verify half independently).
_Q_MINHASH_SQL = _ngram_jaccard_sql(0.7)


def q_minhash_lsh_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates, exact-verified at jaccard>=0.7.

    Oracle: the exact 3-gram Jaccard pair set at the same threshold
    (_Q_MINHASH_SQL). The output is exact w.r.t. precision by construction
    (candidates are verified on the true shingle sets); matching the oracle
    additionally certifies banding recall 1.0 on this fixture.
    """
    from bodhium_webscrapper_spark.operators.dedup import minhash_lsh_pairs

    df = _docs_with_near_dups(spark, sf_dir)
    return minhash_lsh_pairs(
        df, "doc_id", "text", n_hashes=32, bands=8, jaccard_threshold=0.7
    ).select("id_a", "id_b").orderBy("id_a", "id_b")


def q_simhash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming <= 3), run under the md5-derived
    60-bit token hash so DuckDB can rebuild the signatures bit-for-bit
    (production default stays xxhash64 — same banding/majority/verify
    logic, see dedup.md5_token_hash)."""
    from bodhium_webscrapper_spark.operators.dedup import md5_token_hash, simhash_pairs

    df = _docs_with_near_dups(spark, sf_dir)
    return simhash_pairs(
        df, "doc_id", "text", max_hamming=3, token_hash=md5_token_hash
    ).select("id_a", "id_b", "hamming").orderBy("id_a", "id_b")


_Q_SIMHASH_SQL = f"""
    WITH d AS ({_DOCS_WITH_DUPS_SQL}),
    tok AS (
      SELECT doc_id,
             unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS t
      FROM d),
    th AS (
      SELECT doc_id, CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) AS h
      FROM tok),
    n AS (SELECT doc_id, count(*) AS n_tok FROM th GROUP BY doc_id),
    bits AS (
      SELECT doc_id, r.b AS b, sum(CAST((h >> r.b) & 1 AS BIGINT)) AS ones
      FROM th, unnest(range(0, 60)) AS r(b)
      GROUP BY doc_id, r.b),
    sig AS (
      SELECT bits.doc_id,
             CAST(sum(CASE WHEN ones * 2 > n.n_tok
                           THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS s
      FROM bits JOIN n USING (doc_id) GROUP BY bits.doc_id)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.s, b.s)) AS INTEGER) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.s, b.s)) <= 3
    ORDER BY id_a, id_b
"""




def _docs_with_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents re-chunked into 8-word lines; every 3rd doc gets its first
    line appended again (a planted duplicate line for the Gopher signals)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " ")
    n_lines = F.ceil(F.size(toks) / F.lit(8)).cast("int")
    lines = F.transform(
        F.sequence(F.lit(0), n_lines - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i * 8 + 1, 8)),
    )
    joined = F.array_join(lines, "\n")
    return docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(joined, F.lit("\n"), F.element_at(lines, 1)),
        ).otherwise(joined).alias("text"),
    )


_DOCS_LINES_SQL = r"""
    SELECT doc_id,
      CASE WHEN doc_id % 3 = 0
           THEN array_to_string(lines, chr(10)) || chr(10) || lines[1]
           ELSE array_to_string(lines, chr(10)) END AS text
    FROM (
      SELECT doc_id,
        list_transform(range(0, CAST(ceil(len(toks) / 8.0) AS INT)),
                       i -> array_to_string(toks[i*8+1:i*8+8], ' ')) AS lines
      FROM (SELECT doc_id,
              string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
            FROM documents))
"""



def q_pagerank_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point integer PageRank (3 iterations) over a deterministic
    synthetic link graph on documents: doc i links to (3i+1) mod N and
    (5i+2) mod N, every 4th doc also links to doc 0 (a hub with in-degree
    skew). Integer arithmetic end-to-end, so ranks are bit-identical under
    any shuffle order AND in the DuckDB twin (see operators/pagerank.py on
    why float PageRank breaks deterministic crawl replay)."""
    from bodhium_webscrapper_spark.operators.pagerank import pagerank_fixed_point

    edges = _synthetic_link_graph(spark, sf_dir)
    return (
        pagerank_fixed_point(edges, "src", "dst", iterations=3)
        .select(F.col("id").alias("doc_id"), "rank")
        .orderBy("doc_id")
    )


_Q_PAGERANK_SQL = """
    WITH nn AS (SELECT max(doc_id) + 1 AS n FROM documents),
    edges AS (
      SELECT doc_id AS src, (doc_id * 3 + 1) % n AS dst FROM documents, nn
      UNION ALL
      SELECT doc_id AS src, (doc_id * 5 + 2) % n AS dst FROM documents, nn
      UNION ALL
      SELECT doc_id AS src, 0 AS dst FROM documents WHERE doc_id % 4 = 0),
    nodes AS (SELECT DISTINCT id FROM
              (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges)),
    outdeg AS (SELECT src AS id, count(*) AS outd FROM edges GROUP BY src),
    r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS r FROM nodes),
    c1 AS (SELECT e.dst AS id, CAST(sum(r0.r // o.outd) AS BIGINT) AS s
           FROM edges e JOIN r0 ON e.src = r0.id JOIN outdeg o ON e.src = o.id
           GROUP BY e.dst),
    r1 AS (SELECT n.id, CAST(150000 + (85 * coalesce(c1.s, 0)) // 100 AS BIGINT) AS r
           FROM nodes n LEFT JOIN c1 USING (id)),
    c2 AS (SELECT e.dst AS id, CAST(sum(r1.r // o.outd) AS BIGINT) AS s
           FROM edges e JOIN r1 ON e.src = r1.id JOIN outdeg o ON e.src = o.id
           GROUP BY e.dst),
    r2 AS (SELECT n.id, CAST(150000 + (85 * coalesce(c2.s, 0)) // 100 AS BIGINT) AS r
           FROM nodes n LEFT JOIN c2 USING (id)),
    c3 AS (SELECT e.dst AS id, CAST(sum(r2.r // o.outd) AS BIGINT) AS s
           FROM edges e JOIN r2 ON e.src = r2.id JOIN outdeg o ON e.src = o.id
           GROUP BY e.dst),
    r3 AS (SELECT n.id, CAST(150000 + (85 * coalesce(c3.s, 0)) // 100 AS BIGINT) AS r
           FROM nodes n LEFT JOIN c3 USING (id))
    SELECT id AS doc_id, r AS rank FROM r3 ORDER BY doc_id
"""


def q_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText repetition signals (Rae et al. 2021 A1.1) over
    line-chunked documents with planted duplicate lines. All-integer output
    (numerators/denominators of the published fractions)."""
    from bodhium_webscrapper_spark.operators.quality import gopher_repetition_signals

    return gopher_repetition_signals(
        _docs_with_lines(spark, sf_dir), "doc_id", "text"
    ).orderBy("doc_id")


_Q_GOPHER_SQL = rf"""
    WITH fx AS ({_DOCS_LINES_SQL}),
    ln AS (
      SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM fx),
    pl AS (
      SELECT doc_id, line, count(*) AS c, length(line) AS l
      FROM ln GROUP BY doc_id, line),
    line_stats AS (
      SELECT doc_id,
        CAST(sum(c * l) AS BIGINT) AS total_chars,
        CAST(sum(c) AS BIGINT) AS n_lines,
        CAST(sum(c - 1) AS BIGINT) AS dup_lines,
        CAST(sum((c - 1) * l) AS BIGINT) AS dup_line_chars
      FROM pl GROUP BY doc_id),
    toks AS (
      SELECT doc_id,
        string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
      FROM fx),
    g2 AS (
      SELECT doc_id, array_to_string(t[i+1:i+2], ' ') AS g
      FROM (SELECT doc_id, t, unnest(range(0, len(t) - 1)) AS i FROM toks WHERE len(t) >= 2)),
    top2 AS (
      SELECT doc_id, CAST(max(c) AS BIGINT) AS top2_count,
             CAST(max(c * length(g)) AS BIGINT) AS top2_cover
      FROM (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY doc_id, g)
      GROUP BY doc_id),
    g3 AS (
      SELECT doc_id, array_to_string(t[i+1:i+3], ' ') AS g
      FROM (SELECT doc_id, t, unnest(range(0, len(t) - 2)) AS i FROM toks WHERE len(t) >= 3)),
    top3 AS (
      SELECT doc_id, CAST(max(c) AS BIGINT) AS top3_count,
             CAST(max(c * length(g)) AS BIGINT) AS top3_cover
      FROM (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY doc_id, g)
      GROUP BY doc_id)
    SELECT s.doc_id, s.total_chars, s.n_lines, s.dup_lines, s.dup_line_chars,
           coalesce(top2_count, 0) AS top2_count, coalesce(top2_cover, 0) AS top2_cover,
           coalesce(top3_count, 0) AS top3_count, coalesce(top3_cover, 0) AS top3_cover
    FROM line_stats s
    LEFT JOIN top2 USING (doc_id) LEFT JOIN top3 USING (doc_id)
    ORDER BY s.doc_id
"""


def q_c4_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style heuristics (Raffel et al. 2020) over line-chunked docs with
    planted terminal punctuation (every 2nd doc) and a lorem-ipsum/curly
    line (every 5th doc); integer + boolean signals and the combined keep
    rule."""
    from bodhium_webscrapper_spark.operators.quality import c4_signals

    docs = _docs_with_lines(spark, sf_dir)
    fixed = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 2 == 0,
            F.array_join(
                F.transform(F.split(F.col("text"), "\n"), lambda l: F.concat(l, F.lit("."))),
                "\n",
            ),
        ).otherwise(F.col("text")).alias("text"),
    ).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.col("text"), F.lit("\nsee { Lorem Ipsum } now")),
        ).otherwise(F.col("text")).alias("text"),
    )
    sig = c4_signals(F.col("text"), min_words=5)
    return fixed.select(
        "doc_id", *[c.alias(name) for name, c in sig.items()]
    ).orderBy("doc_id")


_Q_C4_SQL = rf"""
    WITH base AS ({_DOCS_LINES_SQL}),
    p1 AS (
      SELECT doc_id,
        CASE WHEN doc_id % 2 = 0
             THEN array_to_string(list_transform(string_split(text, chr(10)), l -> l || '.'), chr(10))
             ELSE text END AS text
      FROM base),
    fx AS (
      SELECT doc_id,
        CASE WHEN doc_id % 5 = 0
             THEN text || chr(10) || 'see {{ Lorem Ipsum }} now'
             ELSE text END AS text
      FROM p1)
    SELECT doc_id,
      CAST(len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS BIGINT) AS n_words,
      CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
      CAST(len(list_filter(string_split(text, chr(10)),
                           l -> regexp_matches(l, '[.!?]$'))) AS BIGINT) AS n_terminal_lines,
      CAST(len(list_filter(regexp_split_to_array(text, '[.!?]'),
                           s -> length(trim(s)) > 0)) AS BIGINT) AS n_sentences,
      contains(lower(text), 'lorem ipsum') AS has_lorem,
      contains(text, '{{') AS has_curly,
      (len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) >= 5
       AND len(list_filter(regexp_split_to_array(text, '[.!?]'), s -> length(trim(s)) > 0)) >= 1
       AND NOT contains(lower(text), 'lorem ipsum')
       AND NOT contains(text, '{{')) AS c4_keep
    FROM fx ORDER BY doc_id
"""


def q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cross-document duplicated substring spans (Lee et al. 2022):
    word-5-gram index, grams in >= 2 docs, per-doc maximal merged spans.
    Linear plan — gram-hash shuffle + per-doc window, never a pair join."""
    from bodhium_webscrapper_spark.operators.quality import duplicate_spans

    df = _docs_with_near_dups(spark, sf_dir)
    return duplicate_spans(df, "doc_id", "text", k=5, min_docs=2).orderBy("doc_id")


_Q_DUP_SPANS_SQL = rf"""
    WITH d AS ({_DOCS_WITH_DUPS_SQL}),
    nd AS (
      SELECT doc_id,
        string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
      FROM d),
    og AS (
      SELECT doc_id, n_words, i, array_to_string(toks[i:i+4], ' ') AS g
      FROM (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_words, toks,
                   unnest(range(1, len(toks) - 5 + 2)) AS i
            FROM nd WHERE len(toks) >= 5)),
    dupg AS (
      SELECT g FROM (SELECT DISTINCT g, doc_id FROM og)
      GROUP BY g HAVING count(*) >= 2),
    hits AS (SELECT o.doc_id, o.n_words, o.i FROM og o JOIN dupg USING (g)),
    m AS (
      SELECT doc_id, n_words, i,
        CASE WHEN lag(i) OVER w IS NULL OR i - lag(i) OVER w > 5 THEN 1 ELSE 0 END AS nw
      FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
    sp AS (
      SELECT doc_id, n_words, i,
        sum(nw) OVER (PARTITION BY doc_id ORDER BY i ROWS UNBOUNDED PRECEDING) AS span
      FROM m),
    spans AS (
      SELECT doc_id, min(n_words) AS n_words, min(i) AS s, max(i) + 5 AS e
      FROM sp GROUP BY doc_id, span)
    SELECT doc_id, min(n_words) AS n_words, count(*) AS n_spans,
           CAST(sum(e - s) AS BIGINT) AS dup_words
    FROM spans GROUP BY doc_id ORDER BY doc_id
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark n-gram decontamination (GPT-3 App. C / PaLM §7): word-8-gram
    overlap of the near-dup corpus against a synthetic eval set — the FULL
    text of every 13th doc plus a words-3..30 excerpt of every 7th doc —
    flagging docs whose gram-hit share >= 70%. Bench side broadcasts as
    distinct 8-byte hashes; corpus side is one linear gram scan + (id)
    shuffle. %13 docs (and their +10000 near-dup variants, whose three
    appended tokens dilute but don't break the 70% bar) come out
    contaminated; %7 excerpt hits stay below threshold — a full gradient
    of (n_grams, hit_grams) pairs for the value hash."""
    from bodhium_webscrapper_spark.operators.quality import decontaminate
    from bodhium_webscrapper_spark.operators.dedup import normalized_text

    docs = _docs_with_near_dups(spark, sf_dir)
    base = _t(spark, sf_dir, "documents").select("doc_id", "text")
    ntoks = F.split(normalized_text(F.col("text")), " ")
    bench = base.filter(F.col("doc_id") % 13 == 0).select(
        F.col("text")
    ).unionByName(
        base.filter(F.col("doc_id") % 7 == 0).select(
            F.array_join(F.slice(ntoks, 3, 28), " ").alias("text")
        )
    )
    return decontaminate(
        docs, bench, "doc_id", "text", "text", k=8, min_hit_pct=70
    ).orderBy("doc_id")


_Q_DECONTAM_SQL = f"""
    WITH d AS ({_DOCS_WITH_DUPS_SQL}),
    nd AS (
      SELECT doc_id,
        string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
      FROM d),
    og AS (
      SELECT doc_id, array_to_string(toks[i:i+7], ' ') AS g
      FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 8 + 2)) AS i
            FROM nd WHERE len(toks) >= 8)),
    bt AS (
      SELECT string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
      FROM documents WHERE doc_id % 13 = 0
      UNION ALL
      SELECT bt2.toks[3:30] AS toks
      FROM (SELECT string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks
            FROM documents WHERE doc_id % 7 = 0) bt2),
    bg AS (
      SELECT DISTINCT array_to_string(toks[i:i+7], ' ') AS g
      FROM (SELECT toks, unnest(range(1, len(toks) - 8 + 2)) AS i
            FROM bt WHERE len(toks) >= 8)),
    hits AS (
      SELECT o.doc_id, count(*) AS hit_grams
      FROM og o JOIN bg USING (g) GROUP BY o.doc_id),
    base AS (
      SELECT doc_id,
        CAST(CASE WHEN len(toks) >= 8 THEN len(toks) - 7 ELSE 0 END AS BIGINT) AS n_grams
      FROM nd)
    SELECT b.doc_id, b.n_grams,
      CAST(coalesce(h.hit_grams, 0) AS BIGINT) AS hit_grams,
      (b.n_grams > 0 AND coalesce(h.hit_grams, 0) * 100 >= 70 * b.n_grams)
        AS contaminated
    FROM base b LEFT JOIN hits h USING (doc_id) ORDER BY b.doc_id
"""


def q_fix_mojibake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UTF-8-as-cp1252 mojibake repair: every 6th doc (offset 1) gets a
    damaged suffix (the cp1252 mis-decode of 'café “quoted… don’t – über
    «q»'); fix_mojibake must restore the clean form byte-exactly (md5'd)
    and the marker flag must fire on exactly the damaged docs. The oracle
    replays the same literal replace chain, generated from the SAME
    MOJIBAKE_MAP table so the twins cannot drift."""
    from bodhium_webscrapper_spark.functions.textstats import (
        fix_mojibake,
        has_mojibake,
    )

    damaged_suffix = " cafÃ© â€œquotedâ€¦ donâ€™t â€“ Ã¼ber Â«qÂ»"
    base = _t(spark, sf_dir, "documents").select("doc_id", "text")
    d = base.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 6 == 1,
            F.concat(F.col("text"), F.lit(damaged_suffix)),
        ).otherwise(F.col("text")).alias("text"),
    )
    return d.select(
        "doc_id",
        has_mojibake(F.col("text")).alias("had_mojibake"),
        F.md5(fix_mojibake(F.col("text"))).alias("fixed_md5"),
    ).orderBy("doc_id")


def _mojibake_replace_sql(expr: str) -> str:
    from bodhium_webscrapper_spark.functions.textstats import MOJIBAKE_MAP

    for bad, good in MOJIBAKE_MAP:
        expr = f"replace({expr}, '{bad}', '{good}')"
    return expr


def _mojibake_oracle_sql() -> str:
    from bodhium_webscrapper_spark.functions.textstats import (
        MOJIBAKE_MARKER_RE,
    )

    return f"""
    WITH d AS (
      SELECT doc_id,
        CASE WHEN doc_id % 6 = 1
             THEN text || ' cafÃ© â€œquotedâ€¦ donâ€™t â€“ Ã¼ber Â«qÂ»'
             ELSE text END AS text
      FROM documents)
    SELECT doc_id,
      regexp_matches(text, '{MOJIBAKE_MARKER_RE}') AS had_mojibake,
      md5({_mojibake_replace_sql("text")}) AS fixed_md5
    FROM d ORDER BY doc_id
"""


_Q_MOJIBAKE_SQL = _mojibake_oracle_sql()


def q_char_familiarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained char-bigram familiarity (the CCNet perplexity-bucket
    stand-in): every 13th doc (offset 2) becomes doc-id-derived gibberish
    (digits translated to rare consonants, repeated) — its bigrams barely
    occur in the rest of the corpus, so n_rare/min_count separate it from
    fluent docs. All-integer outputs; the oracle retrains the same counts
    in SQL."""
    from bodhium_webscrapper_spark.operators.quality import (
        char_ngram_familiarity,
    )

    base = _t(spark, sf_dir, "documents").select("doc_id", "text")
    fixed = base.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 13 == 2,
            F.repeat(
                F.concat(
                    F.translate(
                        F.col("doc_id").cast("string"),
                        "0123456789",
                        "qzxjvwkfyb",
                    ),
                    F.lit(" "),
                ),
                8,
            ),
        ).otherwise(F.col("text")).alias("text"),
    )
    return char_ngram_familiarity(
        fixed, "doc_id", "text", rare_threshold=50
    ).orderBy("doc_id")


_Q_CHAR_FAMILIARITY_SQL = r"""
    WITH fixed AS (
      SELECT doc_id,
        CASE WHEN doc_id % 13 = 2
             THEN repeat(translate(CAST(doc_id AS VARCHAR), '0123456789', 'qzxjvwkfyb') || ' ', 8)
             ELSE text END AS text
      FROM documents),
    nt AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
      FROM fixed),
    g AS (
      SELECT doc_id, substr(t, i, 2) AS gram
      FROM (SELECT doc_id, t, unnest(range(1, length(t))) AS i
            FROM nt WHERE length(t) >= 2)),
    cnt AS (SELECT gram, count(*) AS c FROM g GROUP BY gram),
    pd AS (
      SELECT doc_id, count(*) AS n_grams, min(c) AS min_count,
             sum(CASE WHEN c < 50 THEN 1 ELSE 0 END) AS n_rare
      FROM g JOIN cnt USING (gram) GROUP BY doc_id)
    SELECT d.doc_id,
      CAST(coalesce(p.n_grams, 0) AS BIGINT) AS n_grams,
      CAST(p.min_count AS BIGINT) AS min_count,
      CAST(coalesce(p.n_rare, 0) AS BIGINT) AS n_rare
    FROM documents d LEFT JOIN pd p USING (doc_id) ORDER BY d.doc_id
"""


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filter (DCLM / FineWeb-Edu stage): label every
    4th source as the curated reference split, train hashed bag-of-words
    token weights on the whole corpus, then broadcast-score every doc with
    its mean per-token reference evidence (integer ppm). The reference has
    no such stage (its only gates are blank/10-word —
    /root/reference/app.py:498-516); this is the filter a training-data
    pipeline layers on top. The oracle retrains the identical integer
    weight table in SQL — md5 feature hashing and div-arithmetic are
    bit-portable across engines."""
    from bodhium_webscrapper_spark.operators.quality import (
        score_quality_classifier,
        train_token_weights,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    labeled = docs.select(
        "doc_id",
        "text",
        (F.substring(F.col("source"), 4, 10).cast("int") % 4 == 0).alias(
            "is_ref"
        ),
    )
    weights = train_token_weights(labeled, "text", "is_ref")
    scored = score_quality_classifier(labeled, "doc_id", "text", weights)
    return (
        labeled.select("doc_id", "is_ref")
        .join(scored, "doc_id")
        .select("doc_id", "is_ref", "n_tokens", "score_ppm")
        .orderBy("doc_id")
    )


_Q_QUALITY_CLASSIFIER_SQL = """
    WITH lab AS (
      SELECT doc_id, text,
             (CAST(substr(source, 4) AS INT) % 4 = 0) AS is_ref
      FROM documents),
    toks AS (
      SELECT doc_id, is_ref, unnest(string_split_regex(
               trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '
             )) AS term
      FROM lab),
    tk AS (SELECT doc_id, is_ref, substr(md5(term), 1, 4) AS bucket
           FROM toks WHERE term != ''),
    w AS (SELECT bucket,
                 (CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT)
                  * 1000000) // CAST(count(*) AS BIGINT) AS w_ppm
          FROM tk GROUP BY 1),
    s AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                 CAST(sum(w_ppm) AS BIGINT) AS sum_w
          FROM tk JOIN w USING (bucket) GROUP BY 1)
    SELECT l.doc_id, l.is_ref,
           CAST(coalesce(s.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(s.sum_w // s.n_tokens AS BIGINT) AS score_ppm
    FROM lab l LEFT JOIN s USING (doc_id) ORDER BY l.doc_id
"""


def q_soft404(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft-404 detection: every 11th doc (offset 3) becomes one of three
    rotating short error templates (caught: marker + short); every 17th
    (offset 5, unless already templated) keeps its full text with an
    error phrase appended (escapes: the length guard protects editorial
    pages that mention errors)."""
    from bodhium_webscrapper_spark.operators.quality import soft404_signals

    base = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    tmpl = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("error 404 page not found"))
        .when(
            F.col("doc_id") % 3 == 1,
            F.lit("the requested url does not exist on this server sorry"),
        )
        .otherwise(
            F.lit("this page is no longer available please return home")
        )
    )
    fixed = base.select(
        "doc_id",
        F.col("source").alias("host"),
        F.when(F.col("doc_id") % 11 == 3, tmpl)
        .when(
            F.col("doc_id") % 17 == 5,
            F.concat(F.col("text"), F.lit(" (error 404 archive note)")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    sig = soft404_signals(F.col("text"), max_words=50)
    return fixed.select(
        "doc_id", "host", *[c.alias(n) for n, c in sig.items()]
    ).orderBy("doc_id")


_Q_SOFT404_SQL = r"""
    WITH fixed AS (
      SELECT doc_id, source AS host,
        CASE
          WHEN doc_id % 11 = 3 THEN
            CASE
              WHEN doc_id % 3 = 0 THEN 'error 404 page not found'
              WHEN doc_id % 3 = 1 THEN 'the requested url does not exist on this server sorry'
              ELSE 'this page is no longer available please return home'
            END
          WHEN doc_id % 17 = 5 THEN text || ' (error 404 archive note)'
          ELSE text
        END AS text
      FROM documents),
    sig AS (
      SELECT doc_id, host,
        CAST(len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS BIGINT) AS n_words,
        regexp_matches(lower(text),
          '(page not found|error 404|404 not found|could not be found|no longer available|does not exist|the requested url)')
          AS has_error_marker
      FROM fixed)
    SELECT doc_id, host, n_words, has_error_marker,
           (has_error_marker AND n_words < 50) AS is_soft404
    FROM sig ORDER BY doc_id
"""


def _warc_blobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic WET-style blob corpus shared by the WARC queries:
    documents packed 10-per-blob via the writer twin build_warc_record."""
    from bodhium_webscrapper_spark.sources.warc import build_warc_record

    base = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    payload = F.substring(
        F.regexp_replace(F.col("text"), r"\s+", " "), 1, 200
    )
    rec = build_warc_record(
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example/doc/"),
            F.col("doc_id").cast("string"),
        ),
        payload,
        date=F.concat(
            F.lit("2026-01-0"),
            ((F.col("doc_id") % 9) + 1).cast("string"),
            F.lit("T12:00:00Z"),
        ),
    )
    docs = base.select(
        F.floor(F.col("doc_id") / 10).alias("grp"), "doc_id", rec.alias("r")
    )
    return docs.groupBy("grp").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("doc_id", "r"))),
                lambda s: s["r"],
            ),
            "",
        ).alias("blob")
    )


def q_warc_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC/WET record parsing: documents are packed 10-per-blob into
    canonical WET-style records (writer twin build_warc_record), then the
    parser explodes and re-extracts every header + payload. The oracle
    assembles and parses the same blobs independently in DuckDB — the
    md5'd payload and the Content-Length cross-check make the value hash
    cover byte-exact payload recovery."""
    from bodhium_webscrapper_spark.sources.warc import parse_warc_records

    out = parse_warc_records(_warc_blobs(spark, sf_dir), "blob")
    return out.select(
        "uri",
        "warc_type",
        "warc_date",
        "content_length",
        "length_ok",
        F.md5(F.col("payload")).alias("payload_md5"),
    ).orderBy("uri")


_Q_WARC_CTE = r"""
    base AS (
      SELECT doc_id, source,
        substr(regexp_replace(text, '\s+', ' ', 'g'), 1, 200) AS payload
      FROM documents),
    rec AS (
      SELECT doc_id, (doc_id // 10) AS grp,
        'WARC/1.0' || chr(13) || chr(10) ||
        'WARC-Type: conversion' || chr(13) || chr(10) ||
        'WARC-Target-URI: https://' || source || '.example/doc/' || doc_id
          || chr(13) || chr(10) ||
        'WARC-Date: 2026-01-0' || ((doc_id % 9) + 1) || 'T12:00:00Z'
          || chr(13) || chr(10) ||
        'Content-Length: ' || length(payload)
          || chr(13) || chr(10) || chr(13) || chr(10) ||
        payload || chr(13) || chr(10) || chr(13) || chr(10) AS r
      FROM base),
    blobs AS (
      SELECT grp, string_agg(r, '' ORDER BY doc_id) AS blob
      FROM rec GROUP BY grp),
    rx AS (
      SELECT u AS r
      FROM (SELECT unnest(string_split_regex(blob, 'WARC/1\.0\r\n')) AS u
            FROM blobs)
      WHERE u <> ''),
    p AS (
      SELECT list_element(string_split_regex(r, '\r\n\r\n'), 1) AS hdr,
             regexp_replace(
               list_element(string_split_regex(r, '\r\n\r\n'), 2),
               '(\r\n)+$', '') AS payload
      FROM rx)
"""

_Q_WARC_SQL = (
    "WITH " + _Q_WARC_CTE + r"""
    SELECT
      regexp_extract(hdr, 'WARC-Target-URI: ([^\r\n]+)', 1) AS uri,
      regexp_extract(hdr, 'WARC-Type: ([^\r\n]+)', 1) AS warc_type,
      regexp_extract(hdr, 'WARC-Date: ([^\r\n]+)', 1) AS warc_date,
      CAST(regexp_extract(hdr, 'Content-Length: ([0-9]+)', 1) AS BIGINT)
        AS content_length,
      CAST(regexp_extract(hdr, 'Content-Length: ([0-9]+)', 1) AS BIGINT)
        = length(payload) AS length_ok,
      md5(payload) AS payload_md5
    FROM p ORDER BY uri
"""
)


def q_cdx_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDX index generation — the crawl's queryable index artifact (the
    Common-Crawl cc-index / Wayback convention): WARC blobs → one
    ``(surt, ts, uri, digest, length)`` record per capture, sorted by
    (surt, ts). Composes parse_warc_records (sources/warc.py) with
    surt_key (functions/canonicalize.py): sorting by SURT makes every
    registrable domain one contiguous, min-max-prunable key range, and
    the 14-digit timestamp is the capture's secondary sort — exactly the
    layout a replay/lookup service range-scans. Digest is md5 of the
    payload (the sha1 slot of real CDX; md5 so the DuckDB twin replays
    it). Pure JVM end-to-end: blob explode + regexp headers + one sort."""
    from bodhium_webscrapper_spark.functions.canonicalize import surt_key
    from bodhium_webscrapper_spark.sources.warc import parse_warc_records

    out = parse_warc_records(_warc_blobs(spark, sf_dir), "blob")
    return out.select(
        surt_key(F.col("uri")).alias("surt"),
        F.regexp_replace("warc_date", "[^0-9]", "").alias("ts"),
        "uri",
        F.md5(F.col("payload")).alias("digest"),
        F.col("content_length").alias("length"),
    ).orderBy("surt", "ts", "uri")


# the corpus URIs are https://{source}.example/doc/{id} — host has exactly
# two labels, no port/query, so the SURT is directly constructible; the
# surt_keys query oracle covers the general parser independently
_Q_CDX_SQL = (
    "WITH " + _Q_WARC_CTE + r""",
    rec2 AS (
      SELECT
        regexp_extract(hdr, 'WARC-Target-URI: ([^\r\n]+)', 1) AS uri,
        regexp_replace(regexp_extract(hdr, 'WARC-Date: ([^\r\n]+)', 1),
                       '[^0-9]', '', 'g') AS ts,
        md5(payload) AS digest,
        CAST(regexp_extract(hdr, 'Content-Length: ([0-9]+)', 1) AS BIGINT)
          AS length
      FROM p)
    SELECT
      'example,' ||
        regexp_extract(uri, 'https://([^.]+)\.example/', 1) ||
        ')' || regexp_extract(uri, 'https://[^/]+(/.*)$', 1) AS surt,
      ts, uri, digest, length
    FROM rec2 ORDER BY surt, ts, uri
"""
)


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicate-line removal (RefinedWeb/CCNet boilerplate
    pass) over the 8-word-line corpus with a planted boilerplate line
    ('subscribe to our newsletter...') appended to every 4th doc: planted
    lines (and any natural 8-word-chunk collisions across docs) vanish
    from every document; the %3 within-doc repeated first line survives
    unless it also occurs in another doc. text compared by md5 so the
    value hash covers exact reassembly order."""
    from bodhium_webscrapper_spark.operators.quality import line_dedup

    base = _docs_with_lines(spark, sf_dir)
    docs = base.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 4 == 1,
            F.concat(
                F.col("text"),
                F.lit("\nsubscribe to our newsletter for fresh updates"),
            ),
        ).otherwise(F.col("text")).alias("text"),
    )
    out = line_dedup(docs, "doc_id", "text", min_docs=2)
    return out.select(
        "doc_id",
        "n_lines",
        "n_dup_lines",
        F.md5(F.col("text")).alias("text_md5"),
    ).orderBy("doc_id")


_Q_LINE_DEDUP_SQL = f"""
    WITH base AS ({_DOCS_LINES_SQL}),
    d AS (
      SELECT doc_id,
        CASE WHEN doc_id % 4 = 1
             THEN text || chr(10) || 'subscribe to our newsletter for fresh updates'
             ELSE text END AS text
      FROM base),
    lsx AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM d),
    ln AS (
      SELECT doc_id, i, ls[i] AS line
      FROM (SELECT doc_id, ls, unnest(range(1, len(ls) + 1)) AS i FROM lsx)),
    dup AS (
      -- blank/whitespace-only lines are structural, exempt from the census
      SELECT line FROM (SELECT DISTINCT line, doc_id FROM ln
                        WHERE trim(line) <> '')
      GROUP BY line HAVING count(*) >= 2),
    kept AS (
      SELECT doc_id, i, line FROM ln
      WHERE line NOT IN (SELECT line FROM dup)),
    agg AS (
      SELECT doc_id, count(*) AS n_kept,
             md5(string_agg(line, chr(10) ORDER BY i)) AS text_md5
      FROM kept GROUP BY doc_id)
    SELECT l.doc_id,
      CAST(len(l.ls) AS BIGINT) AS n_lines,
      CAST(len(l.ls) - coalesce(a.n_kept, 0) AS BIGINT) AS n_dup_lines,
      coalesce(a.text_md5, md5('')) AS text_md5
    FROM lsx l LEFT JOIN agg a USING (doc_id) ORDER BY l.doc_id
"""


def q_resolve_redirects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redirect-chain resolution by pointer doubling over a synthetic
    redirect map on documents: blocks of 7 ids chain 0->1->...->5
    (terminal), and every 50th block closes 5->0 into a 6-cycle. Sources
    resolve to their block terminal with exact hop counts; cyclic-block
    sources come out (NULL, NULL, is_cycle=true). The oracle walks the
    same map linearly with a recursive CTE — log-rounds composition vs
    linear recursion must agree hop-for-hop."""
    from bodhium_webscrapper_spark.operators.redirects import resolve_redirects

    ids = _t(spark, sf_dir, "documents").select("doc_id")
    chain = ids.filter(F.col("doc_id") % 7 <= 4).select(
        F.col("doc_id").alias("src"), (F.col("doc_id") + 1).alias("dst")
    )
    loop = ids.filter(
        (F.col("doc_id") % 7 == 5)
        & (F.floor(F.col("doc_id") / 7) % 50 == 0)
    ).select(F.col("doc_id").alias("src"), (F.col("doc_id") - 5).alias("dst"))
    edges = chain.unionByName(loop)
    out = resolve_redirects(edges, max_hops=32)
    return out.select(
        "src_id",
        "final_id",
        F.col("hops").cast("long").alias("hops"),
        "is_cycle",
    ).orderBy("src_id")


_Q_REDIRECTS_SQL = """
    WITH RECURSIVE edges AS (
      SELECT doc_id AS src, doc_id + 1 AS dst FROM documents WHERE doc_id % 7 <= 4
      UNION ALL
      SELECT doc_id AS src, doc_id - 5 AS dst FROM documents
      WHERE doc_id % 7 = 5 AND (doc_id // 7) % 50 = 0
    ),
    walk AS (
      SELECT src AS start, dst AS cur, 1 AS hops FROM edges
      UNION ALL
      SELECT w.start, e.dst, w.hops + 1 FROM walk w JOIN edges e ON e.src = w.cur
      WHERE w.hops < 32
    ),
    terminal AS (
      SELECT start, cur AS final, hops FROM walk w
      WHERE NOT EXISTS (SELECT 1 FROM edges e WHERE e.src = w.cur)
    )
    SELECT s.src AS src_id, t.final AS final_id,
           CAST(t.hops AS BIGINT) AS hops,
           t.final IS NULL AS is_cycle
    FROM (SELECT DISTINCT src FROM edges) s
    LEFT JOIN terminal t ON t.start = s.src
    ORDER BY src_id
"""


def q_strip_tracking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tracking-param stripping over a synthetic click-alias url mix:
    doc_id%5 picks bare / utm+real / gclid-only / mixed-sorted / utm-only
    query shapes; stripped urls keep real params, drop tracking ones, and
    lose the '?' entirely when nothing survives."""
    from bodhium_webscrapper_spark.functions.canonicalize import (
        strip_tracking_params,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    m = F.col("doc_id") % 5
    url = F.concat(
        F.lit("https://h"), (F.col("doc_id") % 8).cast("string"),
        F.lit(".com/p/"), F.col("doc_id").cast("string"),
        F.when(m == 1, F.lit("?id=7&utm_source=x"))
        .when(m == 2, F.lit("?gclid=abc"))
        .when(m == 3, F.lit("?id=9&page=2&utm_campaign=c"))
        .when(m == 4, F.lit("?utm_medium=m"))
        .otherwise(F.lit("")),
    )
    return docs.select(
        "doc_id",
        url.alias("url"),
        strip_tracking_params(url).alias("stripped"),
    ).orderBy("doc_id")


_Q_STRIP_TRACKING_SQL = """
    WITH u AS (
      SELECT doc_id,
        'https://h' || (doc_id % 8) || '.com/p/' || doc_id ||
        (CASE WHEN doc_id % 5 = 1 THEN '?id=7&utm_source=x'
              WHEN doc_id % 5 = 2 THEN '?gclid=abc'
              WHEN doc_id % 5 = 3 THEN '?id=9&page=2&utm_campaign=c'
              WHEN doc_id % 5 = 4 THEN '?utm_medium=m'
              ELSE '' END) AS url
      FROM documents),
    s AS (
      SELECT doc_id, url,
        regexp_extract(url, '^([^?]*)', 1) AS base,
        regexp_extract(url, '\\?(.*)$', 1) AS q
      FROM u),
    k AS (
      SELECT doc_id, url, base, q,
        list_filter(string_split(q, '&'),
          p -> NOT regexp_matches(p,
            '^(utm_[a-z0-9_]*|gclid|wbraid|gbraid|fbclid|msclkid|yclid|mc_eid|igshid|_ga|ref_src)(=|$)'))
          AS kept
      FROM s)
    SELECT doc_id, url,
      CASE WHEN q = '' THEN url
           ELSE base || (CASE WHEN len(kept) > 0
                              THEN '?' || array_to_string(kept, '&')
                              ELSE '' END) END AS stripped
    FROM k ORDER BY doc_id
"""


def q_recrawl_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive recrawl scheduling: the snapshot-diff fixture's per-url
    status plus host = doc_id%12, host change rates at hot_pct=20, levels
    3/2/1/0 (changed/added/unchanged-hot/unchanged-cold); removed urls
    drop out."""
    from bodhium_webscrapper_spark.operators.diff import (
        recrawl_priority,
        snapshot_diff,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    old = docs.where(F.col("doc_id") % 5 != 0).select(
        "doc_id", F.md5(F.col("text")).alias("content_hash")
    )
    new = docs.where(F.col("doc_id") % 7 != 0).select(
        "doc_id",
        F.md5(
            F.when(
                F.col("doc_id") % 3 == 0, F.concat(F.col("text"), F.lit("!"))
            ).otherwise(F.col("text"))
        ).alias("content_hash"),
    )
    diff = snapshot_diff(old, new, key="doc_id").withColumn(
        "host", F.concat(F.lit("h"), (F.col("doc_id") % 12).cast("string"))
    )
    return recrawl_priority(
        diff, key="doc_id", host_col="host", hot_pct=20
    ).orderBy("doc_id")


_Q_RECRAWL_SQL = """
    WITH o AS (
      SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 5 != 0),
    n AS (
      SELECT doc_id,
             md5(CASE WHEN doc_id % 3 = 0 THEN text || '!' ELSE text END) AS h
      FROM documents WHERE doc_id % 7 != 0),
    diff AS (
      SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
             'h' || (coalesce(o.doc_id, n.doc_id) % 12) AS host,
             CASE WHEN o.h IS NULL THEN 'added'
                  WHEN n.h IS NULL THEN 'removed'
                  WHEN o.h != n.h THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id),
    stats AS (
      SELECT host,
             CAST(sum(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS BIGINT)
               AS host_changed,
             count(*) AS host_total
      FROM diff WHERE status IN ('changed', 'unchanged') GROUP BY host)
    SELECT d.doc_id, d.host, d.status,
           CAST(coalesce(s.host_changed, 0) AS BIGINT) AS host_changed,
           CAST(coalesce(s.host_total, 0) AS BIGINT) AS host_total,
           CAST(CASE WHEN d.status = 'changed' THEN 3
                     WHEN d.status = 'added' THEN 2
                     WHEN s.host_total > 0
                          AND s.host_changed * 100 >= 20 * s.host_total THEN 1
                     ELSE 0 END AS INT) AS priority_level
    FROM diff d LEFT JOIN stats s USING (host)
    WHERE d.status != 'removed'
    ORDER BY d.doc_id
"""


def q_trap_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawler-trap host detection over a synthetic crawl log: hosts 0-2
    mint calendar-trap urls (/cal/d/d/d/<id>, one shared fingerprint per
    host); hosts 3-15 serve distinct pages, every 4th with a 2-param
    query. Trap hosts trip BOTH the content-collapse and loop-shape
    signals; normal hosts trip neither."""
    from bodhium_webscrapper_spark.operators.traps import trap_host_signals

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    m = F.col("doc_id") % 16
    hname = F.concat(F.lit("h"), m.cast("string"))
    url = F.when(
        m < 3,
        F.concat(F.lit("https://"), hname, F.lit(".example/cal/d/d/d/"),
                 F.col("doc_id").cast("string")),
    ).otherwise(
        F.concat(
            F.lit("https://"), hname, F.lit(".example/p/"),
            F.col("doc_id").cast("string"),
            F.when(F.col("doc_id") % 4 == 0, F.lit("?a=1&b=2")).otherwise(
                F.lit("")
            ),
        )
    )
    fp = F.when(
        m < 3, F.md5(F.concat(F.lit("trap"), m.cast("string")))
    ).otherwise(F.md5(F.col("text")))
    pages = docs.select(hname.alias("host"), url.alias("url"), fp.alias("fp"))
    return trap_host_signals(
        pages, "host", "url", "fp", min_urls=20
    ).orderBy("host")


_Q_TRAP_HOSTS_SQL = """
    WITH pages AS (
      SELECT 'h' || (doc_id % 16) AS host,
        CASE WHEN doc_id % 16 < 3
             THEN 'https://h' || (doc_id % 16) || '.example/cal/d/d/d/' || doc_id
             ELSE 'https://h' || (doc_id % 16) || '.example/p/' || doc_id ||
                  (CASE WHEN doc_id % 4 = 0 THEN '?a=1&b=2' ELSE '' END) END AS url,
        CASE WHEN doc_id % 16 < 3 THEN md5('trap' || (doc_id % 16))
             ELSE md5(text) END AS fp
      FROM documents),
    parsed AS (
      SELECT host, fp,
        list_filter(string_split(
          regexp_extract(url, '^[a-z][a-z0-9+.-]*://[^/?#]+(/[^?#]*)', 1),
          '/'), s -> s <> '') AS segs,
        regexp_extract(url, '\\?([^#]*)', 1) AS q
      FROM pages),
    sig AS (
      SELECT host, fp, len(segs) AS depth,
        (coalesce(list_max(list_transform(segs,
            s -> len(list_filter(segs, x -> x = s)))), 0) >= 3) AS rep,
        CASE WHEN q = '' THEN 0 ELSE len(string_split(q, '&')) END AS np
      FROM parsed),
    agg AS (
      SELECT host, count(*) AS n_urls, count(DISTINCT fp) AS n_fps,
             max(depth) AS max_depth,
             sum(CASE WHEN rep THEN 1 ELSE 0 END) AS n_repeat_urls,
             max(np) AS max_params
      FROM sig GROUP BY host)
    SELECT host, CAST(n_urls AS BIGINT) AS n_urls, CAST(n_fps AS BIGINT) AS n_fps,
      CAST(max_depth AS BIGINT) AS max_depth,
      CAST(n_repeat_urls AS BIGINT) AS n_repeat_urls,
      CAST(max_params AS BIGINT) AS max_params,
      (n_urls >= 20 AND (n_fps * 100 <= 10 * n_urls
                         OR n_repeat_urls * 100 >= 50 * n_urls)) AS is_trap
    FROM agg ORDER BY host
"""


def q_winnow_fingerprint_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing rolling-hash fingerprint near-dup pairs (SIGMOD'03).

    Character 20-gram polynomial hashes (Horner mod 1e9+7 — exactly the
    dot product over mod-reduced weights any SQL engine replays; 20-char
    grams are MOSS-scale, long enough to be rare outside true near-dups so
    the hot-fingerprint cap keeps its recall), window-16 winnow minima,
    pairs sharing >= 3 non-hot fingerprints at >= 60% containment of the
    smaller fingerprint set (100*shared >= 60*least(n_a,n_b) — all-integer,
    replayed exactly by the oracle). Oracle: the identical
    computation in windowed DuckDB SQL (no lambdas). Output is all-integer
    so the value hash is float-free.
    """
    from bodhium_webscrapper_spark.operators.dedup import winnow_pairs

    df = _docs_with_near_dups(spark, sf_dir)
    return winnow_pairs(
        df, "doc_id", "text", k=20, window=16, min_shared=3, hot_cap=100,
        min_containment_pct=60,
        parallelism=spark.sparkContext.defaultParallelism,
    ).orderBy("id_a", "id_b")


# Weights are 257^19..257^0 mod 1e9+7 (pre-reduced so each term stays under
# ~1.3e11 and the 20-term dot product under ~2.6e12, inside BIGINT); the
# Spark side computes the same value in Horner form with mod-each-step
# (identical result: mod distributes).
_Q_WINNOW_SQL = f"""
    WITH d AS ({_DOCS_WITH_DUPS_SQL}),
    nd AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
      FROM d),
    pos AS (
      SELECT doc_id, t, unnest(range(1, length(t) - 20 + 2)) AS i
      FROM nd WHERE length(t) >= 20),
    grams AS (
      SELECT doc_id, i,
             (unicode(t[i]) * 321693641::BIGINT
            + unicode(t[i+1]) * 133547447::BIGINT
            + unicode(t[i+2]) * 689235598::BIGINT
            + unicode(t[i+3]) * 368440608::BIGINT
            + unicode(t[i+4]) * 771861642::BIGINT
            + unicode(t[i+5]) * 469929426::BIGINT
            + unicode(t[i+6]) * 13501671::BIGINT
            + unicode(t[i+7]) * 326900787::BIGINT
            + unicode(t[i+8]) * 966252539::BIGINT
            + unicode(t[i+9]) * 108818104::BIGINT
            + unicode(t[i+10]) * 447894237::BIGINT
            + unicode(t[i+11]) * 383065739::BIGINT
            + unicode(t[i+12]) * 13163680::BIGINT
            + unicode(t[i+13]) * 805498697::BIGINT
            + unicode(t[i+14]) * 154885210::BIGINT
            + unicode(t[i+15]) * 362470373::BIGINT
            + unicode(t[i+16]) * 16974593::BIGINT
            + unicode(t[i+17]) * 66049::BIGINT
            + unicode(t[i+18]) * 257::BIGINT
            + unicode(t[i+19]) * 1::BIGINT) % 1000000007 AS h
      FROM pos),
    wins AS (
      SELECT doc_id, i,
             min(h) OVER (PARTITION BY doc_id ORDER BY i
                          ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS fp,
             count(*) OVER (PARTITION BY doc_id) AS ng
      FROM grams),
    fps AS (
      SELECT DISTINCT doc_id, fp FROM wins
      WHERE i <= ng - 16 + 1 OR (ng < 16 AND i = 1)),
    keep AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) BETWEEN 2 AND 100),
    kf AS (SELECT f.doc_id, f.fp FROM fps f JOIN keep USING (fp)),
    sizes AS (SELECT doc_id, count(*) AS nfp FROM fps GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared_fps
      FROM kf a JOIN kf b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING count(*) >= 3)
    SELECT p.id_a, p.id_b, p.shared_fps, sa.nfp AS n_a, sb.nfp AS n_b
    FROM pairs p
    JOIN sizes sa ON p.id_a = sa.doc_id
    JOIN sizes sb ON p.id_b = sb.doc_id
    WHERE 100 * p.shared_fps >= 60 * least(sa.nfp, sb.nfp)
    ORDER BY id_a, id_b
"""


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs at >= 0.99 (duplicate vectors)."""
    from bodhium_webscrapper_spark.operators.dedup import embedding_neardup_pairs

    df = _emb_with_dups(spark, sf_dir)
    return embedding_neardup_pairs(df, "vec_id", "embedding", threshold=0.99).select(
        "id_a", "id_b"
    ).orderBy("id_a", "id_b")


_Q_EMB_NEARDUP_SQL = f"""
    WITH e AS ({_EMB_WITH_DUPS_SQL})
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.99
    ORDER BY id_a, id_b
"""


def q_merge_upsert_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10/A7: MERGE-INTO semantics — staged rows split into new vs existing
    by product_hash anti-join (RDS/app.py:446-508)."""
    from bodhium_webscrapper_spark.operators.upsert import upsert_by_key, with_product_hash

    part = _t(spark, sf_dir, "part")
    base = part.select(
        F.col("p_partkey"),
        F.col("p_name").alias("productname"),
        F.lit("d").alias("description"),
        F.col("p_size").cast("string").alias("current_price"),
        F.lit("").alias("original_price"),
        F.lit("").alias("rating"),
        F.lit("").alias("review"),
        F.lit("").alias("image_url"),
        F.concat(F.lit("https://shop"), (F.col("p_partkey") % 10).cast("string"),
                 F.lit(".example")).alias("source_url"),
    )
    existing = with_product_hash(base.filter(F.col("p_partkey") % 3 == 0)).drop("p_partkey")
    staged = with_product_hash(base.filter(F.col("p_partkey") % 2 == 0)).drop("p_partkey")
    r = upsert_by_key(existing, staged, "product_hash")
    r.release()  # counts already materialized; free the tagged-join cache
    return spark.createDataFrame(
        [(r.n_new, r.n_existing)], "n_new long, n_existing long"
    )


_Q_MERGE_UPSERT_SQL = """
    WITH base AS (
      SELECT p_partkey,
             sha256(p_name || ('https://shop' || (p_partkey % 10) || '.example')
                    || CAST(p_size AS VARCHAR)) AS product_hash
      FROM part),
    existing AS (SELECT DISTINCT product_hash FROM base WHERE p_partkey % 3 = 0),
    staged AS (SELECT DISTINCT product_hash FROM base WHERE p_partkey % 2 = 0)
    SELECT count(CASE WHEN e.product_hash IS NULL THEN 1 END) AS n_new,
           count(CASE WHEN e.product_hash IS NOT NULL THEN 1 END) AS n_existing
    FROM staged s LEFT JOIN existing e USING (product_hash)
"""


def q_link_table_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: many-to-many link rows, dup-safe append (RDS/app.py:494-498)."""
    from bodhium_webscrapper_spark.operators.upsert import link_table

    li = _t(spark, sf_dir, "lineitem")
    out = link_table(li, "l_orderkey", "l_partkey")
    return out.groupBy().agg(
        F.count(F.lit(1)).alias("n_links"),
        F.countDistinct("l_orderkey").alias("n_jobs"),
        F.countDistinct("l_partkey").alias("n_products"),
    )


_Q_LINK_TABLE_SQL = """
    SELECT count(*) AS n_links, count(DISTINCT l_orderkey) AS n_jobs,
           count(DISTINCT l_partkey) AS n_products
    FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
"""


# --------------------------------------------------------------------------
# similarity search
# --------------------------------------------------------------------------

def q_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for query vectors (vec_id < 10)."""
    from bodhium_webscrapper_spark.operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 10)
    return brute_force_topk(emb, queries, k=5).select(
        "query_id", "neighbor_id", "rank"
    ).orderBy("query_id", "rank")


_Q_ANN_BRUTEFORCE_SQL = """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS embedding FROM embeddings)
    SELECT query_id, neighbor_id, rank FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(c.embedding, q.embedding) DESC,
                        c.vec_id ASC) AS rank
      FROM e q JOIN e c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < 10)
    WHERE rank <= 5 ORDER BY query_id, rank
"""


def _ann_planted_check(spark, sf_dir: str, approx_fn) -> DataFrame:
    """Approximate top-k with the planted-duplicate guarantee as the checked
    output: the corpus carries an exact copy (vec_id+10000) of every 10th
    vector, and an identical vector lands in the same IVF cell / LSH bucket
    BY CONSTRUCTION, so the approximate index must surface it at cosine 1.0.
    One (query_id, planted_found) row per query; the oracle expects TRUE for
    all. This is the deterministic, SQL-checkable contract for operators
    that are approximate by construction — plain recall-vs-brute-force is a
    property of the data here (synthetic near-random embeddings make ANN
    recall ≈ the probed fraction), not of the implementation.
    """
    corpus = _emb_with_dups(spark, sf_dir)
    queries = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).filter((F.col("vec_id") % 10 == 0) & (F.col("vec_id") < 100))
    approx = approx_fn(corpus, queries).select("query_id", "neighbor_id")
    found = (
        approx.filter(F.col("neighbor_id") == F.col("query_id") + 10000)
        .select("query_id", F.lit(True).alias("planted_found"))
    )
    return (
        queries.select(F.col("vec_id").alias("query_id"))
        .join(found, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("planted_found"), F.lit(False)).alias("planted_found"),
        )
        .orderBy("query_id")
    )


_Q_ANN_PLANTED_SQL = """
    SELECT vec_id AS query_id, TRUE AS planted_found
    FROM embeddings WHERE vec_id % 10 = 0 AND vec_id < 100 ORDER BY query_id
"""


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-5 (deterministic k-means codebook + inverted
    lists + multi-probe), checked via the planted-duplicate guarantee
    (see _ann_planted_check)."""
    from bodhium_webscrapper_spark.operators.similarity import ivf_topk

    return _ann_planted_check(
        spark, sf_dir, lambda emb, q: ivf_topk(emb, q, k=5, n_centroids=16, nprobe=4)
    )


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via hyperplane-LSH buckets (single probe), checked
    via the planted-duplicate guarantee (see _ann_planted_check)."""
    from bodhium_webscrapper_spark.operators.similarity import lsh_topk

    return _ann_planted_check(
        spark, sf_dir, lambda emb, q: lsh_topk(emb, q, k=5, n_planes=4)
    )


def q_ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe hyperplane LSH (exact bucket + every 1-bit flip): higher
    recall at more planes without a second index; the planted-duplicate
    guarantee holds a fortiori (identical vector → same bucket ⊆ probe set).
    The recall gain over single-probe is pytest-asserted with a crafted
    1-bit-flip near-neighbor (tests/test_similarity_textstats.py)."""
    from bodhium_webscrapper_spark.operators.similarity import lsh_topk

    return _ann_planted_check(
        spark, sf_dir,
        lambda emb, q: lsh_topk(emb, q, k=5, n_planes=8, multi_probe=True),
    )


# --------------------------------------------------------------------------
# multimodal plumbing
# --------------------------------------------------------------------------

def q_media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column metadata extraction (opaque payload + typed metadata:
    length, content hash, magic-sniffed container kind — all JVM built-ins,
    functions/multimodal.py media_metadata)."""
    from bodhium_webscrapper_spark.functions.multimodal import (
        deterministic_media_fixture, media_metadata,
    )

    docs = _t(spark, sf_dir, "documents")
    media = deterministic_media_fixture(docs, "text", "doc_id")
    return media_metadata(media, "doc_id", "payload").select(
        "media_id",
        "kind",
        "n_bytes",
        F.col("sha256").alias("payload_sha"),
    ).orderBy("media_id")


_Q_MEDIA_METADATA_SQL = """
    SELECT doc_id AS media_id,
           -- magic sniff over the UTF-8 payload: png/jpeg prefixes contain
           -- bytes UTF-8 text cannot start with, so only the ASCII magics
           -- are reachable here
           CASE WHEN substr(text, 1, 4) IN ('<htm', '<!DO') THEN 'html'
                WHEN substr(text, 1, 4) = 'GIF8' THEN 'gif'
                WHEN substr(text, 1, 4) = 'RIFF' THEN 'riff'
                ELSE 'unknown' END AS kind,
           octet_length(encode(text)) AS n_bytes,
           sha256(text) AS payload_sha
    FROM documents ORDER BY media_id
"""


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas feature extraction over binary payloads (stubbed codec,
    real Spark plumbing). Checked output: feature dimension + the argmax
    bin of the byte histogram — SQL-expressible over the UTF-8 payload, so
    the fake-decode feature vector gets a value-level oracle."""
    from bodhium_webscrapper_spark.functions.multimodal import (
        deterministic_media_fixture, extract_features,
    )

    docs = _t(spark, sf_dir, "documents")
    media = deterministic_media_fixture(docs, "text", "doc_id")
    feats = extract_features(media, "doc_id", "payload")
    return feats.select(
        "media_id",
        "feat_dim",
        (F.array_position(F.col("feature"), F.array_max(F.col("feature"))) - 1)
        .cast("int")
        .alias("top_bin"),
    ).orderBy("media_id")


_Q_MEDIA_FEATURES_SQL = """
    WITH hx AS (
      SELECT doc_id, hex(encode(text)) AS h FROM documents),
    bins AS (
      -- histogram over UTF-8 BYTES (not codepoints): the Spark feature
      -- extractor bins payload bytes, and a non-ASCII char is several bytes
      SELECT doc_id,
             CAST(concat('0x', substr(h, 2 * i - 1, 2)) AS INTEGER) // 8 AS bin
      FROM hx, unnest(range(1, length(h) // 2 + 1)) AS t(i)
      WHERE length(h) > 0),
    top AS (
      SELECT doc_id, bin FROM (
        SELECT doc_id, bin,
               row_number() OVER (PARTITION BY doc_id
                 ORDER BY count(*) DESC, bin ASC) AS rn
        FROM bins GROUP BY doc_id, bin)
      WHERE rn = 1)
    SELECT d.doc_id AS media_id, 32 AS feat_dim,
           CAST(coalesce(t.bin, 0) AS INTEGER) AS top_bin
    FROM documents d LEFT JOIN top t USING (doc_id)
    ORDER BY media_id
"""


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic video frame-sampling plan over binary payloads
    (multimodal §: the schedule a real decoder would consume). Run under
    the md5-derived payload hash so DuckDB reproduces the per-media frame
    count and stride exactly (production default stays xxhash64)."""
    from bodhium_webscrapper_spark.functions.multimodal import (
        deterministic_media_fixture, frame_sample_plan,
    )

    docs = _t(spark, sf_dir, "documents")
    media = deterministic_media_fixture(docs, "text", "doc_id")
    seed = F.conv(F.substring(F.md5(F.col("payload")), 1, 15), 16, 10).cast("long")
    return (
        frame_sample_plan(
            media, "doc_id", "payload", every_n=10, max_frames=8, seed_expr=seed
        )
        .select("media_id", F.col("frame_index").cast("long").alias("frame_index"))
        .orderBy("media_id", "frame_index")
    )


_Q_FRAME_SAMPLE_SQL = """
    WITH m AS (
      SELECT doc_id AS media_id,
             -- md5(VARCHAR) hashes the string's UTF-8 bytes — identical to
             -- Spark's md5 over the encode(text,'utf-8') payload
             CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT)
               % 120 + 1 AS n_frames
      FROM documents)
    SELECT media_id, CAST(t.f AS BIGINT) AS frame_index
    FROM m, unnest(range(0, least(n_frames - 1, 70) + 1, 10)) AS t(f)
    ORDER BY media_id, frame_index
"""


def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole training-data curation pipeline (jobs/dataset_job.py) as one
    checked row: quality filter -> language filter -> exact dedup ->
    near-dup removal (MinHash-LSH, exact-verified, drop larger id) -> token
    accounting, over documents with planted near- AND exact-duplicates.
    Every stage reuses an individually-oracled operator; this query checks
    their composition end to end."""
    from bodhium_webscrapper_spark.functions.textstats import (
        lang_id, quality_score, token_count,
    )
    from bodhium_webscrapper_spark.operators.dedup import (
        exact_text_dedup, minhash_lsh_pairs,
    )

    base = _t(spark, sf_dir, "documents").select("doc_id", "text")
    variants = base.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zz91 zz92 zz93")).alias("text"),
    )
    copies = base.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 20000).alias("doc_id"),
        F.concat(F.lit("  "), F.upper(F.col("text"))).alias("text"),
    )
    df = base.unionByName(variants).unionByName(copies)
    # each funnel stage is PERSISTED so its prefix executes exactly once:
    # without the caches, every per-stage count re-runs the full upstream
    # lineage (quality scoring, lang-id, dedup, LSH) from the source — ~5x
    # the pipeline at 100 TB. Caches are released as soon as the next stage
    # is materialized (the wave loop's write+footer-count pattern is the
    # storage-backed equivalent, plans/checkpoint.py row_count).
    scored = df.withColumn(
        "qm", F.floor(quality_score(F.col("text")) * 1e6).cast("long")
    ).withColumn("lp", lang_id(F.col("text"))).persist()
    n_input = scored.count()
    q1 = scored.filter(F.col("qm") >= 500_000)
    q2 = q1.filter(F.col("lp") == "en")
    n_q1, n_q2 = q1.count(), q2.count()
    q3 = exact_text_dedup(q2, "text", "doc_id").persist()
    n_q3 = q3.count()
    scored.unpersist()
    pairs = minhash_lsh_pairs(q3, "doc_id", "text", jaccard_threshold=0.8)
    drops = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    q4 = q3.join(drops, "doc_id", "left_anti").persist()
    n_q4 = q4.count()
    q3.unpersist()
    tokens = int(
        q4.select(token_count(F.col("text")).alias("n"))
        .agg(F.coalesce(F.sum("n"), F.lit(0)))
        .first()[0]
    )
    q4.unpersist()
    return spark.createDataFrame(
        [(n_input, n_q1, n_q2, n_q3, n_q4, tokens)],
        "n_input long, after_quality long, after_lang long, "
        "after_exact_dedup long, after_near_dedup long, tokens_total long",
    )


_Q_CURATION_SQL = """
    WITH d AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 10000, text || ' zz91 zz92 zz93'
      FROM documents WHERE doc_id % 10 = 0
      UNION ALL
      SELECT doc_id + 20000, '  ' || upper(text)
      FROM documents WHERE doc_id % 7 = 0),
    t AS (
      SELECT doc_id, text,
        string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS toks,
        CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tok
      FROM d),
    s AS (
      SELECT doc_id, text, toks, n_tok,
        least(CAST(n_tok AS DOUBLE) / 100.0, 1.0) AS len_score,
        least((CASE WHEN len(toks) > 0 THEN
            CAST(len(list_filter(toks, x -> list_contains(
              ['the','and','of','to','in','is','that','with','for','was'], x))) AS DOUBLE)
            / len(toks) ELSE 0.0 END) * 5.0, 1.0) AS stop_score,
        CASE WHEN len(toks) > 0 THEN
            CAST(list_aggregate(list_transform(toks, w -> length(w)), 'sum') AS DOUBLE)
            / len(toks) ELSE 0.0 END AS mwl,
        least((CASE WHEN length(text) > 0 THEN
            CAST(length(text) - length(regexp_replace(text, '[.,!?;:''"()\\-]', '', 'g'))
              AS DOUBLE) / length(text) ELSE 0.0 END) * 2.0, 0.5) AS punct_pen,
        len(list_filter(toks, x -> list_contains(
          ['the','and','of','to','in','is','that','with','for','was'], x))) AS en,
        len(list_filter(toks, x -> list_contains(
          ['der','die','das','und','ist','nicht','eine','mit','von','für'], x))) AS de,
        len(list_filter(toks, x -> list_contains(
          ['le','la','les','et','est','pas','une','avec','dans','pour'], x))) AS fr
      FROM t),
    g AS (
      SELECT doc_id, text, toks,
        CAST(floor(round(
          (len_score * 0.4 + stop_score * 0.3 +
           (CASE WHEN mwl >= 3.0 AND mwl <= 10.0 THEN 1.0 ELSE 0.5 END) * 0.3)
          - punct_pen, 6) * 1e6) AS BIGINT) AS qm,
        CASE WHEN greatest(en, de, fr) = 0 THEN 'und'
             WHEN en = greatest(en, de, fr) THEN 'en'
             WHEN de = greatest(en, de, fr) THEN 'de'
             ELSE 'fr' END AS lp
      FROM s),
    q1 AS (SELECT * FROM g WHERE qm >= 500000),
    q2 AS (SELECT * FROM q1 WHERE lp = 'en'),
    q3 AS (
      SELECT doc_id, text, toks FROM (
        SELECT doc_id, text, toks, row_number() OVER (
          PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
          ORDER BY doc_id) AS rn
        FROM q2) WHERE rn = 1),
    sh AS (
      SELECT doc_id, list_distinct(
        CASE WHEN len(toks) >= 3 THEN
          list_transform(range(1, len(toks) - 1),
                         i -> array_to_string(toks[i:i+2], ' '))
        ELSE [array_to_string(toks, ' ')] END) AS shingles
      FROM q3),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_filter(a.shingles, x -> list_contains(b.shingles, x))) AS DOUBLE)
            / (len(a.shingles) + len(b.shingles)
               - len(list_filter(a.shingles, x -> list_contains(b.shingles, x)))) >= 0.8),
    q4 AS (SELECT * FROM q3 WHERE doc_id NOT IN (SELECT id_b FROM pairs)),
    tok4 AS (
      SELECT CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(text), '\\s+')) END AS ntk
      FROM q4)
    SELECT (SELECT count(*) FROM d) AS n_input,
           (SELECT count(*) FROM q1) AS after_quality,
           (SELECT count(*) FROM q2) AS after_lang,
           (SELECT count(*) FROM q3) AS after_exact_dedup,
           (SELECT count(*) FROM q4) AS after_near_dedup,
           (SELECT CAST(coalesce(sum(ntk), 0) AS BIGINT) FROM tok4) AS tokens_total
"""


# --------------------------------------------------------------------------
# driver contract
# --------------------------------------------------------------------------
# graph / corpus-curation queries added in round 5
# --------------------------------------------------------------------------

_CC_G = 97  # residue classes of the synthetic component graph


def q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components (large-star/small-star) over a deterministic
    synthetic link graph: doc i chains to i+97, and every 3rd doc also
    shortcuts to its class minimum (i % 97) — 97 components of mixed
    chain/star topology. Component label = min doc_id of the class, which
    the oracle states in closed form (min over the residue class) while
    Spark runs the generic O(log²n)-round algorithm. Reference analogue:
    one scrape job per seed's own domain = one component per site
    (/root/reference/app.py:893-1006)."""
    from bodhium_webscrapper_spark.operators.graph import connected_components

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    mx = docs.agg(F.max("doc_id").alias("_mx"))
    base = docs.crossJoin(F.broadcast(mx))
    chain = base.where(F.col("doc_id") + _CC_G <= F.col("_mx")).select(
        F.col("doc_id").alias("src"), (F.col("doc_id") + _CC_G).alias("dst")
    )
    shortcut = base.where(
        (F.col("doc_id") % 3 == 0) & (F.col("doc_id") >= _CC_G)
    ).select(F.col("doc_id").alias("src"), (F.col("doc_id") % _CC_G).alias("dst"))
    comps = connected_components(chain.union(shortcut))
    return (
        docs.join(comps, docs["doc_id"] == comps["id"], "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("component"),
        )
        .orderBy("doc_id")
    )


_Q_CC_SQL = f"""
    SELECT doc_id,
           min(doc_id) OVER (PARTITION BY doc_id % {_CC_G}) AS component
    FROM documents ORDER BY doc_id
"""


def q_tfidf_topk_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 salient terms per document — the inverted-index shape: explode
    tokens, per-(doc,term) tf, corpus-wide df, big-to-big shuffle join on
    term, per-doc top-k window. Scoring is INTEGER tf-idf ((tf*N) div df):
    float idf (ln) is last-ulp unstable across engines and would break the
    hash gate; the integer surrogate preserves the ranking semantics.
    Scale: df is a map-side-combined count over the term key (stopword
    heavy-hitters partial-aggregate before the shuffle; AQE splits any
    residual skew), and the top-k window partitions by doc_id — never a
    global sort."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(
                    F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " "),
                    " ",
                ),
                lambda x: x != "",
            )
        ).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    ndocs = docs.agg(F.countDistinct("doc_id").alias("_n"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(ndocs))
        .withColumn("score", F.expr("(tf * _n) div df"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select("doc_id", "term", "tf", "df", "score", "rn")
        .orderBy("doc_id", "rn")
    )


_Q_TFIDF_SQL = """
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(
               trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '
             )) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf
           FROM toks WHERE term != '' GROUP BY 1, 2),
    dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(DISTINCT doc_id) AS _n FROM documents),
    s AS (SELECT doc_id, tf.term, tf, df, (tf * _n) // df AS score
          FROM tf JOIN dfr ON tf.term = dfr.term, n),
    r AS (SELECT *, row_number() OVER
            (PARTITION BY doc_id ORDER BY score DESC, term) AS rn FROM s)
    SELECT doc_id, term, tf, df, score, rn
    FROM r WHERE rn <= 5 ORDER BY doc_id, rn
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling for dataset mixing: per-source
    md5-prefix threshold (even sources keep ≈75%, odd ≈25%). The keep
    decision is a pure function of doc_id — reproducible across runs,
    engines, and partitionings (the property TABLESAMPLE/rand() lack), so
    a 100 TB mixing job can be re-run incrementally and audited. Hex-string
    comparison against the cutoff avoids casting through floats."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    src_num = F.substring(F.col("source"), 4, 10).cast("int")
    cutoff = F.when(src_num % 2 == 0, F.lit("c0000000")).otherwise(F.lit("40000000"))
    keep = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8) < cutoff
    return docs.where(keep).select("doc_id", "source").orderBy("doc_id")


_Q_STRATIFIED_SQL = """
    SELECT doc_id, source FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
          CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0
               THEN 'c0000000' ELSE '40000000' END
    ORDER BY doc_id
"""


def q_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER canonicalization — the step after pair detection:
    MinHash-LSH pairs (exact-verified at jaccard>=0.7, the same edge set
    q_minhash_lsh_dups emits) → connected components → keep the
    component-min doc per cluster. This is the actual curation decision a
    dedup pipeline ships (Lee et al. 2022 §3.2: cluster, then keep one),
    composed from operators/dedup.py + operators/graph.py. Oracle rebuilds
    the exact-Jaccard pair graph and resolves components with a recursive
    min-reachability walk — tractable because dup clusters are tiny even
    when the corpus is not."""
    from bodhium_webscrapper_spark.operators.dedup import (
        dedup_clusters,
        minhash_lsh_pairs,
    )

    df = _docs_with_near_dups(spark, sf_dir)
    pairs = minhash_lsh_pairs(
        df, "doc_id", "text", n_hashes=32, bands=8, jaccard_threshold=0.7
    )
    return dedup_clusters(df, pairs, id_col="doc_id").orderBy("doc_id")


_Q_NEARDUP_CLUSTERS_SQL = f"""
    WITH RECURSIVE {_jaccard_pair_ctes(0.7)},
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs),
    walk(id, r) AS (
      SELECT doc_id, doc_id FROM d
      UNION
      SELECT e.dst, w.r FROM walk w JOIN edges e ON e.src = w.id)
    SELECT id AS doc_id, min(r) AS cluster, (min(r) = id) AS is_canonical
    FROM walk GROUP BY id ORDER BY doc_id
"""


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-crawl snapshot diff: two deterministic snapshots carved
    from ``documents`` (old = doc_id%5!=0, new = doc_id%7!=0 with every
    3rd doc's content mutated) FULL-OUTER-joined on the key and classified
    added/removed/changed/unchanged (operators/diff.py). At 100 TB both
    snapshots live bucketed on the key (write_bucketed), so this join is
    storage-partitioned and zero-exchange — the classification itself
    never shuffles."""
    from bodhium_webscrapper_spark.operators.diff import snapshot_diff

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    old = docs.where(F.col("doc_id") % 5 != 0).select(
        "doc_id", F.md5(F.col("text")).alias("content_hash")
    )
    new = docs.where(F.col("doc_id") % 7 != 0).select(
        "doc_id",
        F.md5(
            F.when(
                F.col("doc_id") % 3 == 0, F.concat(F.col("text"), F.lit("!"))
            ).otherwise(F.col("text"))
        ).alias("content_hash"),
    )
    return snapshot_diff(old, new, key="doc_id").orderBy("doc_id")


_Q_SNAPSHOT_DIFF_SQL = """
    WITH o AS (
      SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 5 != 0),
    n AS (
      SELECT doc_id,
             md5(CASE WHEN doc_id % 3 = 0 THEN text || '!' ELSE text END) AS h
      FROM documents WHERE doc_id % 7 != 0)
    SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.h IS NULL THEN 'added'
                WHEN n.h IS NULL THEN 'removed'
                WHEN o.h != n.h THEN 'changed'
                ELSE 'unchanged' END AS status
    FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
    ORDER BY doc_id
"""


def q_mirror_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mirror-site detection — the host-graph use connected components
    exists for (operators/graph.py module doc): hosts sharing ≥3 identical
    page fingerprints are mirror candidates; components of the
    shared-content host graph are mirror GROUPS, detected once per host
    pair instead of near-dupping every page pair (10^6× cheaper on a
    mirrored 10^6-page site). Fixture: 24 synthetic hosts (doc_id % 24);
    every second page of hosts 0-7 is mirrored onto host+100.

    Scale shape: fp→hosts is a map-side-combined distinct; a hot-fp cap
    (fps on >16 hosts are boilerplate, not mirrors — dropped BEFORE the
    self-join) bounds the pair blowup exactly like the winnow hot-fp cap;
    the host-pair edge list is tiny (hosts, not pages), so the CC rounds
    are control-plane-sized."""
    from bodhium_webscrapper_spark.operators.graph import connected_components

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.select(
        (F.col("doc_id") % 24).alias("host"), F.md5(F.col("text")).alias("fp")
    )
    # mirror every second PAGE OF EACH HOST (div-parity, decoupled from the
    # host assignment's own modulus — doc_id % 2 would couple with % 24 and
    # silently mirror only the even hosts)
    mirrored = docs.where(
        ((F.col("doc_id") % 24) < 8)
        & ((F.col("doc_id") / 24).cast("long") % 2 == 0)
    ).select(
        ((F.col("doc_id") % 24) + 100).alias("host"),
        F.md5(F.col("text")).alias("fp"),
    )
    host_fp = base.unionByName(mirrored).distinct()
    hot = host_fp.groupBy("fp").agg(F.count(F.lit(1)).alias("_nh")).where(
        F.col("_nh") > 16
    )
    cool = host_fp.join(hot, "fp", "left_anti")
    edges = (
        cool.alias("a")
        .join(cool.alias("b"), "fp")
        .where(F.col("a.host") < F.col("b.host"))
        .groupBy(F.col("a.host").alias("src"), F.col("b.host").alias("dst"))
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(F.col("shared") >= 3)
        .select("src", "dst")
    )
    hosts = host_fp.select("host").distinct()
    comps = connected_components(edges)
    return (
        hosts.join(comps.withColumnRenamed("id", "host"), "host", "left")
        .select(
            "host",
            F.coalesce(F.col("component"), F.col("host")).alias("mirror_group"),
        )
        .orderBy("host")
    )


_Q_MIRROR_HOSTS_SQL = """
    WITH RECURSIVE hf AS (
      SELECT DISTINCT doc_id % 24 AS host, md5(text) AS fp FROM documents
      UNION
      SELECT DISTINCT (doc_id % 24) + 100 AS host, md5(text) AS fp
      FROM documents WHERE doc_id % 24 < 8 AND (doc_id // 24) % 2 = 0
    ),
    cool AS (
      SELECT host, fp FROM hf
      WHERE fp NOT IN (SELECT fp FROM hf GROUP BY fp HAVING count(*) > 16)
    ),
    e AS (
      SELECT a.host AS src, b.host AS dst
      FROM cool a JOIN cool b ON a.fp = b.fp AND a.host < b.host
      GROUP BY 1, 2 HAVING count(*) >= 3
    ),
    edges AS (
      SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e
    ),
    walk(id, r) AS (
      SELECT DISTINCT host, host FROM hf
      UNION
      SELECT e.dst, w.r FROM walk w JOIN edges e ON e.src = w.id
    )
    SELECT id AS host, min(r) AS mirror_group
    FROM walk GROUP BY id ORDER BY host
"""


def q_anchor_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text aggregation per link target — the classic webgraph
    feature build (a page is described by the text of the links that point
    AT it; reference analogue: the outlink loop at
    /root/reference/app.py:957-1006 keeps link text alongside each URL).
    Links are synthesized deterministically from ``documents``: doc i
    anchors to docs (7i+13) mod N and (3i+5) mod N, with anchor text = the
    source doc's first two normalized tokens.

    Scale shape: TWO-PHASE aggregation. Phase 1 groups by (target, anchor)
    — map-side partial combine collapses the heavy-hitter anchors
    ("click here") BEFORE the shuffle, so reducer state per target is
    bounded by the number of DISTINCT anchors, not in-degree (a 10^8-in-link
    homepage arrives as a few thousand rows, not 10^8). Phase 2 groups by
    target and sorts the collected set — a driver-safe per-key array whose
    size phase 1 already capped. A single-phase collect_set(anchor) over raw
    links would buffer every duplicate string through the shuffle."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    n = docs.agg(F.countDistinct("doc_id").alias("_n"))
    toks = F.split(
        F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " ")), " "
    )
    anchor = F.array_join(F.slice(toks, 1, 2), " ")
    src = docs.crossJoin(F.broadcast(n)).select(
        F.col("doc_id").alias("src"), anchor.alias("anchor"), F.col("_n")
    )
    # explode, not union: a union of two selects over `src` would duplicate
    # the whole upstream lineage (two corpus scans + two scalar-count
    # subplans); explode emits both link targets from ONE pass
    links = src.select(
        "src",
        "anchor",
        F.explode(
            F.array(
                (F.col("src") * 7 + 13) % F.col("_n"),
                (F.col("src") * 3 + 5) % F.col("_n"),
            )
        ).alias("dst"),
    )
    per_anchor = links.groupBy("dst", "anchor").agg(
        F.count(F.lit(1)).alias("hits"), F.countDistinct("src").alias("srcs")
    )
    return (
        per_anchor.groupBy("dst")
        .agg(
            F.sum("hits").alias("in_degree"),
            F.sum("srcs").alias("distinct_sources"),
            F.array_join(F.array_sort(F.collect_set("anchor")), "|").alias(
                "anchors"
            ),
        )
        .orderBy("dst")
    )


_Q_ANCHOR_SQL = """
    WITH src AS (
      SELECT doc_id AS src,
             array_to_string(
               string_split_regex(
                 trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
                 ' ')[1:2], ' ') AS anchor,
             (SELECT count(DISTINCT doc_id) FROM documents) AS _n
      FROM documents
    ),
    links AS (
      SELECT src, anchor, (src * 7 + 13) % _n AS dst FROM src
      UNION ALL
      SELECT src, anchor, (src * 3 + 5) % _n AS dst FROM src
    ),
    per_anchor AS (
      SELECT dst, anchor, count(*) AS hits, count(DISTINCT src) AS srcs
      FROM links GROUP BY 1, 2
    )
    SELECT dst, CAST(sum(hits) AS BIGINT) AS in_degree,
           CAST(sum(srcs) AS BIGINT) AS distinct_sources,
           string_agg(anchor, '|' ORDER BY anchor) AS anchors
    FROM per_anchor GROUP BY dst ORDER BY dst
"""


def q_robots_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5 front-end: RFC 9309 robots.txt TEXT → gate-ready rules table
    (operators/robots.py parse_robots_txt — posexplode + windows + aggs,
    all JVM). Corpus synthesized per host from `documents`, covering:
    specific-agent-beats-star, star fallback, merged same-agent groups,
    stacked/case-insensitive User-agent lines, comments, CRLF, empty
    Disallow, non-numeric Crawl-delay, rules before any group, and hosts
    with no matching group (absent from output). The oracle re-implements
    the ENTIRE parse independently in windowed DuckDB SQL."""
    from bodhium_webscrapper_spark.operators.robots import parse_robots_txt

    docs = _t(spark, sf_dir, "documents")
    hosts = docs.select((F.col("doc_id") % 20).cast("int").alias("i")).distinct()
    i = F.col("i")
    s = i.cast("string")
    txt = (
        F.when(
            i % 4 == 0,
            F.concat(
                F.lit("User-agent: bodhium\nDisallow: /priv"), s,
                F.lit("\nAllow: /priv"), s, F.lit("/ok\nAllow:\n"),
                F.lit("\nCrawl-delay: 1.5\n\nUser-agent: *\nDisallow: /star\n"),
            ),
        )
        .when(
            i % 4 == 1,
            F.concat(
                F.lit("# c\r\nUser-agent: *\r\nDisallow: /tmp"), s,
                F.lit("\r\nCrawl-delay: "), (i + 1).cast("string"), F.lit("\r\n"),
            ),
        )
        .when(i % 4 == 2, F.lit("User-agent: other\nDisallow: /all\n"))
        .otherwise(
            F.concat(
                F.lit(
                    "Disallow: /orphan\nUser-agent: googlebot\n# interleaved\n"
                    "\nUser-agent: BODHIUM\nDisallow: /a\nDisallow:\n"
                    "User-agent: bodhium\nDisallow: /b"
                ),
                s,
                F.lit("\nCrawl-delay: xx\n"),
            )
        )
    )
    raw = hosts.select(
        F.concat(F.lit("h"), s, F.lit(".example")).alias("host"),
        txt.alias("robots_txt"),
    )
    out = parse_robots_txt(raw, agent="bodhium")
    return out.select(
        "host",
        F.array_join("disallow_prefixes", "|").alias("disallow"),
        F.array_join("allow_prefixes", "|").alias("allow"),
        "crawl_delay_ms",
    ).orderBy("host")


_Q_ROBOTS_PARSE_SQL = r"""
    WITH hosts AS (
      SELECT DISTINCT CAST(doc_id % 20 AS INTEGER) AS i FROM documents
    ),
    raw AS (
      SELECT 'h' || i || '.example' AS host,
        CASE CAST(i % 4 AS INTEGER)
          WHEN 0 THEN e'User-agent: bodhium\nDisallow: /priv' || i ||
            e'\nAllow: /priv' || i || e'/ok\nAllow:\n' ||
            e'\nCrawl-delay: 1.5\n\nUser-agent: *\nDisallow: /star\n'
          WHEN 1 THEN e'# c\r\nUser-agent: *\r\nDisallow: /tmp' || i ||
            e'\r\nCrawl-delay: ' || (i + 1) || e'\r\n'
          WHEN 2 THEN e'User-agent: other\nDisallow: /all\n'
          ELSE e'Disallow: /orphan\nUser-agent: googlebot\n# interleaved\n' ||
            e'\nUser-agent: BODHIUM\nDisallow: /a\nDisallow:\n' ||
            e'User-agent: bodhium\nDisallow: /b' || i || e'\nCrawl-delay: xx\n'
        END AS robots_txt
      FROM hosts
    ),
    lines AS (
      SELECT host,
        unnest(generate_series(1, len(string_split_regex(robots_txt, '\r?\n')))) AS pos,
        unnest(string_split_regex(robots_txt, '\r?\n')) AS line
      FROM raw
    ),
    kv AS (
      SELECT host, pos,
        lower(trim(regexp_extract(cl, '^([^:]+):', 1))) AS key,
        trim(regexp_extract(cl, '^[^:]*:(.*)$', 1)) AS val
      FROM (SELECT host, pos, trim(regexp_replace(line, '#.*$', '')) AS cl
            FROM lines)
    ),
    flagged AS (
      -- blank/comment/non-directive lines (key = '') carry no RFC 9309
      -- grouping significance: drop them BEFORE the lag so consecutive
      -- User-agent lines separated by blanks/comments stay one group
      SELECT host, pos, key, val, (key = 'user-agent') AS is_ua,
        coalesce(lag(key = 'user-agent')
          OVER (PARTITION BY host ORDER BY pos), FALSE) AS prev_ua
      FROM kv WHERE key <> ''
    ),
    grp AS (
      SELECT *, sum(CASE WHEN is_ua AND NOT prev_ua THEN 1 ELSE 0 END)
        OVER (PARTITION BY host ORDER BY pos) AS g
      FROM flagged
    ),
    groups AS (
      SELECT host, g,
        list(lower(val)) FILTER (WHERE is_ua) AS agents,
        coalesce(list(val) FILTER (WHERE key = 'disallow' AND val <> ''),
                 []) AS disallows,
        coalesce(list(val) FILTER (WHERE key = 'allow' AND val <> ''),
                 []) AS allows,
        min(TRY_CAST(val AS DOUBLE)) FILTER (WHERE key = 'crawl-delay')
          AS delay_s
      FROM grp WHERE g > 0 GROUP BY host, g
    ),
    ranked AS (
      SELECT host, disallows, allows, delay_s,
        CASE WHEN list_contains(agents, 'bodhium') THEN 1
             WHEN list_contains(agents, '*') THEN 2 END AS rnk
      FROM groups
    ),
    sel AS (
      SELECT *, min(rnk) OVER (PARTITION BY host) AS minr
      FROM ranked WHERE rnk IS NOT NULL
    )
    SELECT host,
      array_to_string(list_sort(list_distinct(flatten(list(disallows)))),
                      '|') AS disallow,
      coalesce(array_to_string(list_sort(list_distinct(flatten(list(allows)))),
                               '|'), '') AS allow,
      CAST(floor(min(delay_s) * 1000) AS BIGINT) AS crawl_delay_ms
    FROM sel WHERE rnk = minr
    GROUP BY host ORDER BY host
"""


def q_robots_gate_precedence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U5 full RFC 9309 §2.2.2/§2.2.3 precedence: longest-matching rule
    wins, Allow beats Disallow on equal length, ``*`` wildcards and
    trailing-``$`` anchors (operators/robots.py robots_gate — per-rule
    regexes built at prep time, startswith fast path for plain prefixes).
    Seven path shapes per host: prefix-blocked, allow-overridden,
    wildcard-blocked-over-shorter-allow, allow-when-wildcard-misses,
    anchor-blocked, anchor-miss, equal-length-tie→allow. The oracle
    reimplements longest-match in SQL over hand-derived regexes."""
    from bodhium_webscrapper_spark.operators.robots import robots_gate

    docs = _t(spark, sf_dir, "documents")
    base = docs.select(
        F.concat(
            F.lit("h"), (F.col("doc_id") % 10).cast("string"), F.lit(".example")
        ).alias("host"),
        (F.col("doc_id") % 7).cast("int").alias("c"),
    ).distinct()
    paths = F.array(
        *[F.lit(p) for p in ["/p/a", "/p/ok/z", "/q/1/x", "/q/z",
                             "/exact", "/exactmore", "/same/x"]]
    )
    urls = base.select(
        "host",
        F.concat(F.lit("https://"), F.col("host"),
                 F.element_at(paths, F.col("c") + 1)).alias("canonical_url"),
    )
    rules = base.select("host").distinct().select(
        "host",
        F.array(F.lit("/p"), F.lit("/q/*/x"), F.lit("/exact$"),
                F.lit("/same")).alias("disallow_prefixes"),
        F.array(F.lit("/p/ok"), F.lit("/q"), F.lit("/same")).alias(
            "allow_prefixes"
        ),
    )
    kept = robots_gate(urls, rules)
    return kept.select("host", "canonical_url").orderBy("host", "canonical_url")


_Q_ROBOTS_PRECEDENCE_SQL = r"""
    WITH base AS (
      SELECT DISTINCT 'h' || (doc_id % 10) || '.example' AS host,
             CAST(doc_id % 7 AS INTEGER) AS c
      FROM documents
    ),
    urls AS (
      SELECT host,
        ['/p/a', '/p/ok/z', '/q/1/x', '/q/z',
         '/exact', '/exactmore', '/same/x'][c + 1] AS path
      FROM base
    ),
    rules(rx, rlen, allow) AS (VALUES
      ('^/p',      2, FALSE),
      ('^/q/.*/x', 6, FALSE),
      ('^/exact$', 7, FALSE),
      ('^/same',   5, FALSE),
      ('^/p/ok',   5, TRUE),
      ('^/q',      2, TRUE),
      ('^/same',   5, TRUE)),
    scored AS (
      SELECT u.host, u.path,
        coalesce(max(CASE WHEN NOT r.allow THEN r.rlen END), 0) AS best_dis,
        coalesce(max(CASE WHEN r.allow THEN r.rlen END), 0) AS best_alw
      FROM urls u LEFT JOIN rules r ON regexp_matches(u.path, r.rx)
      GROUP BY u.host, u.path
    )
    SELECT host, 'https://' || host || path AS canonical_url
    FROM scored WHERE best_dis <= best_alw
    ORDER BY host, canonical_url
"""


def _sitemap_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sitemap-body corpus shared by the sitemap queries:
    (sitemap_url, sitemap_xml) per i in 0..11 (keyed off `documents`).
    i%3==0 → sitemapindex (two child pointers, one lastmod, padded loc);
    else → urlset with an entity-escaped loc, a loc-less entry, a plain
    loc, and a SHARED URL (https://shared.example/home) that sits at
    position 0 when i%3==1 and at the tail when i%3==2 — the cross-sitemap
    duplicate whose best (earliest) position the seed derivation must
    keep."""
    docs = _t(spark, sf_dir, "documents")
    idx = docs.select((F.col("doc_id") % 12).cast("int").alias("i")).distinct()
    i = F.col("i")
    s = i.cast("string")
    shared = "<url><loc>https://shared.example/home</loc></url>\n"
    xml = F.when(
        i % 3 == 0,
        F.concat(
            F.lit("<sitemapindex><sitemap><loc>https://s"), s,
            F.lit(".example/a.xml</loc><lastmod>2026-0"),
            ((i % 9) + 1).cast("string"),
            F.lit("-01</lastmod></sitemap><sitemap><loc> https://s"), s,
            F.lit(".example/b.xml </loc></sitemap></sitemapindex>"),
        ),
    ).otherwise(
        F.concat(
            F.lit("<urlset>\n"),
            F.when(i % 3 == 1, F.lit(shared)).otherwise(F.lit("")),
            F.lit("<url>\n<loc>https://s"), s,
            F.lit(".example/p?a=1&amp;b="), s,
            F.lit("</loc>\n</url>\n<url><lastmod>x</lastmod></url>\n"
                  "<url><loc>https://s"),
            s,
            F.lit(".example/q</loc></url>\n"),
            F.when(i % 3 == 2, F.lit(shared)).otherwise(F.lit("")),
            F.lit("</urlset>"),
        )
    )
    return idx.select(
        F.concat(F.lit("https://s"), s, F.lit(".example/sitemap.xml")).alias(
            "sitemap_url"
        ),
        xml.alias("sitemap_xml"),
    )


def q_sitemap_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 front-end: sitemap XML bodies → (kind, entry_pos, loc, lastmod)
    rows (sources/sitemap.py parse_sitemap — regexp_extract_all +
    posexplode, zero shuffle). Corpus covers urlset + sitemapindex,
    whitespace-padded <loc>, entity escapes, missing <lastmod>, and
    loc-less entries (dropped but position-preserving)."""
    from bodhium_webscrapper_spark.sources.sitemap import parse_sitemap

    out = parse_sitemap(_sitemap_corpus(spark, sf_dir))
    return out.select(
        "sitemap_url", "kind",
        F.col("entry_pos").cast("long").alias("entry_pos"),
        "loc", "lastmod",
    ).orderBy("sitemap_url", "entry_pos")


_Q_SITEMAP_CORPUS_SQL = r"""
    idx AS (
      SELECT DISTINCT CAST(doc_id % 12 AS INTEGER) AS i FROM documents
    ),
    raw AS (
      SELECT 'https://s' || i || '.example/sitemap.xml' AS sitemap_url,
        CASE WHEN i % 3 = 0 THEN
          '<sitemapindex><sitemap><loc>https://s' || i ||
          '.example/a.xml</loc><lastmod>2026-0' || ((i % 9) + 1) ||
          '-01</lastmod></sitemap><sitemap><loc> https://s' || i ||
          '.example/b.xml </loc></sitemap></sitemapindex>'
        ELSE
          e'<urlset>\n' ||
          CASE WHEN i % 3 = 1
            THEN e'<url><loc>https://shared.example/home</loc></url>\n'
            ELSE '' END ||
          e'<url>\n<loc>https://s' || i ||
          e'.example/p?a=1&amp;b=' || i ||
          e'</loc>\n</url>\n<url><lastmod>x</lastmod></url>\n' ||
          e'<url><loc>https://s' || i || e'.example/q</loc></url>\n' ||
          CASE WHEN i % 3 = 2
            THEN e'<url><loc>https://shared.example/home</loc></url>\n'
            ELSE '' END ||
          '</urlset>'
        END AS xml
      FROM idx
    )
"""


_Q_SITEMAP_PARSE_SQL = r"""
    WITH """ + _Q_SITEMAP_CORPUS_SQL + r""",
    entries AS (
      SELECT sitemap_url,
        CASE WHEN xml LIKE '%<sitemapindex%' THEN 'index'
             ELSE 'urlset' END AS kind,
        unnest(generate_series(1, len(regexp_extract_all(xml,
          '(?s)<(?:url|sitemap)\b[^>]*>(.*?)</(?:url|sitemap)>', 1)))) AS p1,
        unnest(regexp_extract_all(xml,
          '(?s)<(?:url|sitemap)\b[^>]*>(.*?)</(?:url|sitemap)>', 1)) AS entry
      FROM raw
    )
    SELECT sitemap_url, kind, CAST(p1 - 1 AS BIGINT) AS entry_pos,
      replace(regexp_extract(entry, '(?s)<loc>\s*(.*?)\s*</loc>', 1),
              '&amp;', '&') AS loc,
      nullif(regexp_extract(entry, '(?s)<lastmod>\s*(.*?)\s*</lastmod>', 1),
             '') AS lastmod
    FROM entries
    WHERE regexp_extract(entry, '(?s)<loc>\s*(.*?)\s*</loc>', 1) <> ''
    ORDER BY sitemap_url, entry_pos
"""


def q_sitemap_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 seed derivation: sitemap bodies → frontier seed list (url,
    priority=1/(1+position), best-position-wins across sitemaps) via
    sources/sitemap.py sitemap_seeds — the --sitemaps CLI source. The
    shared URL planted at position 0 in i%3==1 sitemaps and at the tail
    of i%3==2 sitemaps must come out once, at priority 1.0."""
    from bodhium_webscrapper_spark.sources.sitemap import sitemap_seeds

    out = sitemap_seeds(_sitemap_corpus(spark, sf_dir))
    return out.select(
        "url", F.round("priority", 6).alias("priority")
    ).orderBy("url")


_Q_SITEMAP_SEEDS_SQL = r"""
    WITH """ + _Q_SITEMAP_CORPUS_SQL + r""",
    entries AS (
      SELECT sitemap_url,
        CASE WHEN xml LIKE '%<sitemapindex%' THEN 'index'
             ELSE 'urlset' END AS kind,
        unnest(generate_series(1, len(regexp_extract_all(xml,
          '(?s)<(?:url|sitemap)\b[^>]*>(.*?)</(?:url|sitemap)>', 1)))) AS p1,
        unnest(regexp_extract_all(xml,
          '(?s)<(?:url|sitemap)\b[^>]*>(.*?)</(?:url|sitemap)>', 1)) AS entry
      FROM raw
    )
    SELECT replace(regexp_extract(entry, '(?s)<loc>\s*(.*?)\s*</loc>', 1),
                   '&amp;', '&') AS url,
      round(max(1.0 / CAST(p1 AS DOUBLE)), 6) AS priority
    FROM entries
    WHERE kind = 'urlset'
      AND regexp_extract(entry, '(?s)<loc>\s*(.*?)\s*</loc>', 1) <> ''
    GROUP BY url ORDER BY url
"""


def q_missing_child_sitemaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 fixpoint frontier: sitemapindex children absent from the fetched
    corpus (sources/sitemap.py missing_child_sitemaps — distinct + anti-
    join). Every a.xml/b.xml pointer in the corpus is unfetched, so all
    must surface; the fetched sitemap.xml urls must not."""
    from bodhium_webscrapper_spark.sources.sitemap import missing_child_sitemaps

    return missing_child_sitemaps(_sitemap_corpus(spark, sf_dir)).orderBy(
        "sitemap_url"
    )


_Q_MISSING_SITEMAPS_SQL = r"""
    WITH """ + _Q_SITEMAP_CORPUS_SQL + r""",
    entries AS (
      SELECT sitemap_url,
        CASE WHEN xml LIKE '%<sitemapindex%' THEN 'index'
             ELSE 'urlset' END AS kind,
        unnest(regexp_extract_all(xml,
          '(?s)<(?:url|sitemap)\b[^>]*>(.*?)</(?:url|sitemap)>', 1)) AS entry
      FROM raw
    ),
    children AS (
      SELECT DISTINCT
        trim(regexp_extract(entry, '(?s)<loc>\s*(.*?)\s*</loc>', 1)) AS child
      FROM entries
      WHERE kind = 'index'
        AND regexp_extract(entry, '(?s)<loc>\s*(.*?)\s*</loc>', 1) <> ''
    )
    SELECT child AS sitemap_url FROM children
    WHERE child NOT IN (SELECT sitemap_url FROM raw)
    ORDER BY sitemap_url
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk training-sequence packing (operators/packing.py):
    documents ordered by doc_id, token counts prefix-summed with the
    two-phase distributed scan (NO single-partition window — per-partition
    totals to the driver, one Arrow cumsum pass), then sliced into
    fixed-length 256-token sequences; one row per (doc × sequence) with the
    doc slice and its position in the sequence. The oracle replays the same
    layout with a windowed cumulative sum + generate_series — tractable at
    sf0.01, the exact shape this operator exists to avoid at 10^10 docs."""
    from bodhium_webscrapper_spark.functions.textstats import token_count
    from bodhium_webscrapper_spark.operators.packing import pack_sequences

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    return pack_sequences(docs, seq_len=256).orderBy("seq_id", "doc_id")


_Q_PACK_SQL = """
    WITH toks AS (
      SELECT doc_id,
        CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len(string_split_regex(trim(text), '\\s+')) END AS n
      FROM documents),
    off AS (
      SELECT doc_id, n,
        CAST(COALESCE(SUM(n) OVER (ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS g
      FROM toks)
    SELECT s.seq_id, o.doc_id,
      GREATEST(0, s.seq_id * 256 - o.g) AS tok_start,
      LEAST(o.n, (s.seq_id + 1) * 256 - o.g) AS tok_end,
      GREATEST(0, o.g - s.seq_id * 256) AS seq_pos
    FROM off o, LATERAL (
      SELECT unnest(generate_series(o.g // 256, (o.g + o.n - 1) // 256)) AS seq_id) s
    WHERE o.n > 0
    ORDER BY seq_id, doc_id
"""


def q_mixture_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture realization (operators/mixing.py): declared per-source
    target shares (synthesized from the source id: weight 1+src%5, in ppm)
    → integer keep rates (scarcest-relative-to-target source keeps 100%,
    ppm floor-division arithmetic) → deterministic md5-threshold selection.
    One bounded groupBy + a broadcast join + a scan-speed hash compare; the
    doc table is never shuffled."""
    from bodhium_webscrapper_spark.operators.mixing import mixture_select

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    targets = (
        docs.select("source")
        .distinct()
        .select(
            "source",
            (
                (F.lit(1) + F.substring(F.col("source"), 4, 10).cast("long") % 5)
                * F.lit(50_000)
            ).alias("target_ppm"),
        )
    )
    return mixture_select(docs, targets).orderBy("doc_id")


_Q_MIXTURE_SQL = """
    WITH counts AS (
      SELECT source, COUNT(*) AS n_docs,
        (1 + CAST(substr(source, 4) AS BIGINT) % 5) * 50000 AS target_ppm
      FROM documents GROUP BY source),
    r AS (
      -- // (integer div), not floor(a*b/c): float division rounds past
      -- 2^53, same exactness contract as the Spark side's `div`
      SELECT source, n_docs, target_ppm,
        (target_ppm * 1000000) // n_docs AS ratio_scaled
      FROM counts),
    k AS (
      SELECT source,
        CASE WHEN MAX(ratio_scaled) OVER () > 0
          THEN (ratio_scaled * 1000000) // (MAX(ratio_scaled) OVER ())
          ELSE 0 END AS keep_ppm
      FROM r)
    SELECT d.doc_id, d.source, k.keep_ppm
    FROM documents d JOIN k USING (source)
    WHERE CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        < (keep_ppm * 4294967296) // 1000000
    ORDER BY doc_id
"""


def q_media_phash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash media near-dup pairs: the SimHash banding/verify
    engine (dedup.hamming_neardup_pairs — pigeonhole banded self-join +
    JVM bit_count verify, integers-only shuffle) applied to a 64-bit pHash
    column. The pHash itself is the decoder's job (the same injection point
    as multimodal.decode_fn — no codec in this container); here it is a
    deterministic stand-in the oracle replays bit-for-bit: a 60-bit md5 of
    the payload's 40-byte 'perceptual family' prefix with the low 2 bits
    carrying a length-derived variant, so the planted near-dup payloads
    land within hamming 2 of their originals."""
    from bodhium_webscrapper_spark.functions.multimodal import (
        deterministic_media_fixture,
    )
    from bodhium_webscrapper_spark.operators.dedup import hamming_neardup_pairs

    docs = _docs_with_near_dups(spark, sf_dir)
    media = deterministic_media_fixture(docs, "text", "doc_id")
    fam = F.substring(F.decode(F.col("payload"), "utf-8"), 1, 40)
    h = F.conv(F.substring(F.md5(fam), 1, 15), 16, 10).cast("long")
    phash = h.bitwiseAND(F.lit(-4)).bitwiseOR(
        F.length(F.col("payload")) % 4
    )
    sigs = media.select(F.col("doc_id"), phash.alias("phash"))
    return (
        hamming_neardup_pairs(sigs, "doc_id", "phash", max_hamming=2, n_bands=4)
        .select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))
        .orderBy("id_a", "id_b")
    )


_Q_MEDIA_PHASH_SQL = f"""
    WITH d AS ({_DOCS_WITH_DUPS_SQL}),
    sig AS (
      SELECT doc_id,
        (CAST(concat('0x', substr(md5(substr(text, 1, 40)), 1, 15)) AS BIGINT) & -4)
          | (octet_length(encode(text)) % 4) AS s
      FROM d)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.s, b.s)) AS INTEGER) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.s, b.s)) <= 2
    ORDER BY id_a, id_b
"""


def q_url_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-template census (operators/traps.py url_template_census): URLs
    generalize into their machine-minted family shape (hex runs → H, digit
    runs → N, query values → V) and are counted per (host, template) — the
    URL-space trap signal that fires BEFORE content accumulates. Fixture:
    session-hex URLs, calendar paths, and item pages with paged queries all
    collapse into one template per family."""
    from bodhium_webscrapper_spark.operators.traps import url_template_census

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    m = F.col("doc_id") % 8
    host = F.concat(F.lit("h"), (F.col("doc_id") % 4).cast("string"),
                    F.lit(".example"))
    d = F.col("doc_id").cast("string")
    url = F.when(
        m == 0,
        F.concat(F.lit("https://"), host, F.lit("/s/"),
                 F.substring(F.md5(d), 1, 12)),
    ).when(
        m < 3,
        F.concat(F.lit("https://"), host, F.lit("/2024/"),
                 (F.col("doc_id") % 12 + 1).cast("string"), F.lit("/"),
                 (F.col("doc_id") % 28 + 1).cast("string"), F.lit("/item"), d),
    ).otherwise(
        F.concat(
            F.lit("https://"), host, F.lit("/p/"), d,
            F.when(F.col("doc_id") % 3 == 0,
                   F.concat(F.lit("?page="), (F.col("doc_id") % 50).cast("string"),
                            F.lit("&ref=x"))).otherwise(F.lit("")),
        )
    )
    return (
        url_template_census(docs.select(url.alias("url")), "url")
        .orderBy("host", "template")
    )


_Q_URL_TEMPLATES_SQL = r"""
    WITH urls AS (
      SELECT CASE
        WHEN doc_id % 8 = 0 THEN
          'https://h' || (doc_id % 4) || '.example/s/' ||
          substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
        WHEN doc_id % 8 < 3 THEN
          'https://h' || (doc_id % 4) || '.example/2024/' ||
          (doc_id % 12 + 1) || '/' || (doc_id % 28 + 1) || '/item' || doc_id
        ELSE
          'https://h' || (doc_id % 4) || '.example/p/' || doc_id ||
          (CASE WHEN doc_id % 3 = 0
                THEN '?page=' || (doc_id % 50) || '&ref=x' ELSE '' END)
        END AS url
      FROM documents),
    t AS (
      SELECT
        regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1) AS host,
        regexp_replace(regexp_replace(
          regexp_extract(url, '^[a-z][a-z0-9+.-]*://[^/?#]+(/[^?#]*)', 1),
          '[0-9a-f]{8,}', 'H', 'g'), '[0-9]+', 'N', 'g') AS path_t,
        regexp_extract(url, '\?([^#]*)', 1) AS q,
        url
      FROM urls),
    tpl AS (
      SELECT host,
        CASE WHEN q = '' THEN path_t
             ELSE path_t || '?' || regexp_replace(q, '=[^&#]*', '=V', 'g')
        END AS template,
        url
      FROM t)
    SELECT host, template, COUNT(*) AS n_urls,
           COUNT(DISTINCT url) AS n_distinct
    FROM tpl GROUP BY host, template ORDER BY host, template
"""


def q_common_phrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-learned boilerplate phrases (operators/quality.py
    common_phrases): top word-5-grams by document frequency, two-phase so
    gram text never rides the big shuffle (int64 hash census + broadcast
    winner-text recovery). Fixture plants a newsletter footer on every 2nd
    doc; its interior 5-grams must dominate the census. Runs under the
    md5-60-bit gram hash so DuckDB replays the census and the top-k
    tie-break bit-for-bit."""
    from bodhium_webscrapper_spark.operators.dedup import md5_token_hash
    from bodhium_webscrapper_spark.operators.quality import common_phrases

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(
                F.col("text"),
                F.lit(" subscribe to our weekly newsletter for updates today"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return common_phrases(
        docs, "doc_id", "text", n=5, k=10, min_docs=5, gram_hash=md5_token_hash
    )


_Q_COMMON_PHRASES_SQL = r"""
    WITH d AS (
      SELECT doc_id,
        string_split(trim(regexp_replace(lower(
          CASE WHEN doc_id % 2 = 0
               THEN text || ' subscribe to our weekly newsletter for updates today'
               ELSE text END), '\s+', ' ', 'g')), ' ') AS toks
      FROM documents),
    g AS (
      SELECT doc_id, unnest(list_distinct(
        CASE WHEN len(toks) >= 5 THEN
          list_transform(range(1, len(toks) - 3),
                         i -> array_to_string(list_slice(toks, i, i + 4), ' '))
        ELSE [array_to_string(toks, ' ')] END)) AS gram
      FROM d),
    h AS (
      SELECT doc_id, gram,
        CAST(concat('0x', substr(md5(gram), 1, 15)) AS BIGINT) AS hh
      FROM g),
    c AS (
      SELECT hh, COUNT(*) AS n_docs FROM h GROUP BY hh
      HAVING COUNT(*) >= 5),
    top AS (SELECT hh, n_docs FROM c ORDER BY n_docs DESC, hh LIMIT 10)
    SELECT min(h.gram) AS phrase, CAST(top.n_docs AS BIGINT) AS n_docs
    FROM h JOIN top USING (hh)
    GROUP BY hh, top.n_docs
    ORDER BY n_docs DESC, phrase
"""


def q_canonical_aliases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rel=canonical alias harvest + chain collapse (functions/extract.py
    canonical_link_of, operators/redirects.py canonical_alias_edges →
    resolve_redirects): synthetic pages declare canonicals in BOTH
    attribute orders (rel-then-href on doc_id%10∈{1,5}, href-then-rel on
    {2,6}); {1,2} form 2-hop chains ending at the tag-less %10==3 page,
    {5,6} point at each other (a declaration cycle), {7} is self-canonical
    (must emit no edge). The oracle replays the same two regexes and walks
    the alias map with a recursive CTE — regex twins AND the pointer-
    doubling contraction must agree row-for-row."""
    from bodhium_webscrapper_spark.operators.redirects import (
        canonical_alias_edges,
        resolve_redirects,
    )

    docs = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 10
    u = lambda c: F.concat(F.lit("https://ex.com/d"), c.cast("string"))  # noqa: E731
    url, nxt, prv = u(F.col("doc_id")), u(F.col("doc_id") + 1), u(F.col("doc_id") - 1)

    def rel_first(href):
        return F.concat(F.lit('<link rel="canonical" href="'), href, F.lit('"/>'))

    def href_first(href):
        return F.concat(F.lit('<link href="'), href, F.lit('" rel="canonical"/>'))

    pages = docs.select(
        url.alias("url"),
        F.concat(
            F.lit("<html><head>"),
            F.when(m == 1, rel_first(nxt))
            .when(m == 2, href_first(nxt))
            .when(m == 5, rel_first(nxt))
            .when(m == 6, href_first(prv))
            .when(m == 7, rel_first(url))
            .otherwise(F.lit("")),
            F.lit("</head><body>"),
            F.col("text"),
            F.lit("</body></html>"),
        ).alias("html_text"),
    )
    edges = canonical_alias_edges(pages, "url", "html_text")
    out = resolve_redirects(edges, max_hops=8)
    return out.select(
        "src_id",
        "final_id",
        F.col("hops").cast("long").alias("hops"),
        "is_cycle",
    ).orderBy("src_id")


_Q_CANONICAL_ALIASES_SQL = r"""
    WITH RECURSIVE p AS (
      SELECT 'https://ex.com/d' || CAST(doc_id AS VARCHAR) AS url,
        '<html><head>' ||
        CASE CAST(doc_id % 10 AS INTEGER)
          WHEN 1 THEN '<link rel="canonical" href="https://ex.com/d'
                      || CAST(doc_id + 1 AS VARCHAR) || '"/>'
          WHEN 2 THEN '<link href="https://ex.com/d'
                      || CAST(doc_id + 1 AS VARCHAR) || '" rel="canonical"/>'
          WHEN 5 THEN '<link rel="canonical" href="https://ex.com/d'
                      || CAST(doc_id + 1 AS VARCHAR) || '"/>'
          WHEN 6 THEN '<link href="https://ex.com/d'
                      || CAST(doc_id - 1 AS VARCHAR) || '" rel="canonical"/>'
          WHEN 7 THEN '<link rel="canonical" href="https://ex.com/d'
                      || CAST(doc_id AS VARCHAR) || '"/>'
          ELSE '' END ||
        '</head><body>' || text || '</body></html>' AS html
      FROM documents),
    x AS (
      SELECT url AS src,
        coalesce(
          nullif(regexp_extract(html,
            '(?i)<link[^>]*rel\s*=\s*["'']canonical["''][^>]*href\s*=\s*["'']([^"'']+)["'']', 1), ''),
          nullif(regexp_extract(html,
            '(?i)<link[^>]*href\s*=\s*["'']([^"'']+)["''][^>]*rel\s*=\s*["'']canonical["'']', 1), '')
        ) AS dst
      FROM p),
    edges AS (SELECT src, dst FROM x WHERE dst IS NOT NULL AND dst <> src),
    walk AS (
      SELECT src AS start, dst AS cur, 1 AS hops FROM edges
      UNION ALL
      SELECT w.start, e.dst, w.hops + 1 FROM walk w JOIN edges e ON e.src = w.cur
      WHERE w.hops < 8
    ),
    terminal AS (
      SELECT start, cur AS final, hops FROM walk w
      WHERE NOT EXISTS (SELECT 1 FROM edges e WHERE e.src = w.cur)
    )
    SELECT s.src AS src_id, t.final AS final_id,
           CAST(t.hops AS BIGINT) AS hops,
           t.final IS NULL AS is_cycle
    FROM (SELECT DISTINCT src FROM edges) s
    LEFT JOIN terminal t ON t.start = s.src
    ORDER BY src_id
"""


def q_meta_robots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-page REP directives (functions/extract.py meta_robots_cols, the
    page-level half of the robots machinery; robots.txt is the host-level
    half): synthetic pages declare <meta name=robots> in both attribute
    orders, single- and double-quoted, including the 'none' shorthand
    (= noindex,nofollow), an index,follow no-op, a name-mismatched meta
    that must NOT trigger, and tag-less pages. The oracle replays the two
    extraction regexes and the token-boundary directive matches."""
    from bodhium_webscrapper_spark.functions.extract import meta_robots_cols

    docs = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 8
    tag = (
        F.when(m == 0, F.lit('<meta name="robots" content="noindex, follow"/>'))
        .when(m == 1, F.lit('<meta content="nofollow" name="ROBOTS"/>'))
        .when(m == 2, F.lit('<meta name="robots" content="NONE"/>'))
        .when(m == 3, F.lit('<meta name="robots" content="index, follow"/>'))
        .when(m == 5, F.lit('<meta name="keywords" content="noindex"/>'))
        .when(m == 6, F.lit("<meta name='robots' content='noindex,nofollow'/>"))
        .otherwise(F.lit(""))
    )
    pages = docs.select(
        "doc_id",
        F.concat(
            F.lit("<html><head><title>t</title>"), tag,
            F.lit("</head><body>"), F.substring("text", 1, 80),
            F.lit("</body></html>"),
        ).alias("html_text"),
    )
    noindex, nofollow = meta_robots_cols(F.col("html_text"))
    return pages.select(
        "doc_id", noindex.alias("noindex"), nofollow.alias("nofollow")
    ).orderBy("doc_id")


_Q_META_ROBOTS_SQL = r"""
    WITH pages AS (
      SELECT doc_id,
        '<html><head><title>t</title>' ||
        CASE CAST(doc_id % 8 AS INTEGER)
          WHEN 0 THEN '<meta name="robots" content="noindex, follow"/>'
          WHEN 1 THEN '<meta content="nofollow" name="ROBOTS"/>'
          WHEN 2 THEN '<meta name="robots" content="NONE"/>'
          WHEN 3 THEN '<meta name="robots" content="index, follow"/>'
          WHEN 5 THEN '<meta name="keywords" content="noindex"/>'
          WHEN 6 THEN '<meta name=''robots'' content=''noindex,nofollow''/>'
          ELSE ''
        END || '</head><body>' || substr(text, 1, 80) || '</body></html>'
          AS html_text
      FROM documents),
    c AS (
      SELECT doc_id,
        coalesce(
          nullif(regexp_extract(html_text,
            '(?i)<meta[^>]*name\s*=\s*["'']robots["''][^>]*content\s*=\s*["'']([^"'']*)["'']', 1), ''),
          nullif(regexp_extract(html_text,
            '(?i)<meta[^>]*content\s*=\s*["'']([^"'']*)["''][^>]*name\s*=\s*["'']robots["'']', 1), '')
        ) AS content
      FROM pages)
    SELECT doc_id,
      coalesce(regexp_matches(content, '(?i)(^|[,\s])(noindex|none)([,\s]|$)'),
               FALSE) AS noindex,
      coalesce(regexp_matches(content, '(?i)(^|[,\s])(nofollow|none)([,\s]|$)'),
               FALSE) AS nofollow
    FROM c ORDER BY doc_id
"""


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher A1.2 quality-rule gate (the non-repetition half; Rae et al.
    2021) with two planted violation families: every 19th doc (offset 1)
    becomes hash-symbol spam (trips the symbol-to-word rule and the
    stopword rule), every 23rd (offset 4) becomes a bullet list (trips the
    bullet-line rule). Pure per-row JVM expressions — zero shuffle, the
    whole gate rides the scan."""
    from bodhium_webscrapper_spark.operators.quality import (
        gopher_quality_signals,
    )

    base = _t(spark, sf_dir, "documents").select("doc_id", "text")
    fixed = base.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 19 == 1,
            F.repeat(F.lit("# spam symbol block without stopword tokens "), 12),
        )
        .when(
            F.col("doc_id") % 23 == 4,
            F.repeat(F.lit("- bullet item entry line\n"), 20),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    sig = gopher_quality_signals(F.col("text"))
    return fixed.select(
        "doc_id", *[c.alias(n) for n, c in sig.items()]
    ).orderBy("doc_id")


_Q_GOPHER_QUALITY_SQL = r"""
    WITH fx AS (
      SELECT doc_id,
        CASE WHEN doc_id % 19 = 1
               THEN repeat('# spam symbol block without stopword tokens ', 12)
             WHEN doc_id % 23 = 4
               THEN repeat('- bullet item entry line' || chr(10), 20)
             ELSE text END AS text
      FROM documents),
    t AS (
      SELECT doc_id, text,
        list_filter(string_split(
          trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
          x -> x != '') AS toks,
        string_split(text, chr(10)) AS lines
      FROM fx),
    s AS (
      SELECT doc_id,
        CAST(len(toks) AS BIGINT) AS n_words,
        list_sum(list_transform(toks, x -> length(x))) AS word_chars,
        CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
             AS BIGINT) AS alpha_words,
        CAST(len(list_intersect(list_distinct(toks),
          ['the','be','to','of','and','that','have','with'])) AS BIGINT)
          AS stopword_hits,
        CAST((length(text) - length(replace(text, '#', '')))
          + (length(text) - length(replace(text, '...', ''))) // 3
          + (length(text) - length(replace(text, '…', ''))) AS BIGINT)
          AS symbol_hits,
        CAST(len(lines) AS BIGINT) AS n_lines,
        CAST(len(list_filter(lines,
          l -> regexp_matches(l, '^\s*([-*•])'))) AS BIGINT) AS bullet_lines,
        CAST(len(list_filter(lines,
          l -> regexp_matches(l, '(\.\.\.|…)\s*$'))) AS BIGINT)
          AS ellipsis_lines
      FROM t),
    m AS (
      SELECT *, CASE WHEN n_words > 0
                     THEN CAST((word_chars * 100) // n_words AS BIGINT)
                END AS mwl_c100
      FROM s)
    SELECT doc_id, n_words, mwl_c100, symbol_hits, n_lines, bullet_lines,
      ellipsis_lines, alpha_words, stopword_hits,
      coalesce(n_words >= 50 AND n_words <= 100000
        AND mwl_c100 >= 300 AND mwl_c100 <= 1000
        AND symbol_hits * 10 <= n_words
        AND bullet_lines * 10 <= n_lines * 9
        AND ellipsis_lines * 10 <= n_lines * 3
        AND alpha_words * 10 >= n_words * 8
        AND stopword_hits >= 2, FALSE) AS gopher_keep
    FROM m ORDER BY doc_id
"""


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023): every 4th source is the
    curated target split (same labeling as quality_classifier); every 7th
    doc (offset 3) — in BOTH splits — gets a distinctive curated-register
    phrase appended, so raw docs carrying the target's vocabulary score
    high. Train hashed unigram+bigram importance weights target-vs-raw,
    score every raw doc, keep the deterministic top-100. The selection is
    TakeOrdered at this k and switches to the exact distributed threshold
    above 10^6 (politeness.global_ordered_cap)."""
    from bodhium_webscrapper_spark.operators.mixing import (
        dsir_importance_weights,
        dsir_score,
        dsir_select,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    fixed = docs.select(
        "doc_id",
        (F.substring(F.col("source"), 4, 10).cast("int") % 4 == 0).alias(
            "is_t"
        ),
        F.when(
            F.col("doc_id") % 7 == 3,
            F.concat(
                F.col("text"),
                F.lit(" curated encyclopedic reference article"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    weights = dsir_importance_weights(fixed, "text", "is_t")
    scored = dsir_score(fixed, "doc_id", "text", weights)
    raw_scored = scored.join(
        fixed.filter(~F.col("is_t")).select("doc_id"), "doc_id"
    )
    return dsir_select(raw_scored, 100).orderBy(
        F.col("score_ppm").desc(), F.col("doc_id").asc()
    )


_Q_DSIR_SQL = """
    WITH lab AS (
      SELECT doc_id,
        (CAST(substr(source, 4) AS INT) % 4 = 0) AS is_t,
        CASE WHEN doc_id % 7 = 3
             THEN text || ' curated encyclopedic reference article'
             ELSE text END AS text
      FROM documents),
    toks AS (
      SELECT doc_id, is_t,
        list_filter(string_split(
          trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
          x -> x != '') AS t
      FROM lab),
    uni AS (SELECT doc_id, is_t, unnest(t) AS g FROM toks),
    big AS (
      SELECT doc_id, is_t, array_to_string(t[i+1:i+2], ' ') AS g
      FROM (SELECT doc_id, is_t, t, unnest(range(0, len(t) - 1)) AS i
            FROM toks WHERE len(t) >= 2)),
    gr AS (
      SELECT doc_id, is_t, substr(md5(g), 1, 4) AS bucket
      FROM (SELECT * FROM uni UNION ALL SELECT * FROM big)),
    w AS (
      SELECT bucket,
        (CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
          // CAST(count(*) AS BIGINT) AS w_ppm
      FROM gr GROUP BY 1),
    s AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
             sum(w_ppm) AS sw
      FROM gr JOIN w USING (bucket) GROUP BY 1)
    SELECT l.doc_id,
      CAST(coalesce(s.n_grams, 0) AS BIGINT) AS n_grams,
      CAST(s.sw // s.n_grams AS BIGINT) AS score_ppm
    FROM lab l LEFT JOIN s USING (doc_id)
    WHERE NOT l.is_t AND s.sw IS NOT NULL
    ORDER BY score_ppm DESC, l.doc_id ASC LIMIT 100
"""


def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail bucketing (Wenzek et al. 2020): per-language
    fluency terciles over the corpus-trained char-bigram familiarity score
    (rare-gram ppm — the LM-free perplexity stand-in, same planting as
    char_familiarity: every 13th doc becomes gibberish and must land in
    tail). Exact ntile per language."""
    from bodhium_webscrapper_spark.operators.quality import (
        ccnet_buckets,
        char_ngram_familiarity,
    )

    base = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    fixed = base.select(
        "doc_id",
        "lang",
        F.when(
            F.col("doc_id") % 13 == 2,
            F.repeat(
                F.concat(
                    F.translate(
                        F.col("doc_id").cast("string"),
                        "0123456789",
                        "qzxjvwkfyb",
                    ),
                    F.lit(" "),
                ),
                8,
            ),
        ).otherwise(F.col("text")).alias("text"),
    )
    fam = char_ngram_familiarity(fixed, "doc_id", "text", rare_threshold=50)
    scored = fixed.select("doc_id", "lang").join(fam, "doc_id").select(
        "doc_id",
        "lang",
        F.when(
            F.col("n_grams") > 0,
            F.expr("(n_rare * 1000000) div n_grams"),
        ).cast("long").alias("rare_ppm"),
    )
    return ccnet_buckets(scored, "doc_id", "lang", "rare_ppm").orderBy(
        "doc_id"
    )


_Q_CCNET_SQL = r"""
    WITH fixed AS (
      SELECT doc_id, lang,
        CASE WHEN doc_id % 13 = 2
             THEN repeat(translate(CAST(doc_id AS VARCHAR),
                         '0123456789', 'qzxjvwkfyb') || ' ', 8)
             ELSE text END AS text
      FROM documents),
    nt AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
      FROM fixed),
    g AS (
      SELECT doc_id, substr(t, i, 2) AS gram
      FROM (SELECT doc_id, t, unnest(range(1, length(t))) AS i
            FROM nt WHERE length(t) >= 2)),
    cnt AS (SELECT gram, count(*) AS c FROM g GROUP BY gram),
    pd AS (
      SELECT doc_id, count(*) AS n_grams,
             sum(CASE WHEN c < 50 THEN 1 ELSE 0 END) AS n_rare
      FROM g JOIN cnt USING (gram) GROUP BY doc_id),
    sc AS (
      SELECT d.doc_id, d.lang,
        CASE WHEN coalesce(p.n_grams, 0) > 0
             THEN CAST((p.n_rare * 1000000) // p.n_grams AS BIGINT)
        END AS rare_ppm
      FROM fixed d LEFT JOIN pd p USING (doc_id)),
    b AS (
      SELECT doc_id, lang, rare_ppm,
        ntile(3) OVER (PARTITION BY lang
                       ORDER BY rare_ppm ASC NULLS LAST, doc_id ASC) AS tile
      FROM sc)
    SELECT doc_id, lang, rare_ppm,
      CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM b ORDER BY doc_id
"""


# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: wave-0 frontier scheduling over URLs synthesized from the
    sf0.001 tables — canonicalize → dedup → per-host budget → order."""
    sf_dir = "/root/testdata/sf0.001"
    from bodhium_webscrapper_spark.functions.canonicalize import with_canonical_url
    from bodhium_webscrapper_spark.operators.dedup import first_wins_dedup
    from bodhium_webscrapper_spark.operators.politeness import per_host_budget

    docs = _t(spark, sf_dir, "documents")
    seeds = docs.select(
        F.concat(
            F.when(F.col("doc_id") % 3 == 0, F.lit("HTTPS://WWW.")).otherwise(F.lit("https://")),
            F.lit("h"), (F.col("doc_id") % 25).cast("string"),
            F.lit(".example/p"), (F.col("doc_id") % 50).cast("string"),
        ).alias("url"),
        (F.col("doc_id") % 3).cast("double").alias("priority"),
        F.col("doc_id"),
    )
    canon = with_canonical_url(seeds, "url")
    deduped = first_wins_dedup(canon, ["url_hash"], [F.col("doc_id").asc()])
    capped = per_host_budget(
        deduped, 3, host_col="host",
        order_by=[F.col("priority").desc(), F.col("url_hash").asc()],
        salt_buckets=4,
    )
    w = Window.orderBy(F.col("priority").desc(), F.col("url_hash").asc())
    return capped.withColumn("seq", F.row_number().over(w)).select(
        "seq", "canonical_url", "host", "url_hash", "priority"
    )



def q_surt_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURT ordering keys (functions/canonicalize.py surt_key — the
    Common-Crawl cc-index / Wayback CDX sort convention): host labels
    reversed + comma-joined + ')' + path(?query), scheme-blind. Sorting or
    range-partitioning a 10^10-URL frontier/index by this key gives
    per-registrable-domain contiguity (min-max pruning answers "everything
    under example.com" as one key range) and sort-merge compatibility with
    the public cc-index. Pure JVM parse_url/split/reverse; the oracle
    re-derives the key with independent regexp parsing + list_reverse."""
    from bodhium_webscrapper_spark.functions.canonicalize import surt_key

    docs = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("www2.")).otherwise(F.lit("")),
        F.lit("shop"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".example.com/p/"), (F.col("doc_id") % 100).cast("string"),
        F.when(F.col("doc_id") % 5 == 0, F.lit("?page=2&ref=nav")).otherwise(F.lit("")),
    )
    return (
        docs.select(F.col("doc_id"), url.alias("url"))
        .select("doc_id", "url", surt_key(F.col("url")).alias("surt"))
        .orderBy("surt", "doc_id")
    )


_Q_SURT_CTE = r"""
    u AS (
      SELECT doc_id,
        'https://' || CASE WHEN doc_id % 3 = 0 THEN 'www2.' ELSE '' END
          || 'shop' || (doc_id % 7) || '.example.com/p/' || (doc_id % 100)
          || CASE WHEN doc_id % 5 = 0 THEN '?page=2&ref=nav' ELSE '' END AS url
      FROM documents),
    p AS (
      SELECT doc_id, url,
        lower(regexp_extract(url, '^[a-z]+://([^/?#]+)', 1)) AS host,
        regexp_extract(url, '^[a-z]+://[^/?#]+([^?#]*)', 1) AS path,
        nullif(regexp_extract(url, '\?([^#]*)', 1), '') AS query
      FROM u),
    s AS (
      SELECT doc_id, url,
        array_to_string(list_reverse(string_split(host, '.')), ',') || ')'
          || path
          || CASE WHEN query IS NOT NULL THEN '?' || query ELSE '' END AS surt
      FROM p)
"""

_Q_SURT_SQL = (
    "WITH " + _Q_SURT_CTE + """
    SELECT doc_id, url, surt FROM s ORDER BY surt, doc_id
"""
)


def q_epoch_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-epoch source upsampling manifest (operators/mixing.py
    epoch_upsample — the repeat half of a LLaMA-style mixture; mixture_select
    only thins): per-source declared epochs in ppm, each doc emitted
    floor(epochs) times plus one md5-gated fractional copy, one manifest row
    per copy. Broadcast join + JVM explode(sequence); the doc table is never
    shuffled. Synthesized epochs: source s gets (s%4)*0.75 epochs — source 0
    is excluded entirely, source 1 is subsampled (<1 epoch), 2 and 3 repeat."""
    from bodhium_webscrapper_spark.operators.mixing import epoch_upsample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    epochs = (
        docs.select("source")
        .distinct()
        .select(
            "source",
            (
                (F.substring(F.col("source"), 4, 10).cast("long") % 4)
                * F.lit(750_000)
            ).alias("epoch_ppm"),
        )
    )
    return (
        epoch_upsample(docs, epochs)
        .select(
            "doc_id", "source",
            F.col("n_copies").cast("long").alias("n_copies"),
            F.col("copy").cast("long").alias("copy"),
        )
        .orderBy("doc_id", "copy")
    )


_Q_EPOCH_SQL = """
    WITH e AS (
      SELECT source,
        (CAST(substr(source, 4) AS BIGINT) % 4) * 750000 AS epoch_ppm
      FROM (SELECT DISTINCT source FROM documents)),
    j AS (
      SELECT d.doc_id, d.source,
        epoch_ppm // 1000000
        + CASE WHEN CAST(concat('0x',
              substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
            < ((epoch_ppm % 1000000) * 4294967296) // 1000000
          THEN 1 ELSE 0 END AS n_copies
      FROM documents d JOIN e USING (source))
    SELECT doc_id, source, CAST(n_copies AS BIGINT) AS n_copies,
           CAST(copy AS BIGINT) AS copy
    FROM j, LATERAL (
      SELECT unnest(generate_series(0, n_copies - 1)) AS copy) s
    WHERE n_copies > 0
    ORDER BY doc_id, copy
"""


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window token chunking (operators/packing.py chunk_documents):
    40-token windows at stride 24 (16-token overlap) per document —
    retrieval-index / context-fit splitting, the within-document complement
    of pack_sequences. Zero shuffle: the token array binds once per row
    (_bind_once) and the chunk-struct array builds + explodes JVM-side. The
    oracle replays windows with generate_series + list slicing."""
    from bodhium_webscrapper_spark.operators.packing import chunk_documents

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return chunk_documents(docs, chunk_size=40, stride=24).orderBy(
        "doc_id", "chunk_id"
    )


_Q_CHUNK_SQL = r"""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
      FROM documents WHERE length(trim(text)) > 0),
    c AS (SELECT doc_id, toks, len(toks) AS n FROM t)
    SELECT doc_id, CAST(k AS BIGINT) AS chunk_id,
      CAST(k * 24 AS BIGINT) AS tok_start,
      CAST(LEAST(n, k * 24 + 40) AS BIGINT) AS tok_end,
      array_to_string(toks[k * 24 + 1 : LEAST(n, k * 24 + 40)], ' ')
        AS chunk_text
    FROM c, LATERAL (
      SELECT unnest(generate_series(0,
        CASE WHEN n <= 40 THEN 0 ELSE (n - 40 + 23) // 24 END)) AS k) s
    ORDER BY doc_id, chunk_id
"""


def q_bpe_pair_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-iteration BPE merge census (operators/quality.py
    bpe_pair_census): top adjacent-character pairs inside words, weighted
    by corpus word frequency — the statistic BPE tokenizer training
    maximizes at merge step 1. Two-phase: word census (shuffle bounded by
    vocabulary), then the char-pair explode runs over DISTINCT words only.
    Deterministic (count DESC, pair ASC) top-k; the oracle replays both
    phases relationally."""
    from bodhium_webscrapper_spark.operators.quality import bpe_pair_census

    docs = _t(spark, sf_dir, "documents").select("text")
    return bpe_pair_census(docs, text_col="text", k=30)


_Q_BPE_SQL = """
    WITH w AS (
      SELECT unnest(string_split_regex(
               trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '
             )) AS w
      FROM documents),
    v AS (SELECT w, COUNT(*) AS n FROM w WHERE w != '' GROUP BY w),
    p AS (
      SELECT substr(w, CAST(i AS INTEGER), 2) AS pair, n
      FROM v, LATERAL (
        SELECT unnest(generate_series(1, len(w) - 1)) AS i) s
      WHERE len(w) >= 2)
    SELECT pair, CAST(SUM(n) AS BIGINT) AS pair_count
    FROM p GROUP BY pair
    ORDER BY pair_count DESC, pair
    LIMIT 30
"""


def _feed_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic RSS/Atom feed-body corpus shared by the feed queries:
    (feed_url, feed_xml) per i in 0..9 (keyed off `documents`). Even i →
    RSS channel with an entity-escaped link, a whitespace-padded link, a
    link-less item (dropped, position-preserving), and a SHARED URL at
    position 1; odd i → Atom feed exercising both <link> attribute orders
    (rel-then-href and href-then-rel), a decoy rel="enclosure" link that
    precedes the alternate in document order, and a bare rel-less href
    (defaults to alternate per RFC 4287) carrying the shared URL at
    position 2. Cross-feed, the shared URL's best position is 1 →
    seed priority 0.5."""
    docs = _t(spark, sf_dir, "documents")
    idx = docs.select((F.col("doc_id") % 10).cast("int").alias("i")).distinct()
    i = F.col("i")
    s = i.cast("string")
    rss = F.concat(
        F.lit("<rss><channel><item><title>R"), s,
        F.lit(" &amp; co</title><link> https://f"), s,
        F.lit(".example/a?x=1&amp;y="), s,
        F.lit(" </link><pubDate>Mon, 0"), ((i % 7) + 1).cast("string"),
        F.lit(" Jan 2026 00:00:00 GMT</pubDate></item>"
              "<item><link>https://shared.example/new</link></item>"
              "<item><title>nolink</title></item>"
              "<item><link>https://f"), s,
        F.lit(".example/c</link></item></channel></rss>"),
    )
    atom = F.concat(
        F.lit('<feed xmlns="http://www.w3.org/2005/Atom"><entry><title>A'), s,
        F.lit('</title><link rel="alternate" href="https://f'), s,
        F.lit('.example/b"/><link rel="enclosure" href="https://f'), s,
        F.lit('.example/img.png"/><updated>2026-01-0'),
        ((i % 9) + 1).cast("string"),
        F.lit('</updated></entry>'
              '<entry><link rel="enclosure" href="https://f'), s,
        F.lit('.example/file.zip"/><link href="https://f'), s,
        F.lit('.example/d" rel="alternate"/></entry>'
              '<entry><link href="https://shared.example/new"/></entry>'
              "</feed>"),
    )
    return idx.select(
        F.concat(F.lit("https://f"), s, F.lit(".example/feed.xml")).alias(
            "feed_url"
        ),
        F.when(i % 2 == 0, rss).otherwise(atom).alias("feed_xml"),
    )


def q_feed_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 third seed surface: RSS/Atom feed bodies → (feed_url, kind,
    entry_pos, link, title, published) rows (sources/feeds.py parse_feed —
    regexp_extract_all + posexplode, whole-stage codegen, zero shuffle).
    Corpus covers both formats, both Atom <link> attribute orders, decoy
    rel="enclosure" links, entity escapes, padded links, and link-less
    entries (dropped but position-preserving)."""
    from bodhium_webscrapper_spark.sources.feeds import parse_feed

    out = parse_feed(_feed_corpus(spark, sf_dir))
    return out.select(
        "feed_url", "kind",
        F.col("entry_pos").cast("long").alias("entry_pos"),
        "link", "title", "published",
    ).orderBy("feed_url", "entry_pos")


_Q_FEED_CORPUS_SQL = r"""
    idx AS (
      SELECT DISTINCT CAST(doc_id % 10 AS INTEGER) AS i FROM documents
    ),
    raw AS (
      SELECT 'https://f' || i || '.example/feed.xml' AS feed_url,
        CASE WHEN i % 2 = 0 THEN
          '<rss><channel><item><title>R' || i ||
          ' &amp; co</title><link> https://f' || i ||
          '.example/a?x=1&amp;y=' || i ||
          ' </link><pubDate>Mon, 0' || ((i % 7) + 1) ||
          ' Jan 2026 00:00:00 GMT</pubDate></item>' ||
          '<item><link>https://shared.example/new</link></item>' ||
          '<item><title>nolink</title></item>' ||
          '<item><link>https://f' || i ||
          '.example/c</link></item></channel></rss>'
        ELSE
          '<feed xmlns="http://www.w3.org/2005/Atom"><entry><title>A' || i ||
          '</title><link rel="alternate" href="https://f' || i ||
          '.example/b"/><link rel="enclosure" href="https://f' || i ||
          '.example/img.png"/><updated>2026-01-0' || ((i % 9) + 1) ||
          '</updated></entry>' ||
          '<entry><link rel="enclosure" href="https://f' || i ||
          '.example/file.zip"/><link href="https://f' || i ||
          '.example/d" rel="alternate"/></entry>' ||
          '<entry><link href="https://shared.example/new"/></entry></feed>'
        END AS xml
      FROM idx
    )
"""

# one unescape level for the five predefined XML entities, innermost last
# (twin of sources/sitemap.py _xml_unescape)
_UNESCAPE_SQL = (
    "replace(replace(replace(replace(replace({0}, '&lt;', '<'), "
    "'&gt;', '>'), '&quot;', '\"'), '&apos;', ''''), '&amp;', '&')"
)

_FEED_ENTRY_RE_SQL = r"'(?s)<(?:item|entry)\b[^>]*>(.*?)</(?:item|entry)>'"

_FEED_LINK_SQL = r"""
      CASE WHEN kind = 'atom' THEN
        CASE
          WHEN regexp_extract(entry,
            '(?s)<link\b[^>]*rel\s*=\s*["'']alternate["''][^>]*href\s*=\s*["'']([^"'']*)["'']',
            1) <> ''
          THEN regexp_extract(entry,
            '(?s)<link\b[^>]*rel\s*=\s*["'']alternate["''][^>]*href\s*=\s*["'']([^"'']*)["'']',
            1)
          WHEN regexp_extract(entry,
            '(?s)<link\b[^>]*href\s*=\s*["'']([^"'']*)["''][^>]*rel\s*=\s*["'']alternate["'']',
            1) <> ''
          THEN regexp_extract(entry,
            '(?s)<link\b[^>]*href\s*=\s*["'']([^"'']*)["''][^>]*rel\s*=\s*["'']alternate["'']',
            1)
          ELSE regexp_extract(entry,
            '(?s)<link\b[^>]*href\s*=\s*["'']([^"'']*)["'']', 1)
        END
      ELSE regexp_extract(entry, '(?s)<link>\s*(.*?)\s*</link>', 1)
      END
"""

_Q_FEED_ENTRIES_SQL = (
    r"""
    entries AS (
      SELECT feed_url,
        CASE WHEN xml LIKE '%<feed%' THEN 'atom' ELSE 'rss' END AS kind,
        unnest(generate_series(1, len(regexp_extract_all(xml,
          """ + _FEED_ENTRY_RE_SQL + r""", 1)))) AS p1,
        unnest(regexp_extract_all(xml,
          """ + _FEED_ENTRY_RE_SQL + r""", 1)) AS entry
      FROM raw
    ),
    parsed AS (
      SELECT feed_url, kind, CAST(p1 - 1 AS BIGINT) AS entry_pos,
        """ + _UNESCAPE_SQL.format("(" + _FEED_LINK_SQL + ")") + r""" AS link,
        nullif(""" + _UNESCAPE_SQL.format(
        r"regexp_extract(entry, '(?s)<title\b[^>]*>\s*(.*?)\s*</title>', 1)"
    ) + r""", '') AS title,
        nullif(CASE WHEN kind = 'atom'
          THEN regexp_extract(entry, '(?s)<updated>\s*(.*?)\s*</updated>', 1)
          ELSE regexp_extract(entry, '(?s)<pubDate>\s*(.*?)\s*</pubDate>', 1)
        END, '') AS published
      FROM entries
    )
"""
)

_Q_FEED_PARSE_SQL = (
    "WITH " + _Q_FEED_CORPUS_SQL + "," + _Q_FEED_ENTRIES_SQL + r"""
    SELECT feed_url, kind, entry_pos, link, title, published
    FROM parsed WHERE link <> ''
    ORDER BY feed_url, entry_pos
"""
)


def q_feed_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 seed derivation from feeds: feed bodies → frontier seed list
    (url, priority=1/(1+position), freshest-position-wins across feeds)
    via sources/feeds.py feed_seeds — the exact sitemap_seeds contract so
    both sources union into one seed wave. The shared URL planted at RSS
    position 1 and Atom position 2 must come out once, at priority 0.5."""
    from bodhium_webscrapper_spark.sources.feeds import feed_seeds

    out = feed_seeds(_feed_corpus(spark, sf_dir))
    return out.select(
        "url", F.round("priority", 6).alias("priority")
    ).orderBy("url")


_Q_FEED_SEEDS_SQL = (
    "WITH " + _Q_FEED_CORPUS_SQL + "," + _Q_FEED_ENTRIES_SQL + r"""
    SELECT link AS url,
      round(max(1.0 / CAST(p1 AS DOUBLE)), 6) AS priority
    FROM (SELECT link, entry_pos + 1 AS p1 FROM parsed WHERE link <> '')
    GROUP BY link ORDER BY url
"""
)


def _charset_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HTML charset-declaration corpus: (i, html) per i in
    0..9 covering the WHATWG meta charset (both quote styles, unquoted,
    spaced =, uppercase tag), the legacy http-equiv Content-Type charset=
    parameter, an XML declaration, meta-beats-xml precedence, a decoy
    charset-less <meta> before the real one, and no declaration at all."""
    docs = _t(spark, sf_dir, "documents")
    idx = docs.select((F.col("doc_id") % 10).cast("int").alias("i")).distinct()
    i = F.col("i")
    html = (
        F.when(i == 0, F.lit(
            '<html><head><meta charset="UTF-8"></head><body>x</body></html>'))
        .when(i == 1, F.lit(
            '<meta http-equiv="Content-Type" '
            'content="text/html; charset=ISO-8859-1">'))
        .when(i == 2, F.lit(
            '<?xml version="1.0" encoding="Windows-1251"?><page>x</page>'))
        .when(i == 3, F.lit('<html><meta charset=latin1><body>x</body>'))
        .when(i == 4, F.lit('<html><body>nothing declared</body></html>'))
        .when(i == 5, F.lit("<META CHARSET='Shift_JIS'><body>x</body>"))
        .when(i == 6, F.lit('<meta charset = "utf8"><body>x</body>'))
        .when(i == 7, F.lit(
            '<?xml version="1.0" encoding="UTF-8"?>'
            '<html><meta charset="koi8-r"></html>'))
        .when(i == 8, F.lit(
            '<meta name="viewport" content="width=device-width">'
            '<meta charset="GB2312">'))
        .otherwise(F.lit(
            '<meta http-equiv="content-type" '
            'content="text/html; charset=us-ascii">'))
    )
    return idx.select("i", html.alias("html"))


def q_charset_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-decode charset sniffing (functions/textstats.py sniff_charset):
    declared character set per document — meta charset (WHATWG §4.2.5.4,
    all quote/space styles) beats the XML declaration beats the utf-8
    default, labels aliased per the WHATWG Encoding Standard (latin1/
    iso-8859-1/ascii → windows-1252, the browser behavior real pages
    depend on). Pure JVM regexp_extract chain, scan-speed, zero Python."""
    from bodhium_webscrapper_spark.functions.textstats import sniff_charset

    corpus = _charset_corpus(spark, sf_dir)
    return corpus.select(
        F.col("i").cast("int").alias("i"),
        sniff_charset(F.col("html")).alias("charset"),
    ).orderBy("i")


_Q_CHARSET_SQL = r"""
    WITH idx AS (
      SELECT DISTINCT CAST(doc_id % 10 AS INTEGER) AS i FROM documents
    ),
    corpus AS (
      SELECT i, CASE i
        WHEN 0 THEN '<html><head><meta charset="UTF-8"></head><body>x</body></html>'
        WHEN 1 THEN '<meta http-equiv="Content-Type" content="text/html; charset=ISO-8859-1">'
        WHEN 2 THEN '<?xml version="1.0" encoding="Windows-1251"?><page>x</page>'
        WHEN 3 THEN '<html><meta charset=latin1><body>x</body>'
        WHEN 4 THEN '<html><body>nothing declared</body></html>'
        WHEN 5 THEN '<META CHARSET=''Shift_JIS''><body>x</body>'
        WHEN 6 THEN '<meta charset = "utf8"><body>x</body>'
        WHEN 7 THEN '<?xml version="1.0" encoding="UTF-8"?><html><meta charset="koi8-r"></html>'
        WHEN 8 THEN '<meta name="viewport" content="width=device-width"><meta charset="GB2312">'
        ELSE '<meta http-equiv="content-type" content="text/html; charset=us-ascii">'
      END AS html FROM idx
    ),
    lab AS (
      SELECT i, lower(CASE
        WHEN regexp_extract(html,
          '(?i)<meta[^>]*charset\s*=\s*["'']?\s*([A-Za-z0-9_.:\-]+)', 1) <> ''
        THEN regexp_extract(html,
          '(?i)<meta[^>]*charset\s*=\s*["'']?\s*([A-Za-z0-9_.:\-]+)', 1)
        WHEN regexp_extract(html,
          '(?i)<\?xml[^>]*encoding\s*=\s*["'']([A-Za-z0-9_.:\-]+)["'']', 1) <> ''
        THEN regexp_extract(html,
          '(?i)<\?xml[^>]*encoding\s*=\s*["'']([A-Za-z0-9_.:\-]+)["'']', 1)
        ELSE 'utf-8' END) AS label
      FROM corpus
    )
    SELECT i, CASE label
      WHEN 'utf8' THEN 'utf-8'
      WHEN 'latin1' THEN 'windows-1252'
      WHEN 'latin-1' THEN 'windows-1252'
      WHEN 'iso-8859-1' THEN 'windows-1252'
      WHEN 'iso8859-1' THEN 'windows-1252'
      WHEN 'us-ascii' THEN 'windows-1252'
      WHEN 'ascii' THEN 'windows-1252'
      WHEN 'cp1252' THEN 'windows-1252'
      WHEN 'win-1252' THEN 'windows-1252'
      WHEN 'unicode-1-1-utf-8' THEN 'utf-8'
      ELSE label END AS charset
    FROM lab ORDER BY i
"""


def _synthetic_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic link graph shared by the authority queries
    (same construction as q_pagerank_priority): doc i links to (3i+1) mod N
    and (5i+2) mod N; every 4th doc also links to doc 0 (an in-degree hub)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    n = docs.agg((F.max("doc_id") + 1).alias("_n"))
    base = docs.crossJoin(F.broadcast(n))
    return base.select(
        F.col("doc_id").alias("src"),
        F.explode(
            F.when(
                F.col("doc_id") % 4 == 0,
                F.array(
                    (F.col("doc_id") * 3 + 1) % F.col("_n"),
                    (F.col("doc_id") * 5 + 2) % F.col("_n"),
                    F.lit(0).cast("long"),
                ),
            ).otherwise(
                F.array(
                    (F.col("doc_id") * 3 + 1) % F.col("_n"),
                    (F.col("doc_id") * 5 + 2) % F.col("_n"),
                )
            )
        ).alias("dst"),
    )


def q_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point integer HITS (Kleinberg 1999; 2 iterations, per-half-step
    max-normalization) over the shared synthetic link graph — the hub side
    PageRank cannot see: directory/index pages whose OUTLINK lists refresh
    the frontier (the reference's hand-picked seed pages are exactly such
    hubs). Integer arithmetic end-to-end (operators/pagerank.py
    hits_fixed_point), bit-identical under any shuffle order and in the
    DuckDB twin; doc 0 — the planted in-degree hub target — must surface
    as the top authority."""
    from bodhium_webscrapper_spark.operators.pagerank import hits_fixed_point

    edges = _synthetic_link_graph(spark, sf_dir)
    return (
        hits_fixed_point(edges, iterations=2)
        .select(F.col("id").alias("doc_id"), "hub", "auth")
        .orderBy("doc_id")
    )


_Q_HITS_EDGES_SQL = """
    nn AS (SELECT max(doc_id) + 1 AS n FROM documents),
    edges AS (
      SELECT doc_id AS src, (doc_id * 3 + 1) % n AS dst FROM documents, nn
      UNION ALL
      SELECT doc_id AS src, (doc_id * 5 + 2) % n AS dst FROM documents, nn
      UNION ALL
      SELECT doc_id AS src, 0 AS dst FROM documents WHERE doc_id % 4 = 0),
    nodes AS (SELECT DISTINCT id FROM
              (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges))
"""

# one HITS half-step: raw sum join, then max-normalize to the 10^6 scale
# by the ceiling divisor (mx + 999999) // 10^6 with truncating integer
# division (mirrors hits_fixed_point exactly;
# all values non-negative so DuckDB floor-div == Spark trunc-div)
_Q_HITS_SQL = (
    "WITH " + _Q_HITS_EDGES_SQL + """,
    h0 AS (SELECT id, CAST(1000000 AS BIGINT) AS hub FROM nodes),
    a1r AS (SELECT e.dst AS id, CAST(sum(h0.hub) AS BIGINT) AS auth
            FROM edges e JOIN h0 ON e.src = h0.id GROUP BY e.dst),
    a1m AS (SELECT max(auth) AS mx FROM a1r),
    a1 AS (SELECT n.id, CAST(coalesce(a1r.auth, 0)
             // greatest((a1m.mx + 999999) // 1000000, 1) AS BIGINT) AS auth
           FROM nodes n LEFT JOIN a1r USING (id), a1m),
    h1r AS (SELECT e.src AS id, CAST(sum(a1.auth) AS BIGINT) AS hub
            FROM edges e JOIN a1 ON e.dst = a1.id GROUP BY e.src),
    h1m AS (SELECT max(hub) AS mx FROM h1r),
    h1 AS (SELECT n.id, CAST(coalesce(h1r.hub, 0)
             // greatest((h1m.mx + 999999) // 1000000, 1) AS BIGINT) AS hub
           FROM nodes n LEFT JOIN h1r USING (id), h1m),
    a2r AS (SELECT e.dst AS id, CAST(sum(h1.hub) AS BIGINT) AS auth
            FROM edges e JOIN h1 ON e.src = h1.id GROUP BY e.dst),
    a2m AS (SELECT max(auth) AS mx FROM a2r),
    a2 AS (SELECT n.id, CAST(coalesce(a2r.auth, 0)
             // greatest((a2m.mx + 999999) // 1000000, 1) AS BIGINT) AS auth
           FROM nodes n LEFT JOIN a2r USING (id), a2m),
    h2r AS (SELECT e.src AS id, CAST(sum(a2.auth) AS BIGINT) AS hub
            FROM edges e JOIN a2 ON e.dst = a2.id GROUP BY e.src),
    h2m AS (SELECT max(hub) AS mx FROM h2r),
    h2 AS (SELECT n.id, CAST(coalesce(h2r.hub, 0)
             // greatest((h2m.mx + 999999) // 1000000, 1) AS BIGINT) AS hub
           FROM nodes n LEFT JOIN h2r USING (id), h2m)
    SELECT n.id AS doc_id, h2.hub, a2.auth
    FROM nodes n JOIN h2 ON n.id = h2.id JOIN a2 ON n.id = a2.id
    ORDER BY doc_id
"""
)


_LATIN26 = "abcdefghijklmnopqrstuvwxyz"
_CYR26 = "абцдефгхижклмнопкрстувшхыз"
_GREEK26 = "αβγδεζηθικλμνξοπρστυφχψωυσ"
_HAN26 = "的一是不了人我在有他这中大来上国个到说们为子和你地出"


def _script_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic multilingual corpus: per doc_id % 5 the document text
    stays Latin (0), is transliterated to Cyrillic (1) / Greek (2) / Han
    (3) via a 26-letter codepoint map, or becomes an exact 50/50
    Latin+Cyrillic mix (4 — the tie the priority order must break toward
    Latin)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    low = F.lower(F.col("text"))
    cyr = F.translate(low, _LATIN26, _CYR26)
    i = F.col("doc_id") % 5
    text = (
        F.when(i == 1, cyr)
        .when(i == 2, F.translate(low, _LATIN26, _GREEK26))
        .when(i == 3, F.translate(low, _LATIN26, _HAN26))
        .when(i == 4, F.concat(low, F.lit(" "), cyr))
        .otherwise(F.col("text"))
    )
    return docs.select("doc_id", text.alias("text"))


def q_script_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-script profiling (functions/textstats.py script_counts /
    dominant_script): per-script letter counts + dominant script — the
    multilingual routing signal (which lang-id model / tokenizer /
    per-language CCNet LM a page flows to) and the mixed-script cloaking
    detector. Pure JVM regexp_count over the scan, zero shuffle, integer
    outputs; the 50/50 Latin+Cyrillic planting must tie-break to latin."""
    from bodhium_webscrapper_spark.functions.textstats import (
        dominant_script,
        script_counts,
    )

    corpus = _script_corpus(spark, sf_dir)
    c = script_counts(F.col("text"))
    return corpus.select(
        "doc_id",
        c["latin"].cast("long").alias("n_latin"),
        c["cyrillic"].cast("long").alias("n_cyrillic"),
        c["greek"].cast("long").alias("n_greek"),
        c["han"].cast("long").alias("n_han"),
        c["letters"].cast("long").alias("n_letters"),
        dominant_script(F.col("text")).alias("script"),
    ).orderBy("doc_id")


_Q_SCRIPT_SQL = rf"""
    WITH corpus AS (
      SELECT doc_id, CASE CAST(doc_id % 5 AS INTEGER)
        WHEN 1 THEN translate(lower(text), '{_LATIN26}', '{_CYR26}')
        WHEN 2 THEN translate(lower(text), '{_LATIN26}', '{_GREEK26}')
        WHEN 3 THEN translate(lower(text), '{_LATIN26}', '{_HAN26}')
        WHEN 4 THEN lower(text) || ' ' ||
                    translate(lower(text), '{_LATIN26}', '{_CYR26}')
        ELSE text END AS text
      FROM documents
    ),
    counts AS (
      SELECT doc_id,
        CAST(len(regexp_extract_all(text, '\p{{Latin}}')) AS BIGINT) AS n_latin,
        CAST(len(regexp_extract_all(text, '\p{{Cyrillic}}')) AS BIGINT) AS n_cyrillic,
        CAST(len(regexp_extract_all(text, '\p{{Greek}}')) AS BIGINT) AS n_greek,
        CAST(len(regexp_extract_all(text, '\p{{Han}}')) AS BIGINT) AS n_han,
        CAST(len(regexp_extract_all(text, '\p{{L}}')) AS BIGINT) AS n_letters
      FROM corpus
    )
    SELECT doc_id, n_latin, n_cyrillic, n_greek, n_han, n_letters,
      CASE
        WHEN n_latin > 0 AND n_latin >= n_cyrillic AND n_latin >= n_greek
             AND n_latin >= n_han THEN 'latin'
        WHEN n_cyrillic > 0 AND n_cyrillic > n_latin AND n_cyrillic >= n_greek
             AND n_cyrillic >= n_han THEN 'cyrillic'
        WHEN n_greek > 0 AND n_greek > n_latin AND n_greek > n_cyrillic
             AND n_greek >= n_han THEN 'greek'
        WHEN n_han > 0 AND n_han > n_latin AND n_han > n_cyrillic
             AND n_han > n_greek THEN 'han'
        ELSE 'unknown' END AS script
    FROM counts ORDER BY doc_id
"""


_MIME_CASES = [
    ("text/html; charset=UTF-8", "<!DOCTYPE html><html><body>ok</body>"),
    ("text/html", "%PDF-1.7 stream"),  # lying header: magic overrides
    ("application/pdf", "%PDF-1.4"),
    ("TEXT/HTML;charset=iso-8859-1", '   <html lang="en"><p>x'),
    ("image/gif", "GIF89a binarybytes"),
    ("text/plain", "just words no markup"),
    ("", "<html><body>bare</body>"),  # missing header: texty sniff fills in
    ("application/json", '{"a": 1}'),
    ('text/html ; charset="utf-8"', "<HTML><HEAD>"),
    ("application/xhtml+xml",
     '<?xml version="1.0"?><html xmlns="http://www.w3.org/1999/xhtml">'),
    ("video/mp4", "ftyp mp4 data"),
    ("", "random bytes no magic"),
    ("text/plain", "[DRAFT] notes"),  # weak JSON sniff never overrides
]


def _mime_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic header/body corpus keyed off documents: the 13
    _MIME_CASES cover the lying text/html-serving-a-PDF header, a missing
    header filled by markup sniff, case/space/quote variants of the
    charset parameter, a weak XML sniff under an xhtml declaration, a
    weak JSON sniff under a text/plain declaration, and the
    no-header-no-magic octet-stream default."""
    docs = _t(spark, sf_dir, "documents")
    idx = docs.select(
        (F.col("doc_id") % len(_MIME_CASES)).cast("int").alias("i")
    ).distinct()
    hdr = F.lit(None).cast("string")
    body = F.lit(None).cast("string")
    for j, (h, b) in reversed(list(enumerate(_MIME_CASES))):
        hdr = F.when(F.col("i") == j, F.lit(h)).otherwise(hdr)
        body = F.when(F.col("i") == j, F.lit(b)).otherwise(body)
    return idx.select("i", hdr.alias("content_type"), body.alias("body"))


def q_mime_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-type gate (functions/mime.py): RFC 9110 header parse +
    WHATWG-precedence magic sniff → the effective type and the keep
    predicate that routes responses to text extraction vs the media/drop
    path. Pure codegen string ops in the scan projection, zero shuffle."""
    from bodhium_webscrapper_spark.functions.mime import (
        content_type_charset,
        content_type_mime,
        effective_mime,
        html_gate,
        sniff_mime,
    )

    c = _mime_corpus(spark, sf_dir)
    h, b = F.col("content_type"), F.col("body")
    return c.select(
        F.col("i").cast("int").alias("i"),
        content_type_mime(h).alias("mime"),
        content_type_charset(h).alias("charset"),
        sniff_mime(b).alias("sniffed"),
        effective_mime(h, b).alias("effective"),
        html_gate(h, b).alias("keep"),
    ).orderBy("i")


def _sqlq(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _mime_cases_sql() -> str:
    hdr = "\n".join(
        f"        WHEN {j} THEN {_sqlq(h)}"
        for j, (h, _) in enumerate(_MIME_CASES)
    )
    body = "\n".join(
        f"        WHEN {j} THEN {_sqlq(b)}"
        for j, (_, b) in enumerate(_MIME_CASES)
    )
    return (
        f"SELECT i,\n        CASE i\n{hdr}\n        END AS content_type,"
        f"\n        CASE i\n{body}\n        END AS body\n"
        f"      FROM (SELECT DISTINCT CAST(doc_id % {len(_MIME_CASES)}"
        " AS INTEGER) AS i FROM documents)"
    )


_Q_MIME_SQL_TEMPLATE = r"""
    WITH corpus AS (
      {corpus}
    ),
    parsed AS (
      SELECT i, content_type, body,
        lower(trim(split_part(coalesce(content_type, ''), ';', 1))) AS mime,
        nullif(lower(regexp_extract(coalesce(content_type, ''),
          '(?i)charset\s*=\s*["'']?\s*([A-Za-z0-9_.:\-]+)', 1)), '') AS charset,
        lower(ltrim(coalesce(body, ''))) AS head
      FROM corpus
    ),
    sniffed AS (
      SELECT i, mime, charset,
        CASE
          WHEN starts_with(head, '%pdf') THEN 'application/pdf'
          WHEN starts_with(head, 'gif8') THEN 'image/gif'
          WHEN starts_with(head, '<!doctype html')
            OR starts_with(head, '<html') THEN 'text/html'
          WHEN starts_with(head, '<?xml') THEN 'text/xml'
          WHEN starts_with(head, '{{') OR starts_with(head, '[')
            THEN 'application/json'
          ELSE NULL END AS sniffed
      FROM parsed
    ),
    eff AS (
      SELECT i, mime, charset, sniffed,
        CASE
          WHEN sniffed IS NOT NULL
               AND sniffed NOT IN ('text/html', 'text/xml',
                                   'application/json') THEN sniffed
          WHEN mime <> '' THEN mime
          WHEN sniffed IS NOT NULL THEN sniffed
          ELSE 'application/octet-stream' END AS effective
      FROM sniffed
    )
    SELECT i, mime, charset, sniffed, effective,
      effective IN ('text/html', 'application/xhtml+xml', 'text/plain',
                    'text/xml') AS keep
    FROM eff ORDER BY i
"""

_Q_MIME_SQL = _Q_MIME_SQL_TEMPLATE.format(corpus=_mime_cases_sql())


def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset-card statistics — the numbers a released training
    corpus publishes (docs, token totals, length distribution, language
    spread) computed exactly: the p50 is the true lower median via a
    per-source row_number (deterministic tie-break on doc_id — NOT
    percentile_approx, whose sketch is partition-layout dependent and
    would break the oracle), and the mean is integer fixed-point
    (tokens*100 div docs). One groupBy + one per-source window over the
    source-partitioned count table — the window partitions by source, so
    at 100 TB this is a per-source sort of doc-count rows, not a global
    one; the rollup join is broadcast (sources are few)."""
    from bodhium_webscrapper_spark.functions.textstats import token_count

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang",
        token_count(F.col("text")).cast("long").alias("tc"),
    )
    agg = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tc").alias("tokens_total"),
        F.min("tc").alias("tokens_min"),
        F.max("tc").alias("tokens_max"),
        F.countDistinct("lang").alias("n_langs"),
    )
    w = Window.partitionBy("source").orderBy("tc", "doc_id")
    med = (
        docs.select("source", "tc", F.row_number().over(w).alias("_rn"))
        .join(agg.select("source", "n_docs"), "source")
        .filter(F.col("_rn") == F.expr("(n_docs + 1) div 2"))
        .select("source", F.col("tc").alias("tokens_p50"))
    )
    return (
        agg.join(F.broadcast(med), "source")
        .select(
            "source", "n_docs", "tokens_total", "tokens_min", "tokens_max",
            F.expr("tokens_total * 100 div n_docs").alias("mean_tokens_x100"),
            "tokens_p50", "n_langs",
        )
        .orderBy("source")
    )


_Q_DATASET_CARD_SQL = r"""
    WITH tc AS (
      SELECT doc_id, source, lang,
        CAST(CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len(string_split_regex(trim(text), '\s+')) END
          AS BIGINT) AS tc
      FROM documents),
    agg AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(tc) AS BIGINT) AS tokens_total,
        min(tc) AS tokens_min, max(tc) AS tokens_max,
        CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
      FROM tc GROUP BY source),
    med AS (
      SELECT source, tc AS tokens_p50 FROM (
        SELECT t.source, t.tc,
          row_number() OVER (PARTITION BY t.source
                             ORDER BY t.tc, t.doc_id) AS rn,
          a.n_docs
        FROM tc t JOIN agg a USING (source))
      WHERE rn = (n_docs + 1) // 2)
    SELECT a.source, n_docs, tokens_total, tokens_min, tokens_max,
      tokens_total * 100 // n_docs AS mean_tokens_x100, tokens_p50, n_langs
    FROM agg a JOIN med USING (source) ORDER BY source
"""


def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction planning (operators/packing.py
    compaction_plan): a synthetic crawl-output file listing (pseudo-sized
    via a multiplicative hash, so sizes vary 3..99 units) is binned into
    rewrite groups of ≈256 units by sorted first-fit over the two-phase
    distributed prefix sum — no single-partition window, no driver greedy
    loop. The oracle replays the exclusive cumsum in windowed SQL."""
    from bodhium_webscrapper_spark.operators.packing import compaction_plan

    files = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("file_id"),
        ((F.col("doc_id") * 2654435761) % 97 + 3).cast("long").alias("bytes"),
    )
    out = compaction_plan(files, "file_id", "bytes", target_bytes=256)
    return out.orderBy("file_id")


_Q_COMPACTION_SQL = """
    WITH files AS (
      SELECT doc_id AS file_id,
        CAST((doc_id * 2654435761) % 97 + 3 AS BIGINT) AS bytes
      FROM documents)
    SELECT file_id, bytes,
      CAST(coalesce(sum(bytes) OVER (ORDER BY file_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 256
        AS BIGINT) AS grp
    FROM files ORDER BY file_id
"""


def q_shard_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact range-shard split points over the SURT key space
    (operators/packing.py shard_boundaries): the 7 order-statistic keys
    that cut the distinct sorted SURT set into 8 contiguous shards — the
    REPRODUCIBLE index-layout planner (Spark's RangePartitioner samples,
    so its boundaries drift run-to-run; a published index layout must
    not). Ranks via the two-phase distributed prefix scan with unit
    weights — no single-partition window; the oracle replays the order
    statistics with a row_number window in SQL."""
    from bodhium_webscrapper_spark.functions.canonicalize import surt_key
    from bodhium_webscrapper_spark.operators.packing import shard_boundaries

    docs = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("www2.")).otherwise(F.lit("")),
        F.lit("shop"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".example.com/p/"), (F.col("doc_id") % 100).cast("string"),
        F.when(F.col("doc_id") % 5 == 0, F.lit("?page=2&ref=nav")).otherwise(F.lit("")),
    )
    surts = docs.select(surt_key(url).alias("surt"))
    return shard_boundaries(surts, key_col="surt", n_shards=8)


_Q_SHARD_SQL = (
    "WITH " + _Q_SURT_CTE + r""",
    d AS (SELECT DISTINCT surt FROM s),
    r AS (SELECT surt, row_number() OVER (ORDER BY surt) - 1 AS rnk FROM d),
    nn AS (SELECT count(*) AS n FROM d),
    t AS (
      SELECT i AS shard, (i * n) // 8 AS g
      FROM generate_series(1, 7) AS gs(i), nn
      WHERE (i * n) // 8 > 0
      QUALIFY row_number() OVER (PARTITION BY g ORDER BY i) = 1)
    SELECT CAST(t.shard AS INTEGER) AS shard, r.surt AS boundary_key
    FROM t JOIN r ON r.rnk = t.g ORDER BY shard
"""
)


def _reval_corpus(spark: SparkSession, sf_dir: str):
    """Deterministic previous-crawl / refetch header tables for the
    revalidation query: membership, ETag presence/rotation, Last-Modified
    presence/rotation, a weak/strong ETag pair that matches under weak
    comparison, and content-hash drift all keyed off doc_id residues so
    every RFC 9110 branch (strong ETag, weak Last-Modified fallback,
    hash-only, new, gone) is populated."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    url = F.concat(
        F.lit("https://h"), (d % 10).cast("string"),
        F.lit(".example/p/"), d.cast("string"),
    )
    etag_p = F.when(d % 4 != 1, F.concat(F.lit('W/"e'), d.cast("string"), F.lit('"')))
    lm_p = F.when(
        d % 6 != 2,
        F.concat(F.lit("Mon, 0"), ((d % 7) + 1).cast("string"), F.lit(" Jan 2026")),
    )
    hash_p = F.md5(F.concat(F.lit("c"), d.cast("string")))
    prev = docs.filter(d % 11 != 3).select(
        url.alias("url"), etag_p.alias("etag"), lm_p.alias("last_modified"),
        hash_p.alias("content_hash"),
    )
    etag_c = (
        F.when(
            (d % 9 == 0) & (d % 4 != 1),
            F.concat(F.lit('W/"e'), d.cast("string"), F.lit('X"')),
        )
        # same opaque tag without W/: a weak comparison still matches
        .when((d % 9 == 3) & (d % 4 != 1), F.concat(F.lit('"e'), d.cast("string"), F.lit('"')))
        .otherwise(etag_p)
    )
    lm_c = F.when(
        (d % 8 == 0) & (d % 6 != 2),
        F.concat(F.lit("Tue, 0"), ((d % 7) + 1).cast("string"), F.lit(" Feb 2026")),
    ).otherwise(lm_p)
    hash_c = F.when(
        d % 10 == 7, F.md5(F.concat(F.lit("d"), d.cast("string")))
    ).otherwise(hash_p)
    curr = docs.filter(d % 13 != 5).select(
        url.alias("url"), etag_c.alias("etag"), lm_c.alias("last_modified"),
        hash_c.alias("content_hash"),
    )
    return prev, curr


def q_revalidate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTTP conditional-revalidation classification (operators/diff.py
    revalidation_classes): previous crawl's validators vs the refetch's
    headers → not_modified / changed / new / gone per RFC 9110 §8.8
    precedence (strong ETag beats weak Last-Modified beats content hash).
    One full-outer equi-join, JVM string equalities, no UDF — the gate
    that lets a 10^10-URL recrawl skip re-extraction of unchanged pages."""
    from bodhium_webscrapper_spark.operators.diff import revalidation_classes

    prev, curr = _reval_corpus(spark, sf_dir)
    return revalidation_classes(prev, curr).orderBy("url")


_Q_REVAL_SQL = r"""
    WITH d AS (SELECT doc_id AS d FROM documents),
    base AS (
      SELECT d, 'https://h' || (d % 10) || '.example/p/' || d AS url,
        CASE WHEN d % 4 <> 1 THEN 'W/"e' || d || '"' END AS etag_p,
        CASE WHEN d % 6 <> 2 THEN 'Mon, 0' || ((d % 7) + 1) || ' Jan 2026'
          END AS lm_p,
        md5('c' || d) AS hash_p
      FROM d),
    prev AS (
      SELECT url, etag_p AS etag, lm_p AS last_modified, hash_p AS content_hash
      FROM base WHERE d % 11 <> 3),
    curr AS (
      SELECT url,
        CASE WHEN d % 9 = 0 AND d % 4 <> 1 THEN 'W/"e' || d || 'X"'
             WHEN d % 9 = 3 AND d % 4 <> 1 THEN '"e' || d || '"'
             ELSE etag_p END AS etag,
        CASE WHEN d % 8 = 0 AND d % 6 <> 2
             THEN 'Tue, 0' || ((d % 7) + 1) || ' Feb 2026'
             ELSE lm_p END AS last_modified,
        CASE WHEN d % 10 = 7 THEN md5('d' || d) ELSE hash_p END AS content_hash
      FROM base WHERE d % 13 <> 5),
    j AS (
      SELECT coalesce(p.url, c.url) AS url,
        p.url IS NOT NULL AS in_p, c.url IS NOT NULL AS in_c,
        p.etag AS pe, c.etag AS ce,
        p.last_modified AS pl, c.last_modified AS cl,
        p.content_hash AS ph, c.content_hash AS ch
      FROM prev p FULL OUTER JOIN curr c ON p.url = c.url)
    SELECT url,
      CASE
        WHEN NOT in_p THEN 'new'
        WHEN NOT in_c THEN 'gone'
        WHEN (CASE
                WHEN pe IS NOT NULL AND ce IS NOT NULL
                  THEN regexp_replace(pe, '^W/', '') = regexp_replace(ce, '^W/', '')
                WHEN pl IS NOT NULL AND cl IS NOT NULL THEN pl = cl
                ELSE ph IS NOT DISTINCT FROM ch END)
          THEN 'not_modified'
        ELSE 'changed' END AS status
    FROM j ORDER BY url
"""


def _hreflang_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hreflang corpus per i = doc_id % 6: a 3-variant
    cluster with both attribute orders (0), a rel-less hreflang tag that
    must be dropped next to a valid one (1), no hreflang at all (2),
    uppercase attribute + region tag to lowercase (3), an empty href to
    drop (4), and a 2-variant page (5)."""
    docs = _t(spark, sf_dir, "documents")
    idx = docs.select((F.col("doc_id") % 6).cast("int").alias("i")).distinct()
    i, s = F.col("i"), F.col("i").cast("string")
    html = (
        F.when(i == 0, F.concat(
            F.lit('<html><head>'
                  '<link rel="alternate" hreflang="en" href="https://ex.com/en/p'),
            s,
            F.lit('"/><link hreflang="de" rel="alternate" href="https://ex.com/de/p'),
            s,
            F.lit('"/><link rel="alternate" hreflang="x-default" '
                  'href="https://ex.com/p'),
            s, F.lit('"/></head><body>x</body></html>')))
        .when(i == 1, F.concat(
            F.lit('<link hreflang="fr" href="https://ex.com/fr/only'), s,
            F.lit('"/><link rel="alternate" hreflang="es" '
                  'href="https://ex.com/es/p'), s, F.lit('"/>')))
        .when(i == 2, F.lit("<html><body>no alternates</body></html>"))
        .when(i == 3, F.concat(
            F.lit('<LINK REL="alternate" HREFLANG="EN-GB" '
                  'HREF="https://ex.com/uk/p'), s, F.lit('"/>')))
        .when(i == 4, F.lit(
            '<link rel="alternate" hreflang="it" href=""/>'))
        .otherwise(F.concat(
            F.lit('<link rel="alternate" hreflang="ja" href="https://ex.com/ja/p'),
            s,
            F.lit('"/><link rel="alternate" hreflang="ko" href="https://ex.com/ko/p'),
            s, F.lit('"/>')))
    )
    return idx.select("i", html.alias("html"))


def q_hreflang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-page hreflang alternate extraction (functions/extract.py
    hreflang_links): language/region variant maps — near-duplicates BY
    DECLARATION, so a multilingual corpus keeps one variant per cluster
    without paying MinHash. Both attribute orders, case-insensitive
    attributes, BCP 47 tags lowercased, rel-less/href-less tags dropped,
    document order preserved. Pure JVM regexp + array HOFs, zero shuffle."""
    from bodhium_webscrapper_spark.functions.extract import hreflang_links

    corpus = _hreflang_corpus(spark, sf_dir)
    return (
        corpus.select(
            "i", F.posexplode(hreflang_links(F.col("html"))).alias("pos", "s")
        )
        .select(
            F.col("i").cast("int").alias("i"),
            F.col("pos").cast("long").alias("pos"),
            F.col("s.hreflang").alias("hreflang"),
            F.col("s.href").alias("href"),
        )
        .orderBy("i", "pos")
    )


_Q_HREFLANG_SQL = r"""
    WITH idx AS (
      SELECT DISTINCT CAST(doc_id % 6 AS INTEGER) AS i FROM documents),
    corpus AS (
      SELECT i, CASE i
        WHEN 0 THEN '<html><head>'
          || '<link rel="alternate" hreflang="en" href="https://ex.com/en/p'
          || i || '"/><link hreflang="de" rel="alternate" href="https://ex.com/de/p'
          || i || '"/><link rel="alternate" hreflang="x-default" href="https://ex.com/p'
          || i || '"/></head><body>x</body></html>'
        WHEN 1 THEN '<link hreflang="fr" href="https://ex.com/fr/only' || i
          || '"/><link rel="alternate" hreflang="es" href="https://ex.com/es/p'
          || i || '"/>'
        WHEN 2 THEN '<html><body>no alternates</body></html>'
        WHEN 3 THEN '<LINK REL="alternate" HREFLANG="EN-GB" HREF="https://ex.com/uk/p'
          || i || '"/>'
        WHEN 4 THEN '<link rel="alternate" hreflang="it" href=""/>'
        ELSE '<link rel="alternate" hreflang="ja" href="https://ex.com/ja/p'
          || i || '"/><link rel="alternate" hreflang="ko" href="https://ex.com/ko/p'
          || i || '"/>'
      END AS html FROM idx),
    tags AS (
      SELECT i, unnest(regexp_extract_all(html,
          '(?i)<link\b[^>]*hreflang\s*=\s*["''][^"'']*["''][^>]*>')) AS tag,
        generate_subscripts(regexp_extract_all(html,
          '(?i)<link\b[^>]*hreflang\s*=\s*["''][^"'']*["''][^>]*>'), 1) AS ord
      FROM corpus),
    kept AS (
      SELECT i, ord,
        lower(regexp_extract(tag, '(?i)hreflang\s*=\s*["'']([^"'']*)["'']', 1))
          AS hreflang,
        regexp_extract(tag, '(?i)href\s*=\s*["'']([^"'']*)["'']', 1) AS href
      FROM tags
      WHERE regexp_matches(tag, '(?i)rel\s*=\s*["'']alternate["'']')
        AND regexp_extract(tag, '(?i)href\s*=\s*["'']([^"'']*)["'']', 1) <> '')
    SELECT i, CAST(row_number() OVER (PARTITION BY i ORDER BY ord) - 1
             AS BIGINT) AS pos, hreflang, href
    FROM kept ORDER BY i, pos
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "canonicalize_urls": q_canonicalize_urls,
        "url_dedup_first_wins": q_url_dedup_first_wins,
        "host_budget_topk": q_host_budget_topk,
        "robots_gate": q_robots_gate,
        "blocklist_gate": q_blocklist_gate,
        "robots_parse": q_robots_parse,
        "robots_gate_precedence": q_robots_gate_precedence,
        "sitemap_parse": q_sitemap_parse,
        "sitemap_seeds": q_sitemap_seeds,
        "missing_child_sitemaps": q_missing_child_sitemaps,
        "seen_antijoin_bloom": q_seen_antijoin,
        "source_priority_union": q_source_priority_union,
        "product_hash_dedup": q_product_hash_dedup,
        "crawl_order": q_crawl_order,
        "global_wave_cap": q_global_wave_cap,
        "brand_extraction": q_brand_extraction,
        "fetch_join": q_fetch_join,
        "pushdown_agg": q_pushdown_agg,
        "session_summary": q_session_summary,
        "metric_rollups": q_metric_rollups,
        "token_accounting": q_token_accounting,
        "group_by_source": q_group_by_source,
        "top10_per_source": q_top10_per_source,
        "token_count": q_token_count,
        "pii_scrub": q_pii_scrub,
        "boilerplate_strip": q_boilerplate_strip,
        "quality_score": q_quality_score,
        "lang_id": q_lang_id,
        "merge_upsert_stats": q_merge_upsert_stats,
        "link_table_dedup": q_link_table_dedup,
        "exact_dedup": q_exact_dedup,
        "ngram_jaccard_dups": q_ngram_jaccard_dups,
        "minhash_lsh_dups": q_minhash_lsh_dups,
        "winnow_fingerprint_dups": q_winnow_fingerprint_dups,
        "pagerank_priority": q_pagerank_priority,
        "connected_components": q_connected_components,
        "tfidf_topk_terms": q_tfidf_topk_terms,
        "stratified_sample": q_stratified_sample,
        "anchor_text": q_anchor_text,
        "neardup_clusters": q_neardup_clusters,
        "snapshot_diff": q_snapshot_diff,
        "mirror_hosts": q_mirror_hosts,
        "gopher_repetition": q_gopher_repetition,
        "c4_filters": q_c4_filters,
        "duplicate_spans": q_duplicate_spans,
        "decontaminate": q_decontaminate,
        "fix_mojibake": q_fix_mojibake,
        "char_familiarity": q_char_familiarity,
        "quality_classifier": q_quality_classifier,
        "soft404": q_soft404,
        "warc_parse": q_warc_parse,
        "line_dedup": q_line_dedup,
        "resolve_redirects": q_resolve_redirects,
        "trap_hosts": q_trap_hosts,
        "recrawl_priority": q_recrawl_priority,
        "strip_tracking": q_strip_tracking,
        "simhash_dups": q_simhash_dups,
        "embedding_neardup": q_embedding_neardup,
        "ann_bruteforce_topk": q_ann_bruteforce,
        "ann_ivf_topk": q_ann_ivf,
        "ann_lsh_topk": q_ann_lsh,
        "ann_lsh_multiprobe_topk": q_ann_lsh_multiprobe,
        "media_metadata": q_media_metadata,
        "media_features": q_media_features,
        "frame_sample": q_frame_sample,
        "curation_funnel": q_curation_funnel,
        "pack_sequences": q_pack_sequences,
        "mixture_select": q_mixture_select,
        "media_phash_dups": q_media_phash_dups,
        "url_templates": q_url_templates,
        "common_phrases": q_common_phrases,
        "canonical_aliases": q_canonical_aliases,
        "meta_robots": q_meta_robots,
        "gopher_quality": q_gopher_quality,
        "dsir_select": q_dsir_select,
        "ccnet_buckets": q_ccnet_buckets,
        "surt_keys": q_surt_keys,
        "epoch_upsample": q_epoch_upsample,
        "chunk_documents": q_chunk_documents,
        "bpe_pair_census": q_bpe_pair_census,
        "feed_parse": q_feed_parse,
        "feed_seeds": q_feed_seeds,
        "charset_sniff": q_charset_sniff,
        "hits_scores": q_hits_scores,
        "script_mix": q_script_mix,
        "mime_gate": q_mime_gate,
        "cdx_index": q_cdx_index,
        "dataset_card": q_dataset_card,
        "compaction_plan": q_compaction_plan,
        "shard_boundaries": q_shard_boundaries,
        "revalidate": q_revalidate,
        "hreflang": q_hreflang,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "canonicalize_urls": _Q_CANONICALIZE_SQL,
        "url_dedup_first_wins": _Q_URL_DEDUP_SQL,
        "host_budget_topk": _Q_HOST_BUDGET_SQL,
        "robots_gate": _Q_ROBOTS_SQL,
        "blocklist_gate": _Q_BLOCKLIST_SQL,
        "robots_parse": _Q_ROBOTS_PARSE_SQL,
        "robots_gate_precedence": _Q_ROBOTS_PRECEDENCE_SQL,
        "sitemap_parse": _Q_SITEMAP_PARSE_SQL,
        "sitemap_seeds": _Q_SITEMAP_SEEDS_SQL,
        "missing_child_sitemaps": _Q_MISSING_SITEMAPS_SQL,
        "seen_antijoin_bloom": _Q_SEEN_ANTIJOIN_SQL,
        "source_priority_union": _Q_SOURCE_UNION_SQL,
        "product_hash_dedup": _Q_PRODUCT_HASH_SQL,
        "crawl_order": _Q_CRAWL_ORDER_SQL,
        "global_wave_cap": _Q_GLOBAL_CAP_SQL,
        "brand_extraction": _Q_BRAND_SQL,
        "fetch_join": _Q_FETCH_JOIN_SQL,
        "pushdown_agg": _Q_PUSHDOWN_AGG_SQL,
        "session_summary": _Q_SESSION_SUMMARY_SQL,
        "metric_rollups": _Q_METRIC_ROLLUPS_SQL,
        "token_accounting": _Q_TOKEN_ACCOUNTING_SQL,
        "group_by_source": _Q_GROUP_BY_SOURCE_SQL,
        "top10_per_source": _Q_TOP10_SQL,
        "token_count": _Q_TOKEN_COUNT_SQL,
        "pii_scrub": _Q_PII_SCRUB_SQL,
        "boilerplate_strip": _Q_BOILERPLATE_SQL,
        "quality_score": _Q_QUALITY_SQL,
        "lang_id": _Q_LANG_ID_SQL,
        "merge_upsert_stats": _Q_MERGE_UPSERT_SQL,
        "link_table_dedup": _Q_LINK_TABLE_SQL,
        "exact_dedup": _Q_EXACT_DEDUP_SQL,
        "ngram_jaccard_dups": _Q_NGRAM_JACCARD_SQL,
        "embedding_neardup": _Q_EMB_NEARDUP_SQL,
        "ann_bruteforce_topk": _Q_ANN_BRUTEFORCE_SQL,
        "media_metadata": _Q_MEDIA_METADATA_SQL,
        "minhash_lsh_dups": _Q_MINHASH_SQL,
        "winnow_fingerprint_dups": _Q_WINNOW_SQL,
        "pagerank_priority": _Q_PAGERANK_SQL,
        "connected_components": _Q_CC_SQL,
        "tfidf_topk_terms": _Q_TFIDF_SQL,
        "stratified_sample": _Q_STRATIFIED_SQL,
        "anchor_text": _Q_ANCHOR_SQL,
        "neardup_clusters": _Q_NEARDUP_CLUSTERS_SQL,
        "snapshot_diff": _Q_SNAPSHOT_DIFF_SQL,
        "mirror_hosts": _Q_MIRROR_HOSTS_SQL,
        "gopher_repetition": _Q_GOPHER_SQL,
        "c4_filters": _Q_C4_SQL,
        "duplicate_spans": _Q_DUP_SPANS_SQL,
        "decontaminate": _Q_DECONTAM_SQL,
        "fix_mojibake": _Q_MOJIBAKE_SQL,
        "char_familiarity": _Q_CHAR_FAMILIARITY_SQL,
        "quality_classifier": _Q_QUALITY_CLASSIFIER_SQL,
        "soft404": _Q_SOFT404_SQL,
        "warc_parse": _Q_WARC_SQL,
        "line_dedup": _Q_LINE_DEDUP_SQL,
        "resolve_redirects": _Q_REDIRECTS_SQL,
        "trap_hosts": _Q_TRAP_HOSTS_SQL,
        "recrawl_priority": _Q_RECRAWL_SQL,
        "strip_tracking": _Q_STRIP_TRACKING_SQL,
        "ann_ivf_topk": _Q_ANN_PLANTED_SQL,
        "ann_lsh_topk": _Q_ANN_PLANTED_SQL,
        "ann_lsh_multiprobe_topk": _Q_ANN_PLANTED_SQL,
        "media_features": _Q_MEDIA_FEATURES_SQL,
        "frame_sample": _Q_FRAME_SAMPLE_SQL,
        "curation_funnel": _Q_CURATION_SQL,
        "simhash_dups": _Q_SIMHASH_SQL,
        "pack_sequences": _Q_PACK_SQL,
        "mixture_select": _Q_MIXTURE_SQL,
        "media_phash_dups": _Q_MEDIA_PHASH_SQL,
        "url_templates": _Q_URL_TEMPLATES_SQL,
        "common_phrases": _Q_COMMON_PHRASES_SQL,
        "canonical_aliases": _Q_CANONICAL_ALIASES_SQL,
        "meta_robots": _Q_META_ROBOTS_SQL,
        "gopher_quality": _Q_GOPHER_QUALITY_SQL,
        "dsir_select": _Q_DSIR_SQL,
        "ccnet_buckets": _Q_CCNET_SQL,
        "surt_keys": _Q_SURT_SQL,
        "epoch_upsample": _Q_EPOCH_SQL,
        "chunk_documents": _Q_CHUNK_SQL,
        "bpe_pair_census": _Q_BPE_SQL,
        "feed_parse": _Q_FEED_PARSE_SQL,
        "feed_seeds": _Q_FEED_SEEDS_SQL,
        "charset_sniff": _Q_CHARSET_SQL,
        "hits_scores": _Q_HITS_SQL,
        "script_mix": _Q_SCRIPT_SQL,
        "mime_gate": _Q_MIME_SQL,
        "cdx_index": _Q_CDX_SQL,
        "dataset_card": _Q_DATASET_CARD_SQL,
        "compaction_plan": _Q_COMPACTION_SQL,
        "shard_boundaries": _Q_SHARD_SQL,
        "revalidate": _Q_REVAL_SQL,
        "hreflang": _Q_HREFLANG_SQL,
    }
