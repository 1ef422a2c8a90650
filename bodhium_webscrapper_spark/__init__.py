"""bodhium_webscrapper_spark — a from-scratch PySpark-native crawl/frontier engine.

Re-expresses the query and data-processing capabilities of the reference
``kanishk-aivar/bodhium-webscrapper`` (a sequential per-URL Python scraper,
see ``/root/reference/app.py``) as idiomatic Spark DataFrame stages:

- URL canonicalization (RFC 3986 + xxhash64 keys) — Arrow pandas UDF
  (reference analogue: ``app.py:272-295,381-383``)
- trafilatura-style text extraction, byte-identical per url — pandas UDF
  (reference analogue: Gemini extraction stage, ``app.py:591-682``)
- exact URL-seen anti-join on ``url_hash`` (broadcast, or shuffled past
  a size threshold)
  (reference analogue: in-memory ``seen_urls`` set, ``app.py:376-390``)
- per-host politeness budget with host-hash salting against mega-domain skew
  (reference analogue: ``asyncio.sleep(1)`` + MAX_URLS, ``app.py:303,973-974``)
- robots.txt gating (absent in reference; required by the target spec)
- deterministic breadth-first-with-priority wave scheduler with
  checkpointed frontier snapshots and identical-order resume
- per-partition lineage + metrics tables
  (reference analogue: CrawlMetrics + DynamoDB events, ``app.py:74-82,817-860``)

Everything is public PySpark DataFrame API + vectorized pandas/Arrow UDFs;
no per-row Python in the data plane, no RDD API.
"""

__version__ = "0.1.0"
