"""Driver-contract guard: every __spark_entry__ query must match its DuckDB
oracle dtype-strictly at sf0.001 (the driver's own gate runs at sf0.01).

This promotes tests/oracle_harness.py into the pytest suite so 'pytest
tests/' fails when a query drifts from its oracle — including the HUGEINT-
vs-int64 class of mismatch the round-1 driver gate caught (see
oracle_harness._pd_rows).
"""

from __future__ import annotations

import os

import pytest

import oracle_harness  # tests dir is on sys.path via conftest rootdir

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.001")

# rows-only by design: anything NOT in this set must have a value-exact
# oracle. Empty since round 2 — every query is oracled (simhash runs under
# the md5-derived token hash so DuckDB can rebuild its signatures).
EXPECTED_ROWS_ONLY: set[str] = set()

# the driver contract's query keys, in registry order: the driver gate
# addresses queries by these names, so none may be renamed, dropped or
# reordered (new keys go at the end)
QUERY_KEYS = [
    "canonicalize_urls", "url_dedup_first_wins", "host_budget_topk",
    "robots_gate", "blocklist_gate", "robots_parse",
    "robots_gate_precedence", "sitemap_parse", "sitemap_seeds",
    "missing_child_sitemaps", "seen_antijoin_bloom",
    "source_priority_union", "product_hash_dedup", "crawl_order",
    "global_wave_cap", "brand_extraction", "fetch_join", "pushdown_agg",
    "session_summary", "metric_rollups", "token_accounting",
    "group_by_source", "top10_per_source", "token_count", "pii_scrub",
    "boilerplate_strip", "quality_score", "lang_id", "merge_upsert_stats",
    "link_table_dedup", "exact_dedup", "ngram_jaccard_dups",
    "minhash_lsh_dups", "winnow_fingerprint_dups", "pagerank_priority",
    "connected_components", "tfidf_topk_terms", "stratified_sample",
    "anchor_text", "neardup_clusters", "snapshot_diff", "mirror_hosts",
    "gopher_repetition", "c4_filters", "duplicate_spans", "decontaminate",
    "fix_mojibake", "char_familiarity", "quality_classifier", "soft404",
    "warc_parse", "line_dedup", "resolve_redirects", "trap_hosts",
    "recrawl_priority", "strip_tracking", "simhash_dups",
    "embedding_neardup", "ann_bruteforce_topk", "ann_ivf_topk",
    "ann_lsh_topk", "ann_lsh_multiprobe_topk", "media_metadata",
    "media_features", "frame_sample", "curation_funnel", "pack_sequences",
    "mixture_select", "media_phash_dups", "url_templates", "common_phrases",
    "canonical_aliases", "meta_robots", "gopher_quality", "dsir_select",
    "ccnet_buckets", "surt_keys", "epoch_upsample", "chunk_documents",
    "bpe_pair_census", "feed_parse", "feed_seeds", "charset_sniff",
    "hits_scores", "script_mix", "mime_gate", "cdx_index", "dataset_card",
    "compaction_plan", "shard_boundaries", "revalidate", "hreflang",
]


def test_query_keys_pinned():
    import __spark_entry__

    assert len(QUERY_KEYS) == 92
    assert list(__spark_entry__.queries()) == QUERY_KEYS
    assert set(__spark_entry__.oracle_sql()) == set(QUERY_KEYS)


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason=f"{SF_DIR} missing")
def test_all_queries_match_oracles(spark):
    results = list(oracle_harness.iter_results(spark, SF_DIR))
    assert results, "no queries ran"
    failures = [(n, d) for n, s, d in results if s == "fail"]
    assert not failures, f"oracle mismatches: {failures}"
    rows_only = {n for n, s, _ in results if s == "rows"}
    unexpected = rows_only - EXPECTED_ROWS_ONLY
    assert not unexpected, f"queries silently lost their oracle: {unexpected}"
