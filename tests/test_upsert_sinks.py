"""Upsert operators (SURVEY S10, J2, J3, A7)."""

from bodhium_webscrapper_spark.operators.upsert import (
    link_table,
    upsert_by_key,
    with_product_hash,
)


def _products(spark, rows):
    cols = ["productname", "description", "current_price", "original_price",
            "rating", "review", "image_url", "source_url"]
    return spark.createDataFrame(
        [tuple([r[0], "d", r[1], "", "", "", "", r[2]]) for r in rows], cols
    )


def test_upsert_semantics(spark):
    existing = with_product_hash(
        _products(spark, [("widget a", "9.99", "https://s1"), ("widget b", "5", "https://s1")])
    )
    staged = with_product_hash(
        _products(
            spark,
            [
                ("widget a", "9.99", "https://s1"),   # existing → skipped
                ("widget c", "7", "https://s2"),      # new
                ("widget c", "7", "https://s2"),      # staged dup → one insert
            ],
        )
    )
    r = upsert_by_key(existing, staged, "product_hash")
    assert r.n_new == 1 and r.n_existing == 1
    assert r.merged.count() == 3
    # idempotent: re-running the same staged batch inserts nothing (J2)
    r2 = upsert_by_key(r.merged, staged, "product_hash")
    assert r2.n_new == 0 and r2.merged.count() == 3


def test_link_table_dup_safe(spark):
    pairs = spark.createDataFrame(
        [("j1", 1), ("j1", 1), ("j1", 2), ("j2", 1)], ["job_id", "product_id"]
    )
    out = link_table(pairs, "job_id", "product_id")
    assert out.count() == 3
