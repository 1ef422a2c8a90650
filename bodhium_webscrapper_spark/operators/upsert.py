"""Upsert operators (the reference's Postgres product writes re-expressed).

The reference upserts products row-at-a-time — ``SELECT by product_hash``
then ``INSERT ... RETURNING`` (``/root/reference/RDS/app.py:446-508``). Its
job registry (status transitions, job ids) is control-plane bookkeeping
with no data-plane operator here. On Iceberg these are single
``MERGE INTO`` statements; on the parquet snapshot shim we express the same
semantics as set operations:

- new rows        = staged LEFT-ANTI existing on the hash key   [J2]
- merged snapshot = existing ∪ new                              [S10]
- ingest stats    = counts of new / existing / linked           [A7]
- link table      = dropDuplicates append                       [J3]

Determinism: timestamps are injected by the caller (never current_timestamp
in the data plane).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_product_hash(products: DataFrame) -> DataFrame:
    """sha256(name + source_url + current_price) — RDS/app.py:459-460."""
    return products.withColumn(
        "product_hash",
        F.sha2(F.concat_ws("", "productname", "source_url", "current_price"), 256),
    )


@dataclass
class UpsertResult:
    merged: DataFrame
    new_rows: DataFrame
    n_new: int
    n_existing: int
    cached: DataFrame | None = None

    def release(self) -> None:
        """Unpersist the tagged-join cache once merged/new_rows have been
        materialized — long-lived sessions calling upsert per batch would
        otherwise accumulate pinned blocks."""
        if self.cached is not None:
            self.cached.unpersist()


def upsert_by_key(
    existing: DataFrame, staged: DataFrame, key: str, ts_col_value=None
) -> UpsertResult:
    """MERGE-INTO semantics: insert staged rows whose key is absent.

    ``ts_col_value``: optional literal/column for created_at/updated_at
    stamping (the trigger analogue, RDS/app.py:306-348).
    """
    # single pass: tag each staged row with key-existence via one left join,
    # persist the tagged set, and take both counts from one aggregation —
    # the old two-count formulation re-ran dropDuplicates + anti-join twice
    # (and a third time when `merged` was materialized)
    existing_keys = (
        existing.select(key).dropDuplicates([key]).withColumn("_exists", F.lit(True))
    )
    tagged = staged.dropDuplicates([key]).join(existing_keys, key, "left").persist()
    counts = tagged.agg(
        F.count(F.lit(1)).alias("n_staged"),
        F.coalesce(F.sum(F.when(F.col("_exists"), 1).otherwise(0)), F.lit(0)).alias(
            "n_existing"
        ),
    ).first()
    new_rows = tagged.filter(F.col("_exists").isNull()).drop("_exists")
    if ts_col_value is not None:
        new_rows = new_rows.withColumn("created_at", ts_col_value).withColumn(
            "updated_at", ts_col_value
        )
    merged = existing.unionByName(new_rows, allowMissingColumns=True)
    n_existing = int(counts["n_existing"])
    n_new = int(counts["n_staged"]) - n_existing
    return UpsertResult(
        merged=merged,
        new_rows=new_rows,
        n_new=n_new,
        n_existing=n_existing,
        cached=tagged,
    )


def link_table(pairs: DataFrame, left_key: str, right_key: str) -> DataFrame:
    """Many-to-many link rows, dup-safe (ON CONFLICT DO NOTHING analogue,
    RDS/app.py:494-498)."""
    return pairs.select(left_key, right_key).dropDuplicates([left_key, right_key])
