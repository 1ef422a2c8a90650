"""Partitioned-bloom URL-seen membership + exact anti-join.

The reference keeps an in-memory Python set of seen URLs
(``/root/reference/app.py:225,376-390``) — O(1) membership but bounded by one
process's RAM and lost on crash. At 10^10-URL frontier scale the engine keeps
the exact seen set as a table keyed by ``url_hash`` (authoritative,
checkpointed) and accelerates the anti-join with per-bucket bloom filters:

- build: ``groupBy(bucket_id).applyInPandas`` → one numpy bit-array blob per
  bucket (Arrow-batched, vectorized; no per-row Python).
- probe: frontier rows cogrouped with their bucket's blob
  (``DistributedBloom.pre_filter``) — blob bytes never transit the driver.
  Rows the bloom says are definitely-new skip the exact join entirely; only
  possible-seen rows (bloom positives) reach the exact anti-join, so bloom
  false positives can never drop a URL — correctness is anchored on the
  exact join (tested bloom-on == bloom-off).

Hashing: the 64-bit key is Spark's built-in ``xxhash64`` (JVM-side); the k
bloom probes derive from its two 32-bit halves via double hashing
(h1 + i*h2 mod m), all numpy-vectorized.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

BLOOM_K = 8
BITS_PER_KEY = 16

_BLOOM_SCHEMA = "bucket_id int, m long, n long, blob binary"


def _next_pow2(x: int) -> int:
    return 1 << max(10, (x - 1).bit_length())


def _probe_positions(h: np.ndarray, m: int) -> list[np.ndarray]:
    hu = h.astype(np.int64).view(np.uint64)
    h1 = hu & np.uint64(0xFFFFFFFF)
    h2 = (hu >> np.uint64(32)) | np.uint64(1)
    return [(h1 + np.uint64(i) * h2) % np.uint64(m) for i in range(BLOOM_K)]


def build_bloom(
    df: DataFrame,
    hash_col: str = "url_hash",
    n_buckets: int = 64,
    fixed_m: int | None = None,
) -> DataFrame:
    """(bucket_id, m, n, blob) — one bloom blob per hash bucket.

    With ``fixed_m`` every bucket uses the same bit width, which makes blobs
    OR-mergeable across waves (incremental maintenance: build a bloom over
    each wave's small seen-delta and OR-merge executor-side instead of
    rescanning the full 10^10-key seen table every wave).
    """

    def make(pdf: pd.DataFrame) -> pd.DataFrame:
        h = pdf[hash_col].to_numpy()
        n = len(h)
        m = fixed_m or _next_pow2(n * BITS_PER_KEY)
        bits = np.zeros(m // 8, dtype=np.uint8)
        for idx in _probe_positions(h, m):
            np.bitwise_or.at(
                bits,
                (idx >> np.uint64(3)).astype(np.int64),
                np.left_shift(1, (idx & np.uint64(7)).astype(np.int64)).astype(np.uint8),
            )
        return pd.DataFrame(
            {
                "bucket_id": [int(pdf["bucket_id"].iloc[0])],
                "m": [m],
                "n": [n],
                "blob": [bits.tobytes()],
            }
        )

    bucketed = df.select(
        F.pmod(F.col(hash_col), F.lit(n_buckets)).cast("int").alias("bucket_id"),
        F.col(hash_col),
    )
    return bucketed.groupBy("bucket_id").applyInPandas(make, _BLOOM_SCHEMA)


def or_merge_blobs(blobs: DataFrame) -> DataFrame:
    """OR together same-bucket fixed-width blobs: (bucket_id, m, n, blob).

    Executor-side (applyInPandas per bucket) — nothing blob-sized ever
    transits the driver.
    """

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        bits = np.frombuffer(pdf["blob"].iloc[0], dtype=np.uint8).copy()
        for blob in pdf["blob"].iloc[1:]:
            bits |= np.frombuffer(blob, dtype=np.uint8)
        return pd.DataFrame(
            {
                "bucket_id": [int(pdf["bucket_id"].iloc[0])],
                "m": [int(pdf["m"].iloc[0])],
                "n": [int(pdf["n"].sum())],
                "blob": [bits.tobytes()],
            }
        )

    return blobs.groupBy("bucket_id").applyInPandas(merge, _BLOOM_SCHEMA)


class DistributedBloom:
    """Bucket-keyed bloom state held as a DataFrame — the 10^10-key path.

    The previous design collected every bucket blob to the driver, OR-ed
    them in Python, and re-broadcast the whole dict each wave: at 10^10 keys
    × 16 bits/key that is ~20 GB of driver heap and a ~20 GB broadcast.
    Here the blob table (bucket_id, m, n, blob) stays distributed:

    - merge: union prev blobs with the wave delta's blobs, OR per bucket
      via ``applyInPandas`` (O(delta) + O(n_buckets) blob rows, no driver).
    - probe: cogroup frontier rows with their bucket's blob and test
      membership vectorized — each task holds exactly one blob slice.

    The caller materializes ``blobs`` between waves (snapshot store) to keep
    lineage flat; ``capacity`` fixes the per-bucket bit width so blobs stay
    OR-mergeable across waves.
    """

    def __init__(self, spark: SparkSession, n_buckets: int = 64, capacity: int = 4_000_000):
        self.spark = spark
        self.n_buckets = n_buckets
        self.fixed_m = _next_pow2(max(1, capacity * BITS_PER_KEY // n_buckets))
        self.blobs: DataFrame | None = None

    def add_delta(self, delta: DataFrame, hash_col: str = "url_hash") -> None:
        d = build_bloom(delta, hash_col, self.n_buckets, fixed_m=self.fixed_m)
        self.blobs = d if self.blobs is None else or_merge_blobs(self.blobs.unionByName(d))

    def state(self) -> "DistributedBloom | None":
        return self if self.blobs is not None else None

    def pre_filter(
        self, frontier: DataFrame, hash_col: str = "url_hash", probe_salt: int = 8
    ) -> DataFrame:
        """frontier + boolean ``_maybe_seen`` column (cogrouped probe).

        The cogroup yields one task per group, so plain bucket grouping
        would cap probe parallelism at n_buckets AND hand each task
        ~|frontier|/n_buckets rows as one pandas frame. ``probe_salt``
        sub-splits every bucket: blobs are replicated salt-ways (cheap —
        blobs are small and read-only) giving n_buckets×probe_salt groups,
        each pandas-sized. At 10^10 keys also raise n_buckets so a single
        blob fits task memory.
        """
        out_schema = T.StructType(
            list(frontier.schema.fields) + [T.StructField("_maybe_seen", T.BooleanType())]
        )
        cols = [f.name for f in frontier.schema.fields]
        salt = F.pmod(F.xxhash64(F.col(hash_col), F.lit(0x5EED)), F.lit(probe_salt))
        fb = frontier.withColumn(
            "_bucket", F.pmod(F.col(hash_col), F.lit(self.n_buckets)).cast("int")
        ).withColumn("_psalt", salt.cast("int"))
        bb = (
            self.blobs.withColumnRenamed("bucket_id", "_bucket")
            .withColumn("_psalt", F.explode(F.sequence(F.lit(0), F.lit(probe_salt - 1))))
        )

        def probe(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            out = left[cols].copy()
            if len(right) == 0:
                out["_maybe_seen"] = False
                return out
            m = int(right["m"].iloc[0])
            bits = np.frombuffer(right["blob"].iloc[0], dtype=np.uint8)
            if len(right) > 1:  # unmerged deltas: OR on the fly
                bits = bits.copy()
                for blob in right["blob"].iloc[1:]:
                    bits |= np.frombuffer(blob, dtype=np.uint8)
            h = left[hash_col].to_numpy()
            hit = np.ones(len(h), dtype=bool)
            for idx in _probe_positions(h, m):
                byte_idx = (idx >> np.uint64(3)).astype(np.int64)
                bit = (bits[byte_idx] >> (idx & np.uint64(7)).astype(np.uint8)) & 1
                hit &= bit.astype(bool)
            out["_maybe_seen"] = hit
            return out

        return (
            fb.groupBy("_bucket", "_psalt")
            .cogroup(bb.groupBy("_bucket", "_psalt"))
            .applyInPandas(probe, out_schema)
        )



def _bloom_split_plan(
    flagged: DataFrame, seen_keys: DataFrame, hash_col: str
) -> DataFrame:
    """definitely-new rows bypass the join; bloom positives get the exact
    anti-join confirm (false positives can never drop a URL)."""
    definite_new = flagged.filter(~F.col("_maybe_seen")).drop("_maybe_seen")
    confirmed_new = (
        flagged.filter(F.col("_maybe_seen"))
        .drop("_maybe_seen")
        .join(seen_keys, hash_col, "left_anti")
    )
    return definite_new.unionByName(confirmed_new)


def seen_anti_join(
    frontier: DataFrame,
    seen: DataFrame,
    hash_col: str = "url_hash",
    bloom: "DistributedBloom | None" = None,
) -> DataFrame:
    """Rows of ``frontier`` whose key is not in ``seen`` (exact semantics).

    With ``bloom`` (a DistributedBloom blob table): bloom pre-pass + exact
    confirm of the positives. Without: plain left-anti join.

    Pure plan, no caching: the probe subtree feeds both the definite-new and
    confirmed-new branches and will execute twice inside one action.
    """
    seen_keys = seen.select(hash_col)
    if bloom is None:
        return frontier.join(seen_keys, hash_col, "left_anti")
    return _bloom_split_plan(bloom.pre_filter(frontier, hash_col), seen_keys, hash_col)

