"""Multimodal (image/audio/video) column plumbing.

Media payloads are opaque ``binary`` columns with a typed metadata struct —
the same pattern the reference uses for screenshots (base64-decoded PNG
bytes, ``/root/reference/app.py:536-549``), generalized to a 100 TB
training-data pipeline.

The Spark-side plumbing is real and tested: schemas, Arrow batch shapes,
``mapInPandas`` iterator signatures, partition behavior. The codec step
itself (PIL/ffmpeg decode) is STUBBED — those libraries are not in this
container — behind ``decode_fn``: pass a real decoder in production, or use
the deterministic fake (byte-histogram features) that keeps every
downstream shape exact.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = "media_id long, feature array<float>, feat_dim int"

_MAGIC = {
    b"\x89PNG": "png",
    b"\xff\xd8\xff": "jpeg",
    b"RIFF": "riff",
    b"GIF8": "gif",
    b"<htm": "html",
    b"<!DO": "html",
}


def magic_kind(payload: Column) -> Column:
    """Container kind from the payload's magic bytes — a pure JVM when-chain
    over binary prefix comparisons (no Python in the plan)."""
    expr = F.lit("unknown")
    for prefix, kind in reversed(list(_MAGIC.items())):
        expr = F.when(
            F.substring(payload, 1, len(prefix)) == F.lit(prefix), F.lit(kind)
        ).otherwise(expr)
    return expr


def fake_decode(payload: bytes) -> np.ndarray:
    """Deterministic stand-in 'decode': 32-bin byte histogram, L1-normalized.

    Keeps every downstream shape (float vector of fixed dim) identical to a
    real feature extractor, with zero dependencies.
    """
    arr = np.frombuffer(payload, dtype=np.uint8)
    if arr.size == 0:
        return np.zeros(32, dtype=np.float32)
    hist = np.bincount(arr >> 3, minlength=32).astype(np.float32)
    return hist / hist.sum()


def media_metadata(df: DataFrame, id_col: str, payload_col: str) -> DataFrame:
    """Typed metadata from the binary column — pure JVM built-ins:
    ``(media_id long, kind string, n_bytes long, sha256 string)``, i.e.
    magic-sniffed kind, length and content hash."""
    b = F.col(payload_col)
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        magic_kind(b).alias("kind"),
        F.length(b).cast("long").alias("n_bytes"),
        F.sha2(b, 256).alias("sha256"),
    )


def extract_features(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    decode_fn: Callable[[bytes], np.ndarray] = fake_decode,
    batch_size_hint: int = 1024,
) -> DataFrame:
    """Decode + featurize media payloads via ``mapInPandas``.

    Iterator-of-batches form so a real decoder can amortize model/codec
    setup once per partition (the canonical Spark pattern for heavy UDFs).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                decode_fn(bytes(p)) if p is not None else np.zeros(32, np.float32)
                for p in pdf[payload_col]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col].astype("int64"),
                    "feature": [f.astype(np.float32) for f in feats],
                    "feat_dim": [len(f) for f in feats],
                }
            )

    return df.select(id_col, payload_col).mapInPandas(run, FEATURE_SCHEMA)


def frame_sample_plan(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    every_n: int = 10,
    max_frames: int = 8,
    seed_expr=None,
) -> DataFrame:
    """Deterministic frame-sampling *plan* for video payloads.

    Emits (media_id, frame_index) rows — the schedule a real decoder would
    consume — computed purely from the payload hash so it is reproducible.
    The decode of each frame is the stubbed step. ``seed_expr``: optional
    alternative payload-hash column (e.g. an md5-derived hash a SQL oracle
    can reproduce); default stays xxhash64.
    """
    seed = seed_expr if seed_expr is not None else F.xxhash64(F.col(payload_col))
    n_frames = F.pmod(seed, F.lit(120)) + 1  # fake container probe: 1..120 frames
    idx = F.sequence(
        F.lit(0),
        F.least(n_frames - 1, F.lit(every_n * (max_frames - 1))),
        F.lit(every_n),
    )
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.explode(idx).alias("frame_index"),
    )


def deterministic_media_fixture(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Make an opaque binary payload column out of a text table (fixture:
    the sandbox has no real media, mirroring how the reference fakes
    screenshots in tests it doesn't have)."""
    return df.select(
        F.col(id_col),
        F.encode(F.col(text_col), "utf-8").alias("payload"),
    )
