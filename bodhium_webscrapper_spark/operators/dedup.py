"""Deduplication suite for web-scale training-data pipelines.

The reference deduplicates twice, both row-at-a-time in Python: URL dedup
via an in-memory set (``/root/reference/app.py:376-390``) and product dedup
via a first-wins dict on ``lower(name)+'|'+price``
(``app.py:684-703``; hash-based variant ``RDS/app.py:459-460``). The engine
generalizes these to the dedup family a 100 TB documents pipeline needs:

- exact dedup       — hash-groupBy (first-wins window, order-deterministic)
- MinHash + LSH     — shingle → minhash → band → bucket self-join; entirely
                      JVM-side via higher-order functions + built-in xxhash64
                      (no Python in the data plane at all)
- SimHash           — token hashes JVM-side, bit-majority in a vectorized
                      pandas UDF, candidate pairs via 16-bit band equality +
                      ``bit_count(a^b)`` hamming verify
- n-gram Jaccard    — exact set similarity on shingles via
                      ``array_intersect``/``array_union``

Scale notes: every method is shuffle-bounded by its key (hash, band bucket,
simhash band); LSH bucket self-joins explode only within buckets, and the
band hash includes the band index so buckets never collide across bands.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType, StructField, StructType


# ---------------------------------------------------------------- exact

def first_wins_dedup(
    df: DataFrame, key_cols: list[str], order_cols: list[Column]
) -> DataFrame:
    """Keep the first row per key under a deterministic order (A1/A2)."""
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def normalized_text(col: Column) -> Column:
    """Whitespace-collapsed lowercase text — the exact-dedup key input."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def exact_text_dedup(
    df: DataFrame, text_col: str, id_col: str, keep: str = "min"
) -> DataFrame:
    """Exact dedup on md5(normalized text); keeps min/max id (deterministic)."""
    order = [F.col(id_col).asc() if keep == "min" else F.col(id_col).desc()]
    keyed = df.withColumn("_dedup_key", F.md5(normalized_text(F.col(text_col))))
    return first_wins_dedup(keyed, ["_dedup_key"], order).drop("_dedup_key")


# ---------------------------------------------------------------- shingles

def tokens_col(text_col: Column) -> Column:
    return F.split(normalized_text(text_col), " ")


def shingles_col(text_col: Column, k: int = 3) -> Column:
    """k-word shingles as an array<string>; whole text if fewer than k words.

    Built entirely from higher-order functions (transform/sequence/slice) —
    JVM-side, codegen-friendly, no UDF. The token array is bound ONCE as a
    lambda variable (`_bind_once`): referencing the raw split() expression
    inside the window lambda would re-tokenize the whole document per
    shingle — O(L²) per doc, measured 6× wall on the sf0.1 gram explode.
    """

    def build(toks: Column) -> Column:
        n = F.size(toks)
        windows = F.transform(
            F.sequence(F.lit(0), n - F.lit(k)),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
        )
        return F.when(n >= k, windows).otherwise(
            F.array(F.concat_ws(" ", toks))
        )

    return _bind_once(tokens_col(text_col), build)


def distinct_shingles_col(text_col: Column, k: int = 3) -> Column:
    return F.array_distinct(shingles_col(text_col, k))


# ---------------------------------------------------------------- minhash

# mixing constants for rolling k-gram hashes (fixed, deterministic)
_SHINGLE_MIX = (0x9E3779B97F4A7C15, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9, 0x27D4EB2F165667C5)


def _shingle_minhash_udf(n_hashes: int, k: int):
    """Shingle-hash + MinHash in ONE vectorized pass.

    Input: per-row array of JVM xxhash64 token hashes. Shingle hash =
    linear mix of k consecutive token hashes (numpy rolling windows); the
    signature is the universal-hash min over distinct shingle hashes.
    Replacing string shingles (slice+concat_ws higher-order functions —
    interpreted, never codegen'd) with numeric rolling hashes is ~10x
    faster and collision-equivalent at 64 bits.
    """
    rng = np.random.RandomState(0xC0FFEE ^ n_hashes)
    a = (rng.randint(1, 2**62, size=n_hashes, dtype=np.uint64) << np.uint64(1)) | np.uint64(1)
    b = rng.randint(0, 2**62, size=n_hashes, dtype=np.uint64)
    mix = np.array(_SHINGLE_MIX[:k], dtype=np.uint64)

    @pandas_udf(
        StructType(
            [
                StructField("sig", ArrayType(LongType())),
                StructField("shingle_hashes", ArrayType(LongType())),
            ]
        )
    )
    def run(token_hashes: pd.Series) -> pd.DataFrame:
        sigs, shingle_sets = [], []
        with np.errstate(over="ignore"):
            for th in token_hashes:
                t = (
                    np.asarray(th, dtype=np.int64).view(np.uint64)
                    if th is not None and len(th)
                    else np.zeros(1, dtype=np.uint64)
                )
                if len(t) >= k:
                    sh = np.zeros(len(t) - k + 1, dtype=np.uint64)
                    for j in range(k):
                        sh += mix[j] * t[j : len(t) - k + 1 + j]
                else:
                    sh = np.array([(mix[0] * t).sum()], dtype=np.uint64)
                sh = np.unique(sh)
                sig = (sh[:, None] * a + b).min(axis=0)
                sigs.append(sig.view(np.int64))
                shingle_sets.append(sh.view(np.int64))
        return pd.DataFrame({"sig": sigs, "shingle_hashes": shingle_sets})

    return run


def lsh_bands(sig_col: Column, n_hashes: int, bands: int) -> Column:
    """array of (band index baked into the hash) band bucket keys."""
    rows_per_band = n_hashes // bands
    return F.array(
        *[
            F.xxhash64(
                F.lit(b),
                F.concat_ws(",", *[
                    F.element_at(sig_col, b * rows_per_band + r + 1).cast("string")
                    for r in range(rows_per_band)
                ]),
            )
            for b in range(bands)
        ]
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    jaccard_threshold: float | None = 0.7,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b [, jaccard]) via MinHash LSH.

    Candidates = pairs sharing any LSH band bucket; when
    ``jaccard_threshold`` is set, candidates are verified with the exact
    shingle-set Jaccard (array_intersect/array_union) so LSH false positives
    are filtered and the output is exact w.r.t. the threshold (LSH only
    bounds recall, as in any production near-dup pipeline).
    """
    token_hashes = F.transform(tokens_col(F.col(text_col)), lambda t: F.xxhash64(t))
    mh = _shingle_minhash_udf(n_hashes, shingle_k)
    sh = df.select(
        F.col(id_col).alias("_id"), mh(token_hashes).alias("_mh")
    ).select(
        "_id",
        F.col("_mh.sig").alias("_sig"),
        F.col("_mh.shingle_hashes").alias("_shingles"),
    )
    # candidate generation and dedup on BARE IDS — never shuffle the (wide)
    # shingle arrays through the band join or the pair-dedup
    bands_df = sh.select(
        "_id",
        F.explode(lsh_bands(F.col("_sig"), n_hashes, bands)).alias("_band"),
    )
    pairs = (
        bands_df.select(F.col("_id").alias("id_a"), "_band")
        .join(bands_df.select(F.col("_id").alias("id_b"), "_band"), "_band")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    if jaccard_threshold is None:
        return pairs
    # exact verify on the (numeric) shingle-hash sets
    verified = (
        pairs.join(sh.select(F.col("_id").alias("id_a"),
                             F.col("_shingles").alias("_sh_a")), "id_a")
        .join(sh.select(F.col("_id").alias("id_b"),
                        F.col("_shingles").alias("_sh_b")), "id_b")
    )
    jac = F.size(F.array_intersect("_sh_a", "_sh_b")) / F.size(
        F.array_union("_sh_a", "_sh_b")
    )
    return (
        verified.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    threshold: float = 0.5,
    n_hashes: int = 32,
    bands: int = 16,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs, LSH-pruned for scale.

    More bands (16) than the minhash variant → higher recall at low
    thresholds; the exact verify keeps precision exact.
    """
    return minhash_lsh_pairs(
        df, id_col, text_col, n_hashes=n_hashes, bands=bands,
        shingle_k=shingle_k, jaccard_threshold=threshold,
    )


# ---------------------------------------------------------------- simhash

@pandas_udf(LongType())
def _simhash_from_hashes(token_hashes: pd.Series) -> pd.Series:
    """64-bit SimHash from per-token xxhash64 values (bit-majority vote).

    Token hashing stays JVM-side; this UDF only does the numpy bit counting
    (vectorized over the Arrow batch)."""
    out = np.zeros(len(token_hashes), dtype=np.int64)
    for i, hashes in enumerate(token_hashes):
        if hashes is None or len(hashes) == 0:
            continue
        h = np.asarray(hashes, dtype=np.int64).view(np.uint64)
        bits = (h[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)
        votes = bits.sum(axis=0) * 2 > len(h)
        out[i] = np.packbits(votes[::-1]).view(">u8")[0].astype(np.int64)
    return pd.Series(out)


def md5_token_hash(t: Column) -> Column:
    """60-bit token hash from the md5 hex prefix — reproducible in ANY SQL
    engine with md5() (DuckDB: CAST('0x'||substr(md5(t),1,15) AS BIGINT)),
    which is what makes the simhash query oracle-checkable end to end.
    xxhash64 stays the production default (a single JVM intrinsic vs
    md5 + string slice + base conversion); the signature/banding/verify
    logic is identical under either hash."""
    return F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")


def simhash_col(text_col: Column, token_hash=None) -> Column:
    fn = token_hash or (lambda t: F.xxhash64(t))
    token_hashes = F.transform(tokens_col(text_col), fn)
    return _simhash_from_hashes(token_hashes)


def hamming_neardup_pairs(
    df: DataFrame,
    id_col: str,
    sig_col: str,
    max_hamming: int = 3,
    n_bands: int | None = None,
) -> DataFrame:
    """Near-dup pairs over ANY precomputed 64-bit integer signature — the
    shared engine under SimHash text dedup and perceptual-hash media dedup
    (a real pipeline injects pHash/chromaprint from its decoder; the Spark
    surface is this banded self-join).

    Pigeonhole recall guarantee: the signature's 64 bits are split into
    ``n_bands`` (default ``max_hamming + 1``) disjoint bands that together
    cover every bit (the last band absorbs the remainder), so a pair at
    hamming <= max_hamming has at least one band with zero differing bits
    and is found by the banded equi-self-join. Candidates are verified with
    ``bit_count(a ^ b)`` — everything JVM-side; the join shuffles
    (id, sig, band, bucket) integers only, never payloads.
    """
    if n_bands is None:
        n_bands = max_hamming + 1
    if n_bands < max_hamming + 1:
        raise ValueError(
            f"n_bands={n_bands} < max_hamming+1={max_hamming + 1}: the "
            "pigeonhole recall guarantee needs at least max_hamming+1 bands"
        )
    width = 64 // n_bands
    sig = F.col(sig_col)

    def band_bucket(b: int):
        shifted = F.shiftrightunsigned(sig, width * b)
        if b == n_bands - 1:
            return shifted  # top band keeps all remaining high bits
        return shifted.bitwiseAND(F.lit((1 << width) - 1))

    banded = df.select(
        F.col(id_col).alias("_id"),
        sig.alias("_sig"),
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band"), band_bucket(b).alias("bucket"))
                for b in range(n_bands)
            ])
        ).alias("_b"),
    ).select("_id", "_sig", "_b.band", "_b.bucket")
    left = banded.select(
        F.col("_id").alias("id_a"), F.col("_sig").alias("_sig_a"), "band", "bucket"
    )
    right = banded.select(
        F.col("_id").alias("id_b"), F.col("_sig").alias("_sig_b"), "band", "bucket"
    )
    return (
        left.join(right, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "hamming", F.bit_count(F.col("_sig_a").bitwiseXOR(F.col("_sig_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .dropDuplicates(["id_a", "id_b"])
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    token_hash=None,
) -> DataFrame:
    """Near-dup pairs by SimHash: candidates share one of four 16-bit bands
    (pigeonhole: hamming<=3 ⇒ at least one of 4 bands identical), verified
    with bit_count(a^b) <= max_hamming — all JVM-side except the signature.
    The banding/verify engine is ``hamming_neardup_pairs``."""
    sigs = df.select(
        F.col(id_col).alias("_id"),
        simhash_col(F.col(text_col), token_hash=token_hash).alias("_sim"),
    )
    return hamming_neardup_pairs(sigs, "_id", "_sim", max_hamming, n_bands=4)


# ---------------------------------------------------------------- embeddings

def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    n_planes: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine >= threshold.

    LSH-bucketed (random-hyperplane signs) to avoid the full n² cross join;
    exact cosine verify on candidates. See operators/similarity.py for the
    hyperplane bucketing.
    """
    from bodhium_webscrapper_spark.operators.similarity import (
        cosine_similarity_col,
        hyperplane_bucket_udf,
    )

    dim = len(df.select(vec_col).first()[0])
    bucket = hyperplane_bucket_udf(dim, n_planes, seed)
    b = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        bucket(F.col(vec_col)).alias("_bucket"),
    )
    left = b.select(F.col("_id").alias("id_a"), F.col("_v").alias("_va"), "_bucket")
    right = b.select(F.col("_id").alias("id_b"), F.col("_v").alias("_vb"), "_bucket")
    return (
        left.join(right, "_bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", cosine_similarity_col(F.col("_va"), F.col("_vb")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
        .dropDuplicates(["id_a", "id_b"])
    )


# ---------------------------------------------------------------- winnowing

def _bind_once(col: Column, fn) -> Column:
    """Evaluate ``col`` exactly once and pass the result into ``fn`` as a
    bound lambda variable.

    Catalyst's CollapseProject inlines a projected expression into every
    consumer — inside a higher-order-function lambda that means the full
    expression is re-evaluated per element (an O(L)-cost gram array rebuilt
    for each of O(L) winnow windows → O(L²)). Wrapping the value in a
    1-element array and `transform`-ing over it makes the evaluation a
    runtime lambda binding the optimizer cannot inline through.
    """
    return F.element_at(F.transform(F.array(col), fn), 1)


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 20,
    window: int = 16,
    base: int = 257,
    prime: int = 1_000_000_007,
    parallelism: int | None = None,
    impl: str = "fast",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03).

    Rolling polynomial hash over character k-grams of the normalized text
    (Horner form, mod ``prime`` each step — bit-identical to the weighted
    dot-product-mod-p form any SQL engine can replay), then the winnowing
    selection: the minimum gram hash of every ``window`` consecutive grams,
    deduplicated per document. Documents shorter than ``k`` normalized chars
    yield no fingerprints; documents with fewer than ``window`` grams yield
    the single global-min fingerprint (the truncated-window rule).

    ``k`` defaults to 20 chars (MOSS-scale): short grams (e.g. 5 chars) are
    shared by nearly every document of a large corpus, so every selected
    fingerprint trips the hot-fingerprint cap and recall collapses —
    fingerprints must be long enough to be rare outside true near-dups.
    The winnowing guarantee then detects any shared run of at least
    k + window - 1 = 35 normalized characters.

    Two equal implementations behind ``impl``: "hof" is the pure-JVM
    higher-order-function expression (zero Python — the reference twin),
    "fast" (default) is the numpy/Arrow vectorized pass (``_winnow_np_udf``)
    that computes the identical integers ~10x faster (winnowing touches
    every char k times and every gram ``window`` times, which interpreted
    Catalyst expression trees pay per-op); both hash codepoints, so the
    twins agree on any text. Replaces the reference's single md5-of-whole-document
    fingerprint (``/root/reference/RDS/app.py:459-460``) with a local
    fingerprint set that survives partial edits.

    Returns one row per (id, fp): ``(id_col, fp: bigint)``.
    """
    def gram_hashes(t: Column) -> Column:
        horner = lambda i: F.aggregate(
            F.sequence(F.lit(0), F.lit(k - 1)),
            F.lit(0).cast("long"),
            lambda acc, j: (acc * base + F.ascii(F.substring(t, F.lit(0) + i + j, 1))) % prime,
        )
        return F.when(F.length(t) < k, F.array().cast("array<bigint>")).otherwise(
            F.transform(F.sequence(F.lit(1), F.length(t) - (k - 1)), horner)
        )

    def winnow(g: Column) -> Column:
        n_windows = F.greatest(F.size(g) - (window - 1), F.lit(1))
        return F.when(F.size(g) == 0, F.array().cast("array<bigint>")).otherwise(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), n_windows),
                    lambda i: F.array_min(F.slice(g, i, window)),
                )
            )
        )

    if impl == "fast":
        fps = _winnow_np_udf(k, window, base, prime)(
            normalized_text(F.col(text_col))
        )
    else:
        fps = _bind_once(
            normalized_text(F.col(text_col)),
            lambda t: _bind_once(gram_hashes(t), winnow),
        )
    # Fingerprinting is compute-bound (interpreted HOF eval, ~O(L*(k+window))
    # per doc); a small parquet input may arrive in 1-2 partitions and strand
    # the cores. `parallelism` round-robins rows first — at real corpus scale
    # the scan already has thousands of partitions and callers leave it None.
    if parallelism:
        df = df.repartition(parallelism)
    return (
        df.select(F.col(id_col), F.explode(fps).alias("fp"))
        .filter(F.col("fp").isNotNull())
        .dropDuplicates([id_col, "fp"])
    )


def _winnow_np_udf(k: int, window: int, base: int, prime: int):
    """numpy-vectorized winnowing over Arrow batches — the fast twin.

    Same arithmetic as the HOF expression in ``winnow_fingerprints`` (the
    weighted-dot-product-mod-p form equals Horner-with-mod exactly), but the
    per-character work runs as two strided numpy products instead of
    interpreted Catalyst expression trees — the same trade the MinHash
    operator makes with ``_shingle_minhash_udf`` (~10x there; larger here
    because winnowing touches every char k times and every gram w times).
    Equality with the HOF twin is pytest-asserted.
    """
    weights = np.array(
        [pow(base, k - 1 - j, prime) for j in range(k)], dtype=np.int64
    )

    @pandas_udf(ArrayType(LongType()))
    def fps(texts: pd.Series) -> pd.Series:
        from numpy.lib.stride_tricks import sliding_window_view

        out = []
        for t in texts:
            if t is None or len(t) < k:
                out.append(np.empty(0, dtype=np.int64))
                continue
            # utf-32-le decode = vectorized codepoints, so the fast twin
            # hashes the SAME integers as the HOF ascii()/oracle unicode()
            # path on any text, not just ASCII
            cp = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
            grams = sliding_window_view(cp, k) @ weights % prime
            if len(grams) <= window:
                sel = np.array([grams.min()], dtype=np.int64)
            else:
                sel = sliding_window_view(grams, window).min(axis=1)
            out.append(np.unique(sel))
        return pd.Series(out)

    return fps


def winnow_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 20,
    window: int = 16,
    min_shared: int = 3,
    hot_cap: int = 100,
    min_containment_pct: int = 0,
    parallelism: int | None = None,
    impl: str = "fast",
    cache_fingerprints: bool = True,
) -> DataFrame:
    """Near-duplicate candidate pairs by shared winnowing fingerprints.

    Scale shape: explode to (fp, id), count docs per fp, keep only fps seen
    in 2..``hot_cap`` documents (dropping singletons prunes the join input;
    dropping hot fps — the stop-shingle analogue — bounds per-key fan-out at
    C(hot_cap, 2), which is what keeps the self-join safe at 10^10 docs),
    then a bare-id self-join per fp and a pair-count aggregate. Every
    shuffle moves (bigint, bigint) rows keyed on fp or on the id pair —
    never text.

    Returns ``(id_a, id_b, shared_fps, n_a, n_b)`` where n_* are the docs'
    total distinct fingerprint counts (consumers derive containment /
    Jaccard from the three integers). ``min_containment_pct`` additionally
    requires ``100*shared_fps >= pct*least(n_a, n_b)`` — all-integer
    arithmetic, so any SQL oracle replays it bit-for-bit (no float
    threshold ambiguity). Note the containment denominator uses the full
    per-doc fingerprint counts, not the hot-capped ones.
    """
    fps = winnow_fingerprints(
        df, id_col, text_col, k=k, window=window, parallelism=parallelism,
        impl=impl,
    )
    if cache_fingerprints:
        # the plan consumes fps FOUR times (hot-cap counts, per-doc sizes,
        # and both sides of the self-join); uncached, that is four full
        # fingerprint passes over the corpus. MEMORY_AND_DISK: at 10^10
        # docs the fingerprint table is ~(8+8)B x L/window rows — spilling
        # beats recomputing the scan; the production-scale alternative is
        # materializing it as a table artifact once (the wave-loop
        # snapshot discipline). Left persisted: Spark LRU-evicts; callers
        # embedding this in a job can unpersist after the action.
        from pyspark import StorageLevel

        fps = fps.persist(StorageLevel.MEMORY_AND_DISK)
    sizes = fps.groupBy(id_col).agg(F.count(F.lit(1)).alias("_nfp"))
    keep = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("_ndocs"))
        .filter((F.col("_ndocs") >= 2) & (F.col("_ndocs") <= hot_cap))
        .select("fp")
    )
    kf = fps.join(keep, "fp", "left_semi")
    left = kf.select(F.col(id_col).alias("id_a"), "fp")
    right = kf.select(F.col(id_col).alias("id_b"), "fp")
    pairs = (
        left.join(right, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )
    out = (
        pairs.join(sizes.select(F.col(id_col).alias("id_a"), F.col("_nfp").alias("n_a")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"), F.col("_nfp").alias("n_b")), "id_b")
        .select("id_a", "id_b", "shared_fps", "n_a", "n_b")
    )
    if min_containment_pct > 0:
        out = out.filter(
            100 * F.col("shared_fps")
            >= min_containment_pct * F.least(F.col("n_a"), F.col("n_b"))
        )
    return out


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Collapse near-dup PAIRS into CLUSTERS and elect one canonical doc.

    Pair emitters (minhash_lsh_pairs, simhash_pairs, winnowing) produce an
    edge list; a cluster of k mirrored copies appears as up to C(k,2)
    edges. Keeping "the doc not in any pair" is wrong (every member of a
    cluster is in a pair); the correct curation step — what MinHash-dedup
    pipelines (e.g. Lee et al. 2022 §3.2) do — is connected components
    over the pair graph, then keep exactly one representative per
    component. Label = component-min id, so the choice is deterministic
    and independent of partitioning/round count (operators/graph.py).

    Returns one row per doc in ``docs``: (id_col, cluster, is_canonical).
    Docs in no pair form their own singleton cluster and are canonical.

    Scale: the pair graph is tiny relative to the corpus (only near-dup
    members appear), so the CC rounds run on edge data orders of magnitude
    smaller than ``docs``; the final label attach is one left join on the
    id, broadcastable whenever the dup set fits the broadcast threshold.
    """
    from bodhium_webscrapper_spark.operators.graph import connected_components

    comps = connected_components(pairs.select(id_a, id_b), src=id_a, dst=id_b)
    out = docs.select(id_col).join(
        comps.withColumnRenamed("id", id_col), id_col, "left"
    )
    cluster = F.coalesce(F.col("component"), F.col(id_col))
    return out.select(
        F.col(id_col),
        cluster.alias("cluster"),
        (cluster == F.col(id_col)).alias("is_canonical"),
    )
