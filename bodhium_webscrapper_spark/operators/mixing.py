"""Domain-mixture reweighting: turn a target source mix into deterministic
per-source keep rates and a reproducible per-document selection.

A 100 TB crawl is dominated by whatever the frontier happened to reach; a
training run wants a DECLARED mixture over sources/domains (the
data-mixing step in Gopher/LLaMA-style recipes — mixture weights are
policy, the engine surface here is the arithmetic that realizes them by
downsampling). Given per-source target shares, the max-data solution that
needs no upsampling keeps

    keep_frac_s = (t_s / c_s) / max_u (t_u / c_u)

— the source that is scarcest relative to its target keeps 100% and every
other source is thinned to hit the exact target ratios. All arithmetic is
INTEGER (parts-per-million with explicitly ordered floor divisions), so a
SQL oracle replays it with zero float ambiguity, and the per-document keep
decision is an md5-threshold on the doc id — a pure function of the data,
reproducible across runs, engines, partition counts, and cluster sizes
(the property rand()/TABLESAMPLE lack, and the same idiom as the engine's
stratified sampler).

Scale: one groupBy(source) aggregate (the number of sources is bounded —
thousands, not billions), a driver-free broadcast join of the keep rates
back onto documents, and a scan-speed md5 compare. No window, no sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

PPM = 1_000_000


def mixture_keep_rates(
    docs: DataFrame,
    targets: DataFrame,
    source_col: str = "source",
    target_col: str = "target_ppm",
) -> DataFrame:
    """Per-source integer keep rates realizing ``targets`` by downsampling.

    ``targets``: (source, target_ppm) — declared shares in parts-per-million
    (need not sum to exactly 1e6; only ratios matter). Sources present in
    the corpus but absent from ``targets`` get target 0 (dropped), the
    degenerate case of an excluded domain.

    Output per source (all int64):
      - ``n_docs``     — corpus count
      - ``target_ppm`` — the declared share
      - ``ratio_scaled``  — floor(target_ppm * PPM / n_docs): relative
        over/under-representation, the quantity whose max anchors the mix
      - ``keep_ppm``   — floor(ratio_scaled * PPM / max(ratio_scaled)):
        the realized per-source sampling rate in ppm
      - ``expect_kept``— floor(n_docs * keep_ppm / PPM): expected docs kept

    The max is taken with an unpartitioned ``max().over()`` — an
    all-partition aggregate over the SOURCE table (bounded rows), not the
    document table, so the single-partition window is over thousands of
    rows at any corpus size.
    """
    counts = docs.groupBy(source_col).agg(F.count(F.lit(1)).alias("n_docs"))
    rates = (
        counts.join(F.broadcast(targets), source_col, "left")
        .withColumn(target_col, F.coalesce(F.col(target_col), F.lit(0)).cast("long"))
        .withColumn(
            # `div`, not floor(a*b/c): Spark's `/` on longs is DOUBLE
            # division, and products past 2^53 round — the anchor source
            # (ratio_scaled == rmax) could floor to 999_999 instead of
            # PPM, silently dropping ~1/1e6 of the source that the
            # contract says keeps 100%. `div` is exact integer arithmetic.
            "ratio_scaled",
            F.expr(f"(`{target_col}` * {PPM}) div n_docs"),
        )
    )
    w = Window.partitionBy()  # bounded: one row per source
    rates = rates.withColumn("_rmax", F.max("ratio_scaled").over(w))
    # floor(ratio * PPM / rmax) in quotient/remainder form so the exact
    # integer path never overflows: ratio <= rmax by construction, so the
    # quotient is 0 or 1 (PPM for the anchor source, exactly) and the
    # remainder term's product is (ratio % rmax) * PPM < rmax * PPM —
    # in-range for every real mixture (targets up to ~9.2e12 "ppm");
    # past that ANSI mode fails loud instead of rounding silently.
    keep = F.when(
        F.col("_rmax") > 0,
        F.expr(
            f"(ratio_scaled div _rmax) * {PPM}"
            f" + ((ratio_scaled % _rmax) * {PPM}) div _rmax"
        ),
    ).otherwise(F.lit(0))
    rates = rates.withColumn("keep_ppm", keep.cast("long"))
    return rates.select(
        F.col(source_col),
        F.col("n_docs").cast("long"),
        F.col(target_col),
        F.col("ratio_scaled"),
        F.col("keep_ppm"),
        F.expr(f"(n_docs * keep_ppm) div {PPM}")
        .cast("long")
        .alias("expect_kept"),
    )


def mixture_select(
    docs: DataFrame,
    targets: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
    target_col: str = "target_ppm",
) -> DataFrame:
    """Documents kept under the realized mixture — deterministic md5 gate.

    A doc survives iff ``u32(md5(doc_id)[:8]) < floor(keep_ppm * 2^32 /
    PPM)``: the first 32 hash bits as a uniform draw against the source's
    rate. The keep set is a pure function of (doc ids, targets) — stable
    under re-runs and incremental rebuilds, so adding documents to one
    source never flips another source's survivors.

    The rates side is bounded (one row per source) → broadcast join;
    documents are scanned once, no shuffle at all on the doc table.
    """
    rates = mixture_keep_rates(docs, targets, source_col, target_col)
    # keep_ppm * 2^32 tops out at ~4.3e15 < 2^53 so double floor would be
    # exact here, but `div` keeps the whole module's arithmetic uniformly
    # integer (the keep_rates columns above require it for exactness)
    cutoff = F.expr(f"(keep_ppm * 4294967296) div {PPM}")
    draw = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10).cast(
        "long"
    )
    return (
        docs.join(F.broadcast(rates.select(source_col, "keep_ppm")), source_col)
        .filter(draw < cutoff)
        .select(F.col(id_col), F.col(source_col), F.col("keep_ppm"))
    )


def epoch_upsample(
    docs: DataFrame,
    epochs: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
    epoch_col: str = "epoch_ppm",
) -> DataFrame:
    """Multi-epoch source weighting: the UPSAMPLING half of a training mix
    (LLaMA-style recipes repeat high-quality sources ~2-3 epochs while the
    bulk crawl runs <1; ``mixture_select`` only thins, this repeats).

    ``epochs``: (source, epoch_ppm) — declared epochs per source in ppm
    (2_450_000 = 2.45 epochs). Every document gets ``epoch_ppm div PPM``
    whole copies, plus one more iff its md5 draw clears the fractional
    part: ``u32(md5(id)) < (epoch_ppm % PPM) * 2^32 div PPM``. Expected
    copies per source = exactly its epoch weight; the extra-copy set is a
    pure function of (doc ids, epochs) — stable across runs, engines,
    partitionings, and corpus growth in other sources (same md5-threshold
    idiom as ``mixture_select`` / the stratified sampler). Sources absent
    from ``epochs`` get 0 epochs and drop out (an excluded domain).

    Output: one manifest row per COPY — (id, source, n_copies, copy) with
    copy in [0, n_copies) — i.e. the repeated-document training order is
    (id, copy)-keyed so downstream packing stays deterministic.

    Scale: the epochs side is bounded (one row per source) → broadcast
    join; the doc table is scanned once with a JVM ``explode(sequence)``
    fan-out and never shuffled. Fan-out is the declared epoch count —
    bounded by policy, not data.
    """
    base = F.expr(f"{epoch_col} div {PPM}")
    cutoff = F.expr(f"(({epoch_col} % {PPM}) * 4294967296) div {PPM}")
    draw = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
    ).cast("long")
    n_copies = (base + (draw < cutoff).cast("long")).cast("long")
    return (
        docs.join(
            F.broadcast(epochs.select(source_col, epoch_col)), source_col
        )
        .select(
            F.col(id_col),
            F.col(source_col),
            n_copies.alias("n_copies"),
        )
        .filter(F.col("n_copies") > 0)
        .select(
            id_col,
            source_col,
            "n_copies",
            F.explode(F.sequence(F.lit(0), F.col("n_copies") - 1)).alias("copy"),
        )
    )


# ------------------------------------------------------------------ DSIR

def dsir_importance_weights(
    df: DataFrame,
    text_col: str,
    is_target_col: str,
    bucket_hex: int = 4,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): per hashed word-feature
    bucket, the target-vs-raw occurrence ratio that scores how much a raw
    document 'looks like' the curated target split. Features are DSIR's —
    unigrams AND bigrams, feature-hashed — via the engine's md5-prefix
    bucket (quality._feature_bucket contract: bit-identical across Spark /
    DuckDB / Python, table bounded at 16^bucket_hex rows by construction,
    hence broadcastable at ANY corpus size).

    Weight arithmetic is exact-integer, like every trained table in this
    engine: ``w_ppm = (target_occurrences * 1_000_000) div raw_occurrences``
    where raw = the whole corpus. The paper's log(p_target/p_raw) uses the
    two split totals as normalizers — both are per-corpus CONSTANTS, so
    dropping them rescales every document's score by the same factor and
    leaves the resampling ORDER (the thing DSIR consumes) unchanged; the
    integer ratio avoids last-ulp float/log divergence that would break the
    SQL-oracle hash gate. Bound: exact while target occurrences per bucket
    < 2^63/10^6 ≈ 9.2e12 — beyond any per-bucket count a 16^4-bucket table
    sees before the ratio saturates anyway.

    Plan: one linear token+bigram explode, one count aggregate keyed on the
    4-hex bucket (partial aggregation collapses each partition to <= 65 536
    rows before the shuffle — constant traffic regardless of corpus size).
    """
    from bodhium_webscrapper_spark.operators.quality import _feature_bucket

    grams = df.select(
        F.col(is_target_col).cast("boolean").alias("_is_t"),
        F.explode(_dsir_grams(F.col(text_col))).alias("_g"),
    )
    return (
        grams.groupBy(_feature_bucket(F.col("_g"), bucket_hex).alias("bucket"))
        .agg(
            F.sum(F.col("_is_t").cast("long")).alias("_t"),
            F.count(F.lit(1)).alias("_raw"),
        )
        .select("bucket", F.expr(f"_t * {PPM} div _raw").alias("w_ppm"))
    )


def _dsir_grams(text):
    """DSIR's feature set: word unigrams ++ space-joined word bigrams, built
    from ONE tokenization (the token array is bound once as a lambda
    variable — quality._bound_grams's O(L^2) CollapseProject trap applies
    here too)."""
    from bodhium_webscrapper_spark.operators.dedup import _bind_once
    from bodhium_webscrapper_spark.operators.quality import _word_tokens

    def build(toks):
        bigrams = F.when(
            F.size(toks) >= 2,
            F.zip_with(
                F.slice(toks, 1, F.size(toks) - 1),
                F.slice(toks, 2, F.size(toks) - 1),
                lambda a, b: F.concat_ws(" ", a, b),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return F.concat(toks, bigrams)

    return _bind_once(_word_tokens(text), build)


def dsir_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    weights: DataFrame,
    bucket_hex: int = 4,
) -> DataFrame:
    """Score every document with its mean per-feature importance evidence
    (``sum(w_ppm) div n_grams`` — integer ppm). One linear gram explode, a
    BROADCAST join against the vocabulary-bounded weight table, one per-doc
    aggregate; the only shuffle is keyed on ``id_col``. Gram-less documents
    return n_grams=0 / NULL score (they carry no evidence either way)."""
    from bodhium_webscrapper_spark.operators.quality import _feature_bucket

    grams = df.select(
        F.col(id_col), F.explode(_dsir_grams(F.col(text_col))).alias("_g")
    ).select(id_col, _feature_bucket(F.col("_g"), bucket_hex).alias("bucket"))
    per_doc = (
        grams.join(F.broadcast(weights), "bucket")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("w_ppm").alias("_sum_w"),
        )
        .select(
            id_col,
            "n_grams",
            F.expr("_sum_w div n_grams").alias("score_ppm"),
        )
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_grams"), F.lit(0)).cast("long").alias("n_grams"),
            F.col("score_ppm").cast("long").alias("score_ppm"),
        )
    )


def dsir_select(
    scored: DataFrame,
    k: int,
    id_col: str = "doc_id",
    score_col: str = "score_ppm",
) -> DataFrame:
    """DSIR's selection step, deterministic variant: keep the top-``k``
    documents by importance score (the paper resamples with Gumbel noise
    proportional to the weights; the noise-free top-k is its reproducible
    engine surface — seeded noise would be policy layered on top). Ties
    break on the id, so the kept SET is a pure function of the corpus.

    Small k compiles to TakeOrderedAndProject (per-partition top-k,
    driver merges partitions x k rows) via politeness.global_ordered_cap.
    Above 10^6 the cap's distributed-threshold path takes over; ppm scores
    are high-cardinality, so it first narrows them with score histograms
    (one min/max and one histogram agg per round) before its level walk."""
    from bodhium_webscrapper_spark.operators.politeness import (
        global_ordered_cap,
    )

    return global_ordered_cap(
        scored.filter(F.col(score_col).isNotNull()),
        k,
        priority_col=score_col,
        key_col=id_col,
    )
