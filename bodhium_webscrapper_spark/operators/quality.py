"""Webtext quality-filter suite for 100 TB corpus curation.

The reference keeps only two quality gates — a blank-content guard and a
10-word extraction threshold (``/root/reference/app.py:498-516``, crawl4ai
``word_count_threshold``). A production training-data pipeline layers the
published filter families on top; this module implements them Spark-first:

- Gopher/MassiveText repetition signals (Rae et al. 2021, appendix A1.1):
  duplicate-line fraction, duplicate-line character fraction, and
  top-n-gram character coverage.
- C4-style heuristics (Raffel et al. 2020): terminal-punctuation line
  fraction, sentence count, lorem-ipsum / curly-brace flags, word count.
- Exact substring duplicate spans (Lee et al. 2022, "Deduplicating
  Training Data Makes Language Models Better"): maximal cross-document
  duplicated word-k-gram spans per document, via a gram-hash index and a
  gaps-and-islands interval merge — never a pair join, so the plan is
  linear in corpus size.

Scale notes: every aggregation shuffles on (doc, 8-byte hash) or (hash)
alone — line/gram text never crosses the wire. All outputs are integers or
booleans (fractions are left as numerator/denominator pairs) so SQL oracles
replay them with zero float ambiguity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bodhium_webscrapper_spark.operators.dedup import _bind_once, normalized_text


# ------------------------------------------------------------ gram builder

def _bound_grams(text_col: Column, n: int, elem, empty_type: str) -> Column:
    """Word-n-gram array with the token array bound ONCE as a lambda
    variable (dedup._bind_once). ``elem(i, toks)`` builds each element from
    the 0-based start index. Referencing the raw split() expression inside
    the per-index lambda would let CollapseProject inline it — the document
    re-tokenized per gram, O(L²) per doc (measured 6× wall on the sf0.1
    gram explode); the bound variable is evaluated once per row."""

    def build(toks: Column) -> Column:
        return F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - n),
                lambda i: elem(i, toks),
            ),
        ).otherwise(F.array().cast(empty_type))

    return _bind_once(F.split(normalized_text(text_col), " "), build)


# ---------------------------------------------------------------- gopher

def gopher_repetition_signals(
    df: DataFrame,
    id_col: str,
    text_col: str,
    line_sep: str = "\n",
    ngram_ns: tuple[int, ...] = (2, 3),
) -> DataFrame:
    """Per-document repetition signals (Gopher appendix A1.1), all-integer.

    Output columns per document:
      - ``total_chars``   — characters across all lines (sum of line lengths)
      - ``n_lines``       — line count
      - ``dup_lines``     — occurrences beyond the first of each repeated line
      - ``dup_line_chars``— characters in those beyond-first occurrences
      - ``top{n}_count``  — occurrences of the most frequent word n-gram
      - ``top{n}_cover``  — max over n-grams of occurrences x gram length
                            (chars covered by the busiest single n-gram)

    The two top-gram maxima are taken independently — no tie-break on the
    gram identity is needed, which keeps the aggregate deterministic while
    shuffling only ``(doc, xxhash64(gram))`` pairs. Consumers derive the
    published fractions (dup_line_chars/total_chars, top2_cover/total_chars)
    and threshold them; the thresholds from the paper are policy, the
    signals here are the engine surface.
    """
    lines = df.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), line_sep)).alias("_line"),
    ).select(
        id_col,
        F.xxhash64(F.col("_line")).alias("_lh"),
        F.length(F.col("_line")).alias("_llen"),
    )
    per_line = lines.groupBy(id_col, "_lh").agg(
        F.count(F.lit(1)).alias("_c"), F.first("_llen").alias("_len")
    )
    line_stats = per_line.groupBy(id_col).agg(
        F.sum(F.col("_c") * F.col("_len")).alias("total_chars"),
        F.sum("_c").alias("n_lines"),
        F.sum(F.col("_c") - 1).alias("dup_lines"),
        F.sum((F.col("_c") - 1) * F.col("_len")).alias("dup_line_chars"),
    )

    out = line_stats
    for n in ngram_ns:
        grams_col = _bound_grams(
            F.col(text_col),
            n,
            lambda i, tk, _n=n: F.concat_ws(" ", F.slice(tk, i + 1, _n)),
            "array<string>",
        )
        grams = df.select(
            F.col(id_col), F.explode(grams_col).alias("_g")
        ).select(
            id_col,
            F.xxhash64(F.col("_g")).alias("_gh"),
            F.length(F.col("_g")).alias("_glen"),
        )
        top = (
            grams.groupBy(id_col, "_gh")
            .agg(F.count(F.lit(1)).alias("_c"), F.first("_glen").alias("_len"))
            .groupBy(id_col)
            .agg(
                F.max("_c").alias(f"top{n}_count"),
                F.max(F.col("_c") * F.col("_len")).alias(f"top{n}_cover"),
            )
        )
        out = out.join(top, id_col, "left")
    fill = {f"top{n}_count": 0 for n in ngram_ns} | {f"top{n}_cover": 0 for n in ngram_ns}
    return out.fillna(fill)


# ---------------------------------------------------------------- c4

def c4_signals(
    text: Column,
    min_words: int = 5,
    line_sep: str = "\n",
) -> dict[str, Column]:
    """C4-style per-document heuristics as pure JVM column expressions.

    Returns named columns: ``n_words``, ``n_lines``, ``n_terminal_lines``
    (lines ending in . ! or ?), ``n_sentences`` (non-blank [.!?] splits),
    ``has_lorem`` / ``has_curly`` flags, and a combined ``c4_keep`` rule
    (>= min_words, >= 1 sentence, no lorem ipsum, no curly braces) — the
    classic C4 policy, expressed over the signals so callers can rethreshold.
    """
    lines = F.split(text, line_sep)
    n_terminal = F.size(F.filter(lines, lambda l: l.rlike(r"[.!?]$")))
    n_sentences = F.size(
        F.filter(F.split(text, r"[.!?]"), lambda s: F.length(F.trim(s)) > 0)
    )
    n_words = F.size(F.split(normalized_text(text), " "))
    has_lorem = F.lower(text).contains("lorem ipsum")
    has_curly = text.contains("{")
    return {
        "n_words": n_words.cast("long"),
        "n_lines": F.size(lines).cast("long"),
        "n_terminal_lines": n_terminal.cast("long"),
        "n_sentences": n_sentences.cast("long"),
        "has_lorem": has_lorem,
        "has_curly": has_curly,
        "c4_keep": (
            (n_words >= min_words)
            & (n_sentences >= 1)
            & ~has_lorem
            & ~has_curly
        ),
    }


# ---------------------------------------------------------------- spans

def duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    min_docs: int = 2,
    cache_occurrences: bool = False,
) -> DataFrame:
    """Maximal cross-document duplicated word-k-gram spans per document.

    The exact-substring-dedup primitive (Lee et al. 2022) re-expressed
    relationally: index every word k-gram start, keep grams occurring in
    >= ``min_docs`` distinct documents, and merge each document's surviving
    [i, i+k) start intervals into maximal spans with a gaps-and-islands
    window (two spans merge iff the next start is <= previous start + k,
    i.e. their coverage is contiguous). Word-unit arithmetic keeps every
    quantity an exact integer.

    Plan shape — linear, no pair join anywhere: one shuffle keyed on
    (gram-hash, doc) for the distinct-doc count, one left-semi back onto the
    occurrence list, one per-document window. At 10^10 documents the gram
    index is the same shuffle a MinHash band pass pays, and the span merge
    is partition-local after the doc repartition.

    Returns ``(id, n_words, n_spans, dup_words)`` for documents with at
    least one duplicated span; ``dup_words`` counts word positions covered
    by any duplicated gram.

    ``cache_occurrences=False`` (default) recomputes the exploded
    gram-occurrence table for each of its two consumers (dup-gram census,
    semi-join probe side) instead of persisting it. Measured both ways on
    the 200k-doc amplified corpus: persisting LOST 2.8x at local[16] —
    materializing ~100M exploded rows into the block store costs more than
    the second pipelined tokenize+explode scan, which stays inside one
    WholeStageCodegen span and feeds the census's map-side partial agg
    without ever materializing. (The opposite trade from winnow_pairs,
    whose fingerprint table is ~500x smaller than its scan and is consumed
    FOUR times.) The flag remains for corpora whose tokenize cost dwarfs
    gram volume, e.g. very long documents with tiny k. When set, the
    persisted occurrence table is exposed as ``occurrence_cache`` on the
    returned DataFrame — callers MUST ``out.occurrence_cache.unpersist()``
    after their action, or each call pins a gram-scale table in the block
    store for the life of the session.
    """
    toks = F.split(normalized_text(F.col(text_col)), " ")
    grams_col = _bound_grams(
        F.col(text_col),
        k,
        lambda i, tk: F.struct(
            (i + 1).alias("i"),
            F.xxhash64(F.concat_ws(" ", F.slice(tk, i + 1, k))).alias("gh"),
        ),
        "array<struct<i:int,gh:bigint>>",
    )
    occ = df.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_words"),
        F.explode(grams_col).alias("_g"),
    ).select(id_col, "n_words", F.col("_g.i").alias("i"), F.col("_g.gh").alias("gh"))
    if cache_occurrences:
        occ = occ.persist()

    dup_grams = (
        occ.select("gh", id_col)
        .dropDuplicates(["gh", id_col])
        .groupBy("gh")
        .agg(F.count(F.lit(1)).alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("gh")
    )
    hits = occ.join(dup_grams, "gh", "left_semi")

    w = Window.partitionBy(id_col).orderBy("i")
    spans = (
        hits.withColumn("_prev", F.lag("i").over(w))
        .withColumn(
            "_new",
            F.when(
                F.col("_prev").isNull() | (F.col("i") - F.col("_prev") > k), 1
            ).otherwise(0),
        )
        .withColumn(
            "_span",
            F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy(id_col, "_span")
        .agg(
            F.first("n_words").alias("n_words"),
            F.min("i").alias("_start"),
            (F.max("i") + k).alias("_end"),
        )
    )
    out = spans.groupBy(id_col).agg(
        F.first("n_words").alias("n_words"),
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("_end") - F.col("_start")).cast("long").alias("dup_words"),
    )
    if cache_occurrences:
        # hand the persisted handle to the caller for release — a persist
        # with no reachable handle would pin ~gram-count rows in the block
        # store until the session dies
        out.occurrence_cache = occ
    return out


# ---------------------------------------------------------------- decontam

def decontaminate(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    bench_text_col: str = "text",
    k: int = 8,
    min_hit_pct: int = 70,
) -> DataFrame:
    """Benchmark n-gram decontamination (GPT-3 appendix C / PaLM §7):
    flag every training document whose word-k-gram overlap with an
    evaluation corpus exceeds ``min_hit_pct`` percent of its own grams.
    The reference has no notion of eval-set hygiene (it crawls and stores
    raw pages, ``/root/reference/app.py:498-516``); at training-corpus
    scale this gate is mandatory before any split is trusted.

    Plan shape — asymmetric by construction: the benchmark side (eval
    sets are 10^4..10^6 grams) collapses to DISTINCT 8-byte gram hashes
    and BROADCASTS; the corpus side explodes grams once and aggregates
    per document in a single (id) shuffle with map-side combine. Gram
    text never crosses the wire, there is no pair join, and the corpus
    pass is linear — the same scan cost as the Gopher/C4 signal pass.

    Returns ``(id, n_grams, hit_grams, contaminated)``, all integers +
    boolean (float-free value hash). ``hit_grams`` counts gram POSITIONS
    whose gram occurs anywhere in the benchmark, so the all-integer
    threshold ``100*hit >= pct*n`` is exact; documents shorter than
    ``k`` words have ``n_grams = 0`` and are never contaminated.
    """
    def hashed_grams(col: Column) -> Column:
        return _bound_grams(
            col,
            k,
            lambda i, tk: F.xxhash64(F.concat_ws(" ", F.slice(tk, i + 1, k))),
            "array<bigint>",
        )

    grams_col = hashed_grams(F.col(text_col))
    bench_grams = (
        bench.select(F.explode(hashed_grams(F.col(bench_text_col))).alias("gh"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )

    doc_grams = docs.select(
        F.col(id_col), F.explode_outer(grams_col).alias("gh")
    )
    marked = doc_grams.join(F.broadcast(bench_grams), "gh", "left")
    return marked.groupBy(id_col).agg(
        F.count("gh").alias("n_grams"),
        F.count("_hit").alias("hit_grams"),
    ).select(
        id_col,
        "n_grams",
        "hit_grams",
        (
            (F.col("n_grams") > 0)
            & (F.col("hit_grams") * 100 >= F.lit(min_hit_pct) * F.col("n_grams"))
        ).alias("contaminated"),
    )


# ---------------------------------------------------------------- line dedup


def line_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_docs: int = 2,
    sep: str = "\n",
) -> DataFrame:
    """Cross-document duplicate-line removal (the RefinedWeb/CCNet
    boilerplate pass): a line that appears in >= ``min_docs`` DISTINCT
    documents is removed from every document it appears in (cookie
    banners, nav menus, subscribe prompts — the lines that repeat across
    a host's pages verbatim). Within-document repeats of an otherwise
    unique line survive: repetition inside one page is the Gopher
    signals' business (gopher_repetition_signals), not boilerplate.
    Blank and whitespace-only lines are structural separators and are
    never counted or removed — paragraph breaks survive the pass.

    The reference has no corpus-level view at all — each Lambda sees one
    page (``/root/reference/app.py:497-538``) — so its extracted markdown
    keeps every banner; this is the batch-engine capability that per-URL
    architectures structurally lack.

    Plan shape, linear like duplicate_spans: line text crosses the wire
    only inside the per-doc reassembly shuffle (unavoidable — the output
    IS text); the duplicate-line census and the removal anti-join move
    8-byte xxhash64 keys. Per-doc reassembly is one aggregate of
    struct(pos, line) arrays — no window, no second pass. 64-bit
    collision risk (an innocent line sharing a hash with boilerplate) is
    the same accepted trade as duplicate_spans' gram index.

    Returns one row per input document:
      ``(id, n_lines, n_dup_lines, text)`` — ``text`` with duplicated
      lines removed (empty string when nothing survives), original line
      order preserved.
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "line"),
    ).withColumn("lh", F.xxhash64("line"))
    # Structural blanks are exempt from the census: F.split yields ''
    # segments for consecutive separators (paragraph breaks, trailing
    # newline), and whitespace-only lines are separators too — both would
    # otherwise share one corpus-wide hash, get flagged the moment
    # min_docs documents contain any blank line, and the anti-join would
    # strip ALL paragraph structure from every document. No boilerplate
    # pass (RefinedWeb/CCNet) removes blank lines; only content repeats.
    dup = (
        lines.filter(F.trim(F.col("line")) != "")
        .select("lh", id_col)
        .dropDuplicates(["lh", id_col])
        .groupBy("lh")
        .agg(F.count(F.lit(1)).alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("lh")
    )
    kept = lines.join(dup, "lh", "left_anti")
    kept_agg = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("_n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            sep,
        ).alias("_text"),
    )
    base = df.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), sep)).cast("long").alias("n_lines"),
    )
    return base.join(kept_agg, id_col, "left").select(
        id_col,
        "n_lines",
        (F.col("n_lines") - F.coalesce(F.col("_n_kept"), F.lit(0)))
        .cast("long")
        .alias("n_dup_lines"),
        F.coalesce(F.col("_text"), F.lit("")).alias("text"),
    )


# ---------------------------------------------------------------- soft 404

# Error-page phrases (lowercased match). Deliberately phrase-level — a bare
# "404" hits part numbers and prices all over real webtext.
SOFT404_MARKER_RE = (
    r"(page not found|error 404|404 not found|could not be found"
    r"|no longer available|does not exist|the requested url)"
)


def soft404_signals(
    text: Column,
    max_words: int = 50,
) -> dict[str, Column]:
    """Soft-404 detection signals as pure JVM column expressions.

    A soft 404 is an error page served with HTTP 200 — the fetch loop
    can't see it in the status code, so the corpus keeps it unless a
    content-level gate fires. The reference has no such gate (crawl4ai
    extracts whatever the browser rendered, ``/root/reference/app.py:
    497-516``); at Common-Crawl scale a few percent of pages are soft
    errors and they are near-duplicates of each other per host, polluting
    both the dedup index and the training mix.

    Returns ``has_error_marker`` (phrase match), ``n_words``, and
    ``is_soft404`` = marker AND short (< ``max_words``) — long editorial
    pages that merely *mention* an error phrase survive. Signals are
    split out so callers can rethreshold, same contract as c4_signals.
    """
    n_words = F.size(F.split(normalized_text(text), " "))
    has_marker = F.lower(text).rlike(SOFT404_MARKER_RE)
    return {
        "n_words": n_words.cast("long"),
        "has_error_marker": has_marker,
        "is_soft404": has_marker & (n_words < max_words),
    }


# ------------------------------------------------------- char-gram familiarity


def char_ngram_familiarity(
    df: DataFrame,
    id_col: str,
    text_col: str,
    rare_threshold: int = 50,
) -> DataFrame:
    """Corpus-trained character-bigram familiarity — the LM-free stand-in
    for CCNet-style perplexity bucketing (Wenzek et al. 2020): instead of
    scoring against an external KenLM, score each document against the
    corpus's OWN char-bigram statistics. Fluent text is built from the
    corpus's common letter pairs; mojibake, gibberish, and wrong-charset
    docs contain pairs the corpus has barely seen.

    All-integer outputs per document (exact under any execution order, so
    the SQL oracle replays them bit-identically — the same contract as
    gopher/c4): ``n_grams`` (bigram instances), ``min_count`` (corpus
    count of the doc's rarest bigram; NULL when the doc has none), and
    ``n_rare`` (instances whose corpus count < ``rare_threshold``).
    Callers threshold ``n_rare/n_grams`` for a keep rule.

    Plan: one linear gram explode, one count aggregate whose result is
    vocabulary-sized (<= |charset|^2 — thousands of rows at ANY corpus
    size, hence broadcast back), one per-doc aggregate. No pair joins, no
    per-row Python; the only shuffle keyed wider than 8 bytes is the
    2-char gram count.
    """
    grams_arr = _bind_once(
        normalized_text(F.col(text_col)),
        lambda t: F.when(
            F.length(t) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.length(t) - 1),
                lambda i: t.substr(i, F.lit(2)),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    grams = df.select(F.col(id_col), F.explode(grams_arr).alias("gram"))
    counts = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("c"))
    per_doc = (
        grams.join(F.broadcast(counts), "gram")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.min("c").alias("min_count"),
            F.sum((F.col("c") < rare_threshold).cast("long")).alias("n_rare"),
        )
    )
    base = df.select(id_col)
    return base.join(per_doc, id_col, "left").select(
        id_col,
        F.coalesce(F.col("n_grams"), F.lit(0)).cast("long").alias("n_grams"),
        F.col("min_count").cast("long").alias("min_count"),
        F.coalesce(F.col("n_rare"), F.lit(0)).cast("long").alias("n_rare"),
    )


# ------------------------------------------------- model-based quality

def _word_tokens(text: Column) -> Column:
    """Word tokenization shared by the classifier's train and score passes
    (same contract as the tf-idf query): lowercase, non-alphanumeric runs
    collapse to a single separator, empty tokens dropped."""
    return F.filter(
        F.split(F.regexp_replace(F.lower(text), "[^a-z0-9]+", " "), " "),
        lambda x: x != "",
    )


def _feature_bucket(term: Column, bucket_hex: int) -> Column:
    """Feature-hash a token to one of 16^bucket_hex buckets via an md5
    prefix. md5 (unlike xxhash64) is bit-identical across Spark, DuckDB,
    and Python, so SQL oracles replay the hash; the prefix keeps the
    weight table bounded by construction — the property that makes the
    score-side join broadcastable at ANY corpus size."""
    return F.substring(F.md5(term), 1, bucket_hex)


def train_token_weights(
    df: DataFrame,
    text_col: str,
    label_col: str,
    bucket_hex: int = 4,
) -> DataFrame:
    """Train a hashed bag-of-words quality classifier — the DCLM/FineWeb-Edu
    model-filter stage (Li et al. 2024; Penedo et al. 2024) with the
    fastText model replaced by its Spark-native integer core: per
    feature-hash bucket, the ppm-scaled probability that a token occurrence
    came from the reference (label-true) split.

    ``P(ref | bucket)`` in exact integer arithmetic:
    ``w_ppm = (pos_occurrences * 1_000_000) div total_occurrences`` — no
    floats, so training is bit-deterministic under any partitioning and an
    SQL oracle retrains the identical table.

    Plan: one linear token explode + one count aggregate keyed on the
    4-hex-char bucket (partial aggregation collapses each partition to
    <= 65 536 rows before the shuffle — constant traffic regardless of
    corpus size). Returns ``(bucket, w_ppm)``, 65 536 rows max: broadcast
    it. At 100 TB, train on a stratified sample (q_stratified_sample) —
    weights converge long before the full corpus; the scoring pass below
    is the part that must see every row.
    """
    tok = df.select(
        F.col(label_col).cast("boolean").alias("_is_ref"),
        F.explode(_word_tokens(F.col(text_col))).alias("_term"),
    )
    return (
        tok.groupBy(_feature_bucket(F.col("_term"), bucket_hex).alias("bucket"))
        .agg(
            F.sum(F.col("_is_ref").cast("long")).alias("_pos"),
            F.count(F.lit(1)).alias("_tot"),
        )
        .select("bucket", F.expr("_pos * 1000000 div _tot").alias("w_ppm"))
    )


def score_quality_classifier(
    df: DataFrame,
    id_col: str,
    text_col: str,
    weights: DataFrame,
    bucket_hex: int = 4,
) -> DataFrame:
    """Score every document against trained token weights: mean per-token
    reference evidence, ppm-scaled integer (``sum(w_ppm) div n_tokens``).
    Callers threshold ``score_ppm`` against the corpus prior (e.g. keep
    docs scoring above the positive-class base rate), exactly how DCLM
    consumes its fastText scores.

    Plan: one linear token explode, one BROADCAST join against the
    vocabulary-bounded weight table (never a shuffle of the token stream
    on the bucket key), one per-doc aggregate — the only shuffle is keyed
    on ``id_col``. Unseen buckets contribute nothing (inner join): when
    weights were trained on the corpus itself every bucket is present;
    when trained on a sample, absent buckets are rare-token noise the
    fastText analogue also effectively ignores. Token-less documents
    come back with ``n_tokens = 0`` and NULL ``score_ppm``.
    """
    tok = df.select(
        F.col(id_col),
        F.explode(_word_tokens(F.col(text_col))).alias("_term"),
    ).select(
        id_col, _feature_bucket(F.col("_term"), bucket_hex).alias("bucket")
    )
    per_doc = (
        tok.join(F.broadcast(weights), "bucket")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("w_ppm").alias("_sum_w"),
        )
        .select(
            id_col,
            "n_tokens",
            F.expr("_sum_w div n_tokens").alias("score_ppm"),
        )
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long").alias("n_tokens"),
            F.col("score_ppm").cast("long").alias("score_ppm"),
        )
    )


# ------------------------------------------------------- phrase census

def common_phrases(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    k: int = 20,
    min_docs: int = 2,
    gram_hash=None,
) -> DataFrame:
    """Corpus-wide boilerplate-phrase census: the ``k`` word-``n``-grams
    shared by the most documents (cookie banners, nav chrome, footer
    legalese — the phrases a CCNet-style cleaning pass should learn FROM
    the corpus rather than hard-code).

    Two-phase so gram TEXT never rides the big shuffle:

    1. census — per-doc distinct grams (JVM HOF shingles) are hashed at the
       explode, so the distinct/count aggregate shuffles (doc, hash) int64
       pairs only; map-side combine bounds it by distinct grams per
       partition. Top-k by (n_docs DESC, hash ASC) compiles to
       TakeOrderedAndProject — per-partition top-k then a k×partitions
       driver merge, the RIGHT shape for small k (unlike a 10^7-row global
       cap; cf. politeness.global_ordered_cap).
    2. recovery — one more linear gram scan, filtered by the broadcast of
       the k winning hashes BEFORE any shuffle, recovers each winner's text
       as ``min(gram)`` (hash↔text is 1:1 up to 64-bit collisions, which
       both engines merge identically).

    ``gram_hash``: injectable like dedup.md5_token_hash — xxhash64 default,
    md5-60-bit twin for SQL-oracle replay.

    Output: (phrase, n_docs), n_docs DESC then phrase ASC.
    """
    from bodhium_webscrapper_spark.operators.dedup import distinct_shingles_col

    fn = gram_hash or (lambda g: F.xxhash64(g))
    grams = df.select(
        F.col(id_col).alias("_doc"),
        F.explode(distinct_shingles_col(F.col(text_col), n)).alias("_g"),
    )
    census = (
        grams.select(fn(F.col("_g")).alias("_h"))
        .groupBy("_h")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )
    top = census.orderBy(F.col("n_docs").desc(), F.col("_h").asc()).limit(k)
    return (
        grams.withColumn("_h", fn(F.col("_g")))
        .join(F.broadcast(top), "_h")
        .groupBy("_h", "n_docs")
        .agg(F.min("_g").alias("phrase"))
        .select("phrase", F.col("n_docs").cast("long"))
        .orderBy(F.col("n_docs").desc(), F.col("phrase").asc())
    )


# ------------------------------------------------- gopher quality rules

#: The Gopher rule's required-stopword lexicon (Rae et al. 2021, A1.2):
#: a document must contain at least two of these to pass.
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def bpe_pair_census(
    df: DataFrame,
    text_col: str = "text",
    k: int = 20,
) -> DataFrame:
    """First-iteration BPE merge census: the ``k`` most frequent ADJACENT
    CHARACTER PAIRS inside words, weighted by corpus word frequency — the
    exact statistic byte-pair-encoding tokenizer training maximizes at its
    first merge step (Sennrich et al. 2016). Training a tokenizer on the
    crawl's own corpus is a standard pipeline stage; its dominant cost at
    100 TB is this census, not the (driver-sized, iterative) merge loop
    that follows — so the census is the engine surface.

    Two-phase so the character-level explode runs over the VOCABULARY,
    never the corpus:

    1. word census — one linear token explode, ``groupBy(word)``; map-side
       partial combine collapses each partition to its distinct words, so
       the shuffle is bounded by vocabulary size (Heaps' law: ~10^7 words
       at web scale), not token count (~10^13).
    2. pair census — each DISTINCT word explodes its ``len-1`` adjacent
       pairs (JVM ``sequence`` + ``substr``; a 60-char word costs 59 rows
       once, no matter how many billion times it occurs), weighted by the
       word count; one bounded ``groupBy(pair)`` (≤ alphabet², partial
       combine makes the shuffle tiny) and a deterministic small-k
       TakeOrdered (count DESC, pair ASC).

    Tokens are the classifier/tf-idf word contract (``_word_tokens``:
    lowercase, non-alphanumeric runs → separator), so pairs never span a
    word boundary — BPE's "don't merge across words" rule.
    Output: (pair string, pair_count int64), ordered.
    """
    words = df.select(F.explode(_word_tokens(F.col(text_col))).alias("w"))
    vocab = words.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    pairs = (
        vocab.filter(F.length("w") >= 2)
        .select(
            "n",
            "w",
            F.explode(F.sequence(F.lit(1), F.length("w") - 1)).alias("i"),
        )
        .select("n", F.col("w").substr(F.col("i"), F.lit(2)).alias("pair"))
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("n").cast("long").alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), F.col("pair"))
        .limit(int(k))
    )


def gopher_quality_signals(
    text: Column,
    line_sep: str = "\n",
    min_words: int = 50,
    max_words: int = 100_000,
    min_stopwords: int = 2,
) -> dict[str, Column]:
    """Gopher/MassiveText *quality* rules (Rae et al. 2021, appendix A1.2
    — the non-repetition half; `gopher_repetition_signals` covers A1.1) as
    pure per-row JVM column expressions: ZERO shuffle, whole-stage codegen,
    linear in corpus size — the ideal 100 TB shape (the reference's only
    analogue is the 10-word crawl4ai threshold, /root/reference/app.py:504).

    All-integer signals so an SQL oracle replays them exactly (fractions
    stay as numerator/denominator pairs; the published ratio thresholds
    become cross-multiplied integer comparisons in ``gopher_keep``):

      - ``n_words``         — whitespace-normalized token count
      - ``mwl_c100``        — mean word length in centichars
                              (sum(len(word))*100 div n_words)
      - ``symbol_hits``     — '#' chars + '...' runs + Unicode ellipses
      - ``n_lines``         — line count
      - ``bullet_lines``    — lines starting with a bullet (-, *, or the
                              Unicode bullet) after optional indent
      - ``ellipsis_lines``  — lines ending in '...' or the Unicode ellipsis
      - ``alpha_words``     — words containing at least one [a-z]
      - ``stopword_hits``   — DISTINCT required stopwords present (0-8)
      - ``gopher_keep``     — the paper's thresholds combined:
                              50 <= n_words <= 100000, 3 <= mean wl <= 10,
                              symbols/words <= 0.1, bullet lines <= 90%,
                              ellipsis lines <= 30%, alpha words >= 80%,
                              stopword_hits >= 2.

    The thresholds are the paper's policy; the signals are the engine
    surface — callers rethreshold freely (cf. c4_signals's contract). The
    two rules that bind hardest on non-prose corpora are parameterized
    (``min_words``/``max_words``/``min_stopwords``, defaults = the paper).
    """
    toks = _word_tokens(text)
    n_words = F.size(toks)
    word_chars = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    alpha_words = F.size(F.filter(toks, lambda x: x.rlike("[a-z]")))
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(toks),
            F.array(*[F.lit(w) for w in GOPHER_STOPWORDS]),
        )
    )
    hash_hits = F.length(text) - F.length(F.regexp_replace(text, "#", ""))
    dots3 = (
        F.length(text) - F.length(F.regexp_replace(text, r"\.\.\.", ""))
    ) / 3
    uni_ell = F.length(text) - F.length(F.regexp_replace(text, "…", ""))
    symbol_hits = (hash_hits + dots3 + uni_ell).cast("long")
    lines = F.split(text, line_sep)
    n_lines = F.size(lines)
    bullet_lines = F.size(
        F.filter(lines, lambda l: l.rlike(r"^\s*([-*•])"))
    )
    ellipsis_lines = F.size(
        F.filter(lines, lambda l: l.rlike(r"(\.\.\.|…)\s*$"))
    )
    # integer mean word length in centichars; NULL for token-less docs.
    # floor(double div) is exact while word_chars*100 < 2^53 — i.e. any
    # document under ~90 TB of text, so per-doc it is integer-exact and
    # matches the oracle's `//`.
    mwl_c100 = (
        F.when(n_words > 0, F.floor((word_chars * 100) / n_words))
        .otherwise(F.lit(None))
        .cast("long")
    )
    keep = (
        (n_words >= min_words)
        & (n_words <= max_words)
        & (mwl_c100 >= 300)
        & (mwl_c100 <= 1000)
        & (symbol_hits * 10 <= n_words)
        & (bullet_lines * 10 <= n_lines * 9)
        & (ellipsis_lines * 10 <= n_lines * 3)
        & (alpha_words * 10 >= n_words * 8)
        & (stop_hits >= min_stopwords)
    )
    return {
        "n_words": n_words.cast("long"),
        "mwl_c100": mwl_c100,
        "symbol_hits": symbol_hits,
        "n_lines": n_lines.cast("long"),
        "bullet_lines": bullet_lines.cast("long"),
        "ellipsis_lines": ellipsis_lines.cast("long"),
        "alpha_words": alpha_words.cast("long"),
        "stopword_hits": stop_hits.cast("long"),
        "gopher_keep": F.coalesce(keep, F.lit(False)),
    }


# ------------------------------------------------- ccnet buckets

def ccnet_buckets(
    df: DataFrame,
    id_col: str,
    lang_col: str,
    score_col: str,
) -> DataFrame:
    """CCNet head/middle/tail bucketing (Wenzek et al. 2020): within each
    language, split documents into fluency terciles — CCNet's signature
    move, where 'head' feeds the highest-quality training mix. ``score_col``
    is any ascending badness score (lower = more fluent); pair with
    ``char_ngram_familiarity``'s ``n_rare``-per-gram as the LM-free
    perplexity stand-in.

    Exact terciles via ``ntile(3)`` over a per-language window with a
    deterministic total order (score asc NULLS LAST, id asc) — bit-stable
    across partitionings, so the SQL oracle replays it. The per-language
    window is one sort partition per language, so a language with 10^9+
    docs is one sort task; no job or query here runs at that size.

    Output: (id, lang, score, bucket) with bucket in head|middle|tail.
    """
    w = Window.partitionBy(lang_col).orderBy(
        F.col(score_col).asc_nulls_last(), F.col(id_col).asc()
    )
    tile = F.ntile(3).over(w)
    return df.select(
        F.col(id_col),
        F.col(lang_col),
        F.col(score_col),
        F.when(tile == 1, F.lit("head"))
        .when(tile == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )
