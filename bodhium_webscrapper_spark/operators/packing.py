"""Training-sequence packing: concat-and-chunk documents into fixed-length
model sequences — the last batch-prep stage of an LLM data pipeline.

The curated corpus (what the reference's pipeline would hand to training,
``/root/reference/app.py:577-589`` stops at markdown files) is a bag of
variable-length documents; the trainer consumes fixed ``seq_len``-token
rows. GPT-style packing concatenates every document in one deterministic
global order and slices the stream into consecutive ``seq_len`` windows, so
each document occupies the half-open token interval ``[g, g+n)`` of the
virtual stream, where ``g`` is the exclusive prefix sum of token counts in
that order. The operator emits one row per (document × overlapped
sequence): which slice of the document lands where in which sequence.

Scale design — the naive form is a global cumulative-sum window
(``SUM() OVER (ORDER BY ...)``), which Spark plans as a SINGLE-PARTITION
WindowExec: a guaranteed driver-sized straggler at 10^10 documents. This
implementation is the textbook two-phase distributed scan instead:

1. range-partition + sort by the (unique) order key — one exchange, the
   same shape any global orderBy pays, every partition stays bounded;
2. per-partition token totals via one tiny aggregate (ONE row per
   partition travels to the driver — KB at any corpus size) → exclusive
   partition offsets;
3. one Arrow ``mapInPandas`` pass adds partition offset + running
   within-partition cumsum (vectorized ``numpy.cumsum`` per batch, a
   scalar carried across batches) — no second shuffle, no window;
4. the (doc → sequences) fan-out is pure JVM: ``explode(sequence(...))``
   plus integer arithmetic, whole-stage codegen.

The packed layout is a pure function of the data (order key is unique →
total order; prefix sums don't depend on where partition boundaries fall),
so re-runs, different partition counts, and different cluster sizes emit
bit-identical packings — the property that makes checkpoint-resume of a
training-data build auditable. Verified against a windowed-SQL oracle and
by invariant tests (token conservation, exact-full sequences, determinism
under repartition) in tests/test_packing.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def doc_token_offsets(
    docs: DataFrame,
    id_col: str = "doc_id",
    ntok_col: str = "n_tokens",
    num_partitions: int | None = None,
    id_type: str = "long",
) -> DataFrame:
    """Exclusive prefix sum of ``ntok_col`` over the total order of
    ``id_col`` — each doc's global start offset ``g_off`` in the virtual
    concatenated token stream — WITHOUT a single-partition window.

    Returns (id_col, ntok_col, g_off). ``id_type`` is the id column's DDL
    type for the Arrow pass's output schema (any orderable type works —
    ``repartitionByRange`` only needs an ordering; pass e.g. ``"string"``
    for SURT keys). The input projection is persisted
    for the duration of the two phases (the partition-totals action and the
    main pass must see the same partition layout); the cache is released by
    the mapInPandas pass's last consumer going out of scope or an explicit
    ``spark.catalog.clearCache()`` — at 10^10 rows it is a narrow
    (id, int64) projection, MEMORY_AND_DISK.
    """
    import numpy as np
    from pyspark import StorageLevel

    spark = docs.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    sorted_docs = (
        docs.select(F.col(id_col), F.col(ntok_col).cast("long").alias(ntok_col))
        .repartitionByRange(num_partitions, F.col(id_col))
        .sortWithinPartitions(id_col)
        .withColumn("_pid", F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # phase 1: ONE row per partition to the driver (bounded by the partition
    # count, never the data), ordered by the partitions' key ranges
    totals = (
        sorted_docs.groupBy("_pid")
        .agg(F.sum(ntok_col).alias("_tok"), F.min(id_col).alias("_lo"))
        .collect()
    )
    totals.sort(key=lambda r: (r["_lo"] is None, r["_lo"]))
    offsets: dict[int, int] = {}
    acc = 0
    for r in totals:
        offsets[r["_pid"]] = acc
        acc += r["_tok"] or 0

    out_schema = f"{id_col} {id_type}, {ntok_col} long, g_off long"

    def add_offsets(iterator):
        # one partition = one iterator invocation; the running total carries
        # across Arrow batches so batch size never changes the result
        run = None
        for pdf in iterator:
            if run is None:
                run = offsets.get(int(pdf["_pid"].iloc[0]), 0) if len(pdf) else 0
            n = pdf[ntok_col].to_numpy(dtype="int64", na_value=0)
            g = run + np.concatenate(([0], np.cumsum(n)[:-1]))
            run += int(n.sum())
            yield pdf.assign(g_off=g)[[id_col, ntok_col, "g_off"]]

    return sorted_docs.mapInPandas(add_offsets, out_schema)


def pack_sequences(
    docs: DataFrame,
    seq_len: int,
    id_col: str = "doc_id",
    ntok_col: str = "n_tokens",
    num_partitions: int | None = None,
) -> DataFrame:
    """Concat-and-chunk packing manifest: one row per (document × training
    sequence it overlaps).

    Output (all int64):
      - ``seq_id``    — which fixed-length sequence (token interval
                        ``[seq_id*seq_len, (seq_id+1)*seq_len)``)
      - ``doc_id``    — the contributing document
      - ``tok_start`` / ``tok_end`` — the half-open token slice OF THE DOC
      - ``seq_pos``   — where that slice starts WITHIN the sequence

    Invariants (pytest-asserted): slices of a doc partition its tokens;
    every sequence is exactly ``seq_len`` tokens except the last; a doc
    shorter than the remaining room shares its sequence with neighbors
    (packing, not padding). Zero-token docs emit nothing.

    The fan-out stays JVM-side: a doc spanning k sequences explodes a
    k-element ``sequence()`` — bounded by ceil(n/seq_len)+1, so a giant
    document cannot blow a task (its rows land in adjacent seq_ids).
    """
    if seq_len <= 0:
        raise ValueError(f"seq_len must be positive, got {seq_len}")
    off = doc_token_offsets(docs, id_col, ntok_col, num_partitions)
    L = F.lit(int(seq_len))
    g, n = F.col("g_off"), F.col(ntok_col)
    first_seq = F.floor(g / L)
    last_seq = F.floor((g + n - F.lit(1)) / L)
    seq_lo = F.col("seq_id") * L  # sequence's global token start
    return (
        off.filter(n > 0)
        .select(
            F.col(id_col),
            g,
            n,
            F.explode(F.sequence(first_seq, last_seq)).alias("seq_id"),
        )
        .select(
            F.col("seq_id").cast("long"),
            F.col(id_col),
            F.greatest(F.lit(0), seq_lo - g).cast("long").alias("tok_start"),
            F.least(n, seq_lo + L - g).cast("long").alias("tok_end"),
            F.greatest(F.lit(0), g - seq_lo).cast("long").alias("seq_pos"),
        )
    )


def chunk_documents(
    docs: DataFrame,
    chunk_size: int,
    stride: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document sliding-window token chunking — the OTHER standard
    long-document split (``pack_sequences`` concatenates ACROSS documents;
    retrieval indexing / context-window fitting wants windows WITHIN one,
    with overlap so no boundary-straddling span is lost).

    Windows start at ``k*stride`` (``stride`` defaults to ``chunk_size`` =
    disjoint chunks; ``stride < chunk_size`` overlaps) and run
    ``chunk_size`` tokens, clipped at the document end; the last window is
    the first one whose span reaches the final token, so every token is
    covered exactly once per pass and no degenerate empty tail is emitted.
    Tokens are the engine's whitespace contract (textstats.token_count:
    trim + split on ``\\s+``). Zero-token docs emit nothing.

    Output per (doc × chunk): ``chunk_id`` (0-based), ``tok_start`` /
    ``tok_end`` (half-open token slice), ``chunk_text`` (space-rejoined).

    Scale: zero shuffle — one linear scan, all-JVM higher-order functions.
    The token array is bound ONCE per row as a lambda variable
    (dedup._bind_once), then the full chunk-struct array is built inside
    that binding and exploded: Catalyst's CollapseProject cannot inline
    the split() into per-chunk re-evaluation (the O(L^2) trap the HOF
    n-gram builders document). Arithmetic uses floor(a/b) on doubles —
    exact below 2^53, i.e. for any token count that fits in a row.
    """
    if chunk_size <= 0:
        raise ValueError(f"chunk_size must be positive, got {chunk_size}")
    stride = chunk_size if stride is None else stride
    if not 0 < stride <= chunk_size:
        raise ValueError(f"need 0 < stride <= chunk_size, got {stride}")

    from bodhium_webscrapper_spark.operators.dedup import _bind_once

    size_l, stride_l = F.lit(int(chunk_size)), F.lit(int(stride))
    t = F.trim(F.col(text_col))
    tokens = F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )

    def build(toks):
        n = F.size(toks)
        last_k = F.when(n <= size_l, F.lit(0)).otherwise(
            F.floor((n - size_l + stride_l - F.lit(1)) / stride_l)
        )
        def one(k):
            start = k * stride_l
            end = F.least(n, start + size_l)
            return F.struct(
                k.cast("long").alias("chunk_id"),
                start.cast("long").alias("tok_start"),
                end.cast("long").alias("tok_end"),
                F.array_join(F.slice(toks, start + F.lit(1), end - start), " ").alias(
                    "chunk_text"
                ),
            )
        return F.when(n > 0, F.transform(F.sequence(F.lit(0), last_k), one)).otherwise(
            F.array().cast(
                "array<struct<chunk_id:bigint,tok_start:bigint,"
                "tok_end:bigint,chunk_text:string>>"
            )
        )

    return (
        docs.select(F.col(id_col), F.explode(_bind_once(tokens, build)).alias("_c"))
        .select(id_col, "_c.chunk_id", "_c.tok_start", "_c.tok_end", "_c.chunk_text")
    )


def compaction_plan(
    files: DataFrame,
    id_col: str = "file_id",
    bytes_col: str = "bytes",
    target_bytes: int = 256 * 1024 * 1024,
    num_partitions: int | None = None,
) -> DataFrame:
    """Small-files compaction planner: assign every file to a rewrite
    group of ≈``target_bytes`` — the maintenance pass a long-running crawl
    NEEDS (each wave writes wave-sized parquet files; after 10^4 waves the
    pages/extracted tables are millions of KB-scale files and scan
    planning, not scanning, dominates; Iceberg/Delta ship the same
    ``binpack`` strategy as table services).

    Plan semantics: files are taken in ``id_col`` order and a file joins
    the group its exclusive cumulative start offset falls in
    (``g_off div target_bytes``) — sorted first-fit, every group within
    one file of the target, deterministic and engine-replayable (no
    driver-side greedy loop over a collect'd listing, which is how these
    planners are usually written and exactly what breaks at 10^8 files).
    The prefix sum is :func:`doc_token_offsets`' two-phase distributed
    scan — per-partition totals to the driver (bounded by partition
    count), one Arrow cumsum pass, NO single-partition window.

    Returns ``(id_col, bytes_col, grp)``; the caller's rewrite job groups
    by ``grp`` and coalesces each group into one output file.
    """
    if target_bytes <= 0:  # before doc_token_offsets runs its jobs
        raise ValueError("target_bytes must be positive")
    offs = doc_token_offsets(
        files.select(id_col, bytes_col),
        id_col=id_col,
        ntok_col=bytes_col,
        num_partitions=num_partitions,
    )
    return offs.select(
        id_col,
        bytes_col,
        F.expr(f"g_off div {int(target_bytes)}L").cast("long").alias("grp"),
    )


def shard_boundaries(
    keys: DataFrame,
    key_col: str = "key",
    n_shards: int = 8,
    id_type: str = "string",
) -> DataFrame:
    """EXACT range-partition split points over a key column: the
    ``n_shards - 1`` keys at global 0-based ranks ``floor(i * n /
    n_shards)`` of the DISTINCT sorted key set — the layout planner for a
    SURT-sorted index (each shard = one contiguous, min-max-prunable key
    range) or any range-bucketed sink.

    Spark's own ``repartitionByRange`` samples (RangePartitioner), so its
    boundaries drift with partition layout and sampling seed — fine for
    load balancing, wrong for a PUBLISHED index layout that must be
    reproducible across runs and engines (resuming a half-built index
    against re-sampled boundaries rewrites every shard). This computes the
    exact order statistics with NO single-partition window: global ranks
    come from :func:`doc_token_offsets`' two-phase distributed scan with
    unit weights (rank = exclusive count of preceding keys), and the only
    driver-side value is ``n`` (one scalar off the rank pass's partition
    totals — control-plane, same class as the IVF codebook).

    Returns ``(shard, boundary_key)``, ``shard`` = 1..n_shards-1; shard
    ``i-1`` covers keys < its boundary (first shard from -inf, last to
    +inf). With fewer distinct keys than shards, duplicate rank targets
    collapse and rank-0 targets are dropped (a split at the minimum key
    would only manufacture an empty first shard) — callers get
    min(n-1, n_shards-1) usable split points.
    """
    if n_shards < 2:
        raise ValueError("n_shards must be >= 2")
    distinct = keys.select(F.col(key_col).alias("key")).distinct()
    ranks = doc_token_offsets(
        distinct.withColumn("_w", F.lit(1)),
        id_col="key",
        ntok_col="_w",
        id_type=id_type,
    )
    # n: one scalar action over the rank pass (the pass is cached by
    # doc_token_offsets' persist, so this does not recompute the shuffle)
    n = int(ranks.agg(F.max("g_off").alias("m")).first()["m"] or 0) + 1
    targets = sorted({i * n // n_shards for i in range(1, n_shards)} - {0})
    shard_of = {}
    for i in range(1, n_shards):
        if i * n // n_shards > 0:
            shard_of.setdefault(i * n // n_shards, i)
    spark = keys.sparkSession
    tgt = spark.createDataFrame(
        [(shard_of[t], t) for t in targets], "shard int, g_off long"
    )
    return (
        ranks.join(F.broadcast(tgt), "g_off")
        .select("shard", F.col("key").alias("boundary_key"))
        .orderBy("shard")
    )
