"""Link-authority frontier prioritization: fixed-point integer PageRank.

The reference schedules fetches purely by discovery order and source
priority (``/root/reference/app.py:340-374``); a web-scale frontier
additionally ranks candidates by link authority so high-value pages are
fetched first (the classic Brin/Page crawl-ordering application). This
module computes PageRank over the crawl link table (J3) Spark-first.

Why fixed-point integers: floating-point PageRank is NOT reproducible on a
cluster — the per-target contribution sum's order depends on shuffle
nondeterminism, so two identical runs (or a run and its resume) disagree in
the low bits, and low-bit disagreement flips rank ORDER for near-tied pages,
which then flips crawl order — violating the engine's deterministic-replay
contract. Scaling ranks by 10^6 and using truncating integer division makes
every quantity an exact integer; integer addition is associative, so any
shuffle order produces bit-identical ranks (and any SQL engine replays them
exactly — this is what makes the query oracle-checkable).

Scale notes: each iteration is one equi-join of the rank table onto the
edge table keyed on ``src`` plus one groupBy on ``dst`` — partial aggregates
(map-side combine) bound the shuffle by the node count, not the edge count.
Callers at 10^10 edges should pre-repartition ``edges`` by ``src`` ONCE and
persist; the rank table is small (node count) and alternates src/dst
keying inherently. Beyond ~10 iterations, ``localCheckpoint`` the rank
DataFrame every few rounds to cut plan lineage. Dangling nodes (no
out-edges) keep their damped base rank; their mass is not redistributed —
the original simplified formulation, applied identically in the oracle.
Parallel edges are multigraph edges: each contributes separately.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank_fixed_point(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = 1_000_000,
    checkpoint_every: int = 0,
) -> DataFrame:
    """PageRank in scaled-integer arithmetic; returns ``(id, rank)``.

    rank_0(v) = scale for every node; per iteration
    ``rank'(v) = scale*(den-num)//den + (num * sum_{u->v} rank(u) div out(u)) // den``
    with truncating integer division throughout. ``rank`` stays a bigint in
    roughly [scale*(den-num)//den, scale*N]; relative order converges like
    standard PageRank while every intermediate is exact.
    """
    nodes = (
        edges.select(F.col(src).alias("id"))
        .union(edges.select(F.col(dst).alias("id")))
        .distinct()
    )
    outdeg = edges.groupBy(F.col(src).alias("id")).agg(
        F.count(F.lit(1)).alias("out")
    )
    base = (scale * (damping_den - damping_num)) // damping_den

    ranks = nodes.select("id", F.lit(scale).cast("long").alias("rank"))
    for it in range(iterations):
        contribs = (
            edges.select(F.col(src).alias("id"), F.col(dst).alias("_dst"))
            .join(ranks, "id")
            .join(outdeg, "id")
            .select(
                F.col("_dst").alias("id"),
                F.expr("rank div out").alias("_c"),
            )
            .groupBy("id")
            .agg(F.sum("_c").alias("_s"))
        )
        ranks = nodes.join(contribs, "id", "left").select(
            "id",
            (
                F.lit(base)
                + F.expr(f"({damping_num} * coalesce(_s, 0L)) div {damping_den}")
            ).cast("long").alias("rank"),
        )
        if checkpoint_every and (it + 1) % checkpoint_every == 0:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks


def hits_fixed_point(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 2,
    scale: int = 1_000_000,
    checkpoint_every: int = 0,
) -> DataFrame:
    """HITS hubs/authorities (Kleinberg 1999) in scaled-integer arithmetic;
    returns ``(id, hub, auth)``.

    PageRank ranks a page by who links TO it; HITS additionally scores who
    it links OUT to — a crawl frontier wants both: authorities are the
    pages worth fetching, hubs (directories, sitemap-like index pages) are
    the pages worth RE-fetching because their outlink lists refresh the
    frontier. The reference's seed pages are exactly hand-picked hubs
    (category/listing pages, ``/root/reference/app.py`` seed branch); this
    scores that property from the link table instead of trusting the
    seed list.

    Same determinism stance as :func:`pagerank_fixed_point`: floats make
    the mutual-reinforcement sums shuffle-order dependent, so every
    quantity here is an exact bigint. Instead of the classical L2
    normalization (sqrt → irrational), each half-step max-normalizes:
    ``v' = v div greatest((max_v + scale - 1) div scale, 1)`` — the ceiling
    divisor keeps every score in ``[0, scale]`` (a floor divisor lets
    ``scale < max_v < 2*scale`` through undivided) with ≤1e-6 relative
    truncation per step at the default scale — rank ORDER is
    what crawl scheduling consumes and truncating a shared positive
    divisor is order-preserving. The max is computed in-plan (a 1-row agg
    cross-joined back, same shape as the IVF codebook), so the whole thing
    stays one lazy DataFrame: no driver action, no collect.

    Scale notes (10^10 edges): each iteration is two edge-table equi-joins
    (on src then dst) + two node-bounded groupBy sums — partial aggregates
    bound the shuffle by node count. Pre-repartition ``edges`` by ``src``
    once and persist; the score tables are node-sized. The 1-row max agg
    is a full pass over the node-sized score table, not the edge table.
    Dangling/unreferenced nodes score 0 on the missing side (left join,
    coalesce) exactly as in the oracle twin.
    """
    nodes = (
        edges.select(F.col(src).alias("id"))
        .union(edges.select(F.col(dst).alias("id")))
        .distinct()
    )
    e = edges.select(F.col(src).alias("_src"), F.col(dst).alias("_dst"))

    def _max_normalized(raw: DataFrame, col: str) -> DataFrame:
        mx = raw.agg(F.max(col).alias("_mx"))
        return (
            nodes.join(raw, "id", "left")
            .crossJoin(F.broadcast(mx))
            .select(
                "id",
                F.expr(
                    f"coalesce({col}, 0L) div "
                    f"greatest((_mx + {scale - 1}L) div {scale}, 1L)"
                ).cast("long").alias(col),
            )
        )

    hubs = nodes.select("id", F.lit(scale).cast("long").alias("hub"))
    auths = nodes.select("id", F.lit(0).cast("long").alias("auth"))
    for it in range(iterations):
        auth_raw = (
            e.join(hubs.withColumnRenamed("id", "_src"), "_src")
            .groupBy(F.col("_dst").alias("id"))
            .agg(F.sum("hub").alias("auth"))
        )
        auths = _max_normalized(auth_raw, "auth")
        hub_raw = (
            e.join(auths.withColumnRenamed("id", "_dst"), "_dst")
            .groupBy(F.col("_src").alias("id"))
            .agg(F.sum("auth").alias("hub"))
        )
        hubs = _max_normalized(hub_raw, "hub")
        if checkpoint_every and (it + 1) % checkpoint_every == 0:
            hubs = hubs.localCheckpoint(eager=False)
            auths = auths.localCheckpoint(eager=False)
    return nodes.join(hubs, "id").join(auths, "id").select("id", "hub", "auth")
