"""Per-host politeness budget — skew-proof top-k per host.

Reference analogue: the global ``MAX_URLS=100`` cap and the 1 s inter-URL
sleep (``/root/reference/app.py:303,973-974``) — one global queue, one host
at a time. The engine's politeness is a *per-host* budget per scheduling
wave: at most ``budget`` URLs per host, highest priority first.

Skew: a mega-host (20% of the frontier in the fixture) would make the naive
``row_number() over (partition by host)`` window a straggler — AQE fixes
join skew but not window skew. We use salted two-phase top-k:

  phase 1: row_number over (host, salt) — salt = xxhash64(url_hash, C) % S —
           keeps at most ``budget`` rows per (host, salt) cell, so the
           mega-host's partition work is spread over S cells;
  phase 2: exact row_number over host on the pre-filtered set, whose size is
           bounded by budget*S per host — no straggler possible.

Result is exactly the global per-host top-k because any row in the true
top-k is also in the top-k of its salt cell. Ordering (priority desc,
url_hash) is a pure function of the data → deterministic scheduling.

Note (Spark ≥3.5/4): for CONSTANT budgets at or below
``spark.sql.optimizer.windowGroupLimitThreshold`` (default 1000) the
optimizer already pushes a map-side window-group-limit, which bounds the
straggler much like salting's phase 1. Salting remains the load-bearing
defense in exactly the regimes that pushdown does not cover — budgets above
the threshold (real crawls schedule 10^4-10^5 URLs/host/wave) and per-host
``budget_col`` caps (non-constant limit, no pushdown) — verified by the
wall-clock skew test (tests/test_politeness.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

SALT_SEED = 0x5A17


def per_host_budget(
    df: DataFrame,
    budget: int,
    host_col: str = "host",
    order_by: list[Column] | None = None,
    salt_buckets: int = 16,
    rank_col: str | None = None,
    budget_col: str | None = None,
    count_split: bool = False,
) -> DataFrame:
    """Keep the top ``budget`` rows per host under a deterministic order.

    ``budget_col``: optional per-row column holding a host-specific budget
    (≤ ``budget``, e.g. reduced by crawl-delay); ``budget`` stays the global
    upper bound so the salted phase-1 prefilter remains a superset.

    ``count_split`` (exact): rows of hosts whose TOTAL count is within
    their budget pass through untouched — no exchange, no sort — and only
    over-budget hosts enter the window. The per-host counts are one hash
    aggregation (map-side combine shrinks it to ~|hosts| rows) whose
    over-budget survivors broadcast back as a semi-join filter. On a Zipf
    frontier nearly all HOSTS are under budget, and at large budgets nearly
    all ROWS are too, so the sort — the politeness stage's dominant,
    hardest-to-scale cost (row_number windows sort every row of the wave) —
    shrinks to the head of the distribution. Exactness does not depend on
    the counts being tight: any superset of the truly-over hosts routes
    extra hosts through the window, where a cap ≥ count is a no-op filter.
    Ignored when ``rank_col`` is requested (every row then needs its rank,
    so every row must be sorted anyway). OFF by default because ``df`` is
    consumed three times (counts, semi, anti): callers at scale — the wave
    loop above its salt-activation threshold — persist ``df`` first; for
    small inputs the extra aggregation is pure overhead.
    """
    order = order_by or [F.col("priority").desc(), F.col("url_hash").asc()]
    cap = F.least(F.lit(budget), F.col(budget_col)) if budget_col else F.lit(budget)
    out = df
    passthrough = None
    if count_split and rank_col is None:
        per_host_cap = (
            F.min(cap).alias("_cap") if budget_col else F.lit(budget).alias("_cap")
        )
        # Key the counts agg (and the broadcast probe) on xxhash64(host) —
        # 8 B/row through the count shuffle instead of the host string.
        # Exactness is preserved by the same superset argument as the
        # counts themselves: a 64-bit collision (or the NULL group, which
        # hashes to the seed constant alongside any host that collides
        # with it) only MERGES count groups, and a merged count ≥ each
        # member's count while a merged min-cap ≤ each member's cap — so
        # collisions can only route EXTRA hosts through the window, where
        # the exact per-host row_number (keyed on the real host string)
        # caps each one independently and a cap ≥ count is a no-op.
        # NULL hosts need no special casing here: xxhash64 is never null,
        # so an over-budget NULL group matches the semi-join like any
        # other host (the round-4 eqNullSafe fix, now by construction).
        hkey = F.xxhash64(F.col(host_col))
        over = (
            df.groupBy(hkey.alias("_hk"))
            .agg(F.count(F.lit(1)).alias("_n"), per_host_cap)
            .filter(F.col("_n") > F.col("_cap"))
            .select("_hk")
        )
        cond = hkey == F.col("_hk")
        passthrough = out.join(F.broadcast(over), cond, "left_anti")
        out = out.join(F.broadcast(over), cond, "left_semi")
    if salt_buckets > 1:
        salt = F.pmod(F.xxhash64(F.col("url_hash"), F.lit(SALT_SEED)), F.lit(salt_buckets))
        w1 = Window.partitionBy(F.col(host_col), F.col("_salt")).orderBy(*order)
        out = (
            out.withColumn("_salt", salt)
            .withColumn("_rn1", F.row_number().over(w1))
            .filter(F.col("_rn1") <= budget)
            .drop("_salt", "_rn1")
        )
    w2 = Window.partitionBy(host_col).orderBy(*order)
    out = out.withColumn("_rn", F.row_number().over(w2)).filter(F.col("_rn") <= cap)
    if budget_col:
        out = out.drop(budget_col)
    if rank_col:
        return out.withColumnRenamed("_rn", rank_col)
    out = out.drop("_rn")
    if passthrough is not None:
        if budget_col:
            passthrough = passthrough.drop(budget_col)
        out = out.unionByName(passthrough)
    return out


# global_ordered_cap: a level table with more distinct priorities than
# _MAX_LEVELS is first narrowed with histograms of at most _BINS bins
_MAX_LEVELS = 100_000
_BINS = 4096


def global_ordered_cap(
    df: DataFrame,
    k: int,
    takeordered_threshold: int = 1_000_000,
    priority_col: str = "priority",
    key_col: str = "url_hash",
) -> DataFrame:
    """W2: keep the global top-``k`` rows under the crawl order
    (priority DESC NULLS LAST, url_hash ASC) — the wave's
    ``global_wave_limit``.

    Small ``k`` (≤ ``takeordered_threshold``): ``orderBy().limit(k)``, which
    Spark compiles to TakeOrderedAndProject — per-partition top-k map-side,
    one driver merge of ``partitions × k`` rows; the right plan exactly while
    k is small. A 10^7 cap on a 10^8-row wave would funnel the whole wave
    through that single-partition merge, so above the threshold the cap is
    computed as a THRESHOLD instead and applied as a pure distributed filter
    — no global sort, no single-partition stage, exact and deterministic:

      0. while the rows still in play hold more than 100k distinct
         priorities (not a decay-structured frontier): a histogram of
         ``priority`` over at most 4096 order-preserving bins, NULLs last
         (one hash agg, after a min/max agg) → boundary bin and the rows
         still needed from it; higher bins are kept, lower ones dropped.
         The bin's lowest and highest priorities land in different bins of
         the next histogram, so every round narrows the range;
      1. per-priority-level counts (one hash agg; priorities are decay
         powers, so the level table is tiny) → boundary level p* and the
         number r of rows still needed from it;
      2. a 4096-bin histogram of ``url_hash``'s top bits within level p*
         (one hash agg; shiftright preserves signed order) → boundary bin
         b* and the rank r' needed inside it;
      3. the r'-th smallest url_hash inside bin b* (TakeOrdered over
         ~|level|/4096 rows — thousands, not the wave) → boundary hash h*;
      4. keep rows with priority > p*, or priority = p* and url_hash ≤ h*.

    Exactness relies on ``key_col`` being unique per row — true post-dedup
    in the wave loop (A1 guarantees one row per url_hash); with duplicate
    keys the boundary tie would overshoot by the tie count — and, in step
    0, on finite priorities (bins are computed on their double value).
    Adds 2-3 small driver actions (3 more per step-0 round) — only on waves
    big enough to carry a >10^6 cap, where they are noise against the
    wave's work. Deterministic: a pure function of the data (same set
    orderBy().limit(k) selects; artifact row order is irrelevant — the
    crawl-order contract is the sort key itself, W2)."""
    p, key = F.col(priority_col), F.col(key_col)
    if k <= takeordered_threshold:
        return df.orderBy(p.desc(), key.asc()).limit(k)
    # rows kept outright, the rows still in play, and how many of those
    # the cap still takes
    kept, scope, r = F.lit(False), F.lit(True), k
    while True:
        in_play = df.filter(scope)
        levels = (
            in_play.groupBy(priority_col)
            .agg(F.count(F.lit(1)).alias("_n"))
            .limit(_MAX_LEVELS + 1)
            .collect()
        )
        if len(levels) <= _MAX_LEVELS:
            break
        narrowed = _boundary_priority_bin(in_play, p, r)
        if narrowed is None:  # fewer than r rows in play
            return df.filter(kept | scope)
        above, at, before = narrowed
        kept, scope, r = kept | (scope & above), scope & at, r - before
    levels.sort(key=lambda row: (row[priority_col] is None, -(row[priority_col] or 0.0)))
    total = sum(row["_n"] for row in levels)
    if total <= r:
        return df.filter(kept | scope)
    cum = 0
    for row in levels:
        if cum + row["_n"] >= r:
            p_star, r = row[priority_col], r - cum
            break
        cum += row["_n"]
    at_level = scope & (p.isNull() if p_star is None else p == p_star)
    above_level = kept | (scope & (p.isNotNull() if p_star is None else p > p_star))
    if r == 0:
        return df.filter(above_level)
    level_df = df.filter(at_level)
    if r >= total - cum:  # whole boundary level fits
        return df.filter(above_level | at_level)
    bins = (
        level_df.groupBy(F.shiftright(key, 52).alias("_bin"))
        .agg(F.count(F.lit(1)).alias("_n"))
        .collect()
    )
    bins.sort(key=lambda x: x["_bin"])
    bcum = 0
    for b in bins:
        if bcum + b["_n"] >= r:
            b_star, r2 = b["_bin"], r - bcum
            break
        bcum += b["_n"]
    h_star = (
        level_df.filter(F.shiftright(key, 52) == b_star)
        .orderBy(key.asc())
        .limit(r2)
        .agg(F.max(key_col).alias("_h"))
        .first()["_h"]
    )
    return df.filter(above_level | (at_level & (key <= h_star)))


def _boundary_priority_bin(df: DataFrame, p, r: int):
    """Step 0 of ``global_ordered_cap``: bin ``df``'s priorities into at
    most ``_BINS`` ranges (a monotone map of the priority, NULLs a bin of
    their own, last) and find the bin holding the ``r``-th row in crawl
    order. Returns (rows above that bin, rows in it, row count above it)
    as Column conditions and an int, or None when ``df`` has fewer than
    ``r`` rows."""
    p_dbl = p.cast("double")
    lo, hi = df.agg(F.min(p_dbl), F.max(p_dbl)).first()
    # monotone in p (IEEE ops are), so every bin is a priority range; lo
    # lands in bin 0 and hi in bin _BINS - 1
    b = F.floor((p_dbl - F.lit(lo)) / F.lit(hi - lo) * (_BINS - 1))
    bins = (
        df.groupBy(b.alias("_bin"))
        .agg(F.count(F.lit(1)).alias("_n"), F.min(p).alias("_lo"), F.max(p).alias("_hi"))
        .collect()
    )
    bins.sort(key=lambda x: (x["_bin"] is None, -(x["_bin"] or 0)))
    cum = 0
    for x in bins:
        if cum + x["_n"] >= r:
            if x["_bin"] is None:
                return p.isNotNull(), p.isNull(), cum
            return p > x["_hi"], p.between(x["_lo"], x["_hi"]), cum
        cum += x["_n"]
    return None


def host_budget_map(
    robots: DataFrame, default_budget: int, wave_period_ms: int
) -> DataFrame:
    """(host, _host_budget) for hosts declaring a positive crawl delay.

    Wave-invariant (a pure function of the rules table): loop callers
    compute it once (CrawlJob folds it into its persisted per-host policy
    table)."""
    delays = (
        robots.groupBy("host")
        .agg(F.max("crawl_delay_ms").alias("_delay_ms"))
        .filter(F.col("_delay_ms") > 0)
    )
    return delays.select(
        "host",
        F.least(
            F.lit(default_budget),
            F.greatest(F.lit(1), F.floor(F.lit(wave_period_ms) / F.col("_delay_ms"))),
        )
        .cast("int")
        .alias("_host_budget"),
    )


def with_crawl_delay_budget(
    df: DataFrame,
    robots: DataFrame | None,
    default_budget: int,
    wave_period_ms: int,
    host_col: str = "host",
    out_col: str = "_host_budget",
    budgets: DataFrame | None = None,
) -> DataFrame:
    """W3: map a host's declared robots crawl-delay to a per-wave budget.

    The reference's only pacing is a global ``asyncio.sleep(1)`` between URLs
    (``/root/reference/app.py:973-974``). In a batch wave there is no sleep;
    the politeness contract becomes a rate: a host declaring
    ``crawl_delay_ms`` can be hit at most ``wave_period_ms / crawl_delay_ms``
    times per wave (floored, min 1), capped by the default budget. Hosts
    without a declared delay keep the default (explicit coalesce — Spark's
    greatest()/least() skip nulls, so an un-gated formula would collapse an
    undelayed host to budget 1). Deterministic: a pure function of the rules
    table, no clocks. Pass a precomputed ``budgets`` (host_budget_map) to
    skip the per-call aggregation.
    """
    b = budgets if budgets is not None else host_budget_map(
        robots, default_budget, wave_period_ms
    )
    b = b.select(F.col("host").alias("_d_host"), F.col("_host_budget").alias("_hb"))
    return (
        df.join(F.broadcast(b), df[host_col] == F.col("_d_host"), "left")
        .withColumn(out_col, F.coalesce(F.col("_hb"), F.lit(default_budget)))
        .drop("_d_host", "_hb")
    )
