"""robots.txt gate as a broadcast join + higher-order-function filter.

The reference has NO robots handling (grep over /root/reference finds none;
SURVEY.md §2.9 U5) — its only politeness is ``asyncio.sleep(1)``
(``app.py:973-974``). The target spec requires a robots gate; we model it as
a small per-host rules table (host, disallow_prefixes array, crawl_delay_ms)
broadcast to every executor, with the prefix test expressed via
``F.exists(...startswith...)`` — pure JVM expressions, whole-stage codegen,
no Python in the path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def flatten_rules(robots: DataFrame) -> DataFrame:
    """One (host, disallow_prefixes[, allow_prefixes]) row per host,
    DISALLOW-BEARING hosts only.

    Duplicate host rows in a raw rules table would fan out frontier rows
    through robots_gate's left join, and the duplicates would then be
    scheduled separately — flatten all prefix lists per host first. Hosts
    whose flattened disallow list is empty are dropped: they gate nothing
    (absent host ⇒ allowed; allow rules without a disallow to override are
    vacuous — §2.2.2's default is allow), and in a realistic corpus most
    hosts declare no disallows, so keeping them multiplies the per-wave
    broadcast build for free. This is wave-invariant: callers running a
    loop should compute it once and persist (CrawlJob does).

    ``allow_prefixes`` is carried through when the input has it (the
    parse_robots_txt schema) and synthesized empty otherwise (fixture /
    legacy rules tables)."""
    aggs = [
        F.array_distinct(F.flatten(F.collect_list("disallow_prefixes"))).alias(
            "disallow_prefixes"
        )
    ]
    if "allow_prefixes" in robots.columns:
        aggs.append(
            F.array_distinct(F.flatten(F.collect_list("allow_prefixes"))).alias(
                "allow_prefixes"
            )
        )
    out = robots.groupBy("host").agg(*aggs)
    if "allow_prefixes" not in robots.columns:
        out = out.withColumn(
            "allow_prefixes", F.array().cast("array<string>")
        )
    return out.filter(F.size("disallow_prefixes") > 0)


def _rule_regex(pat):
    """Anchored Java regex for a robots rule containing ``*``/``$``
    (RFC 9309 §2.2.3): regex metachars escaped, ``*`` → ``.*``, a TRAILING
    ``$`` → end anchor (elsewhere ``$`` is literal, matching the Google
    robotstxt parser). Built once per rule at rules-prep time — never per
    URL row."""
    esc = F.regexp_replace(pat, r"([\\.\[\]\{\}\(\)\+\-\?\^\$\|])", r"\\$1")
    esc = F.replace(esc, F.lit("*"), F.lit(".*"))
    return F.concat(
        F.lit("^"),
        F.when(
            F.endswith(pat, F.lit("$")),
            F.concat(F.substring(esc, F.lit(1), F.length(esc) - 2), F.lit("$")),
        ).otherwise(esc),
    )


def _rules_array(dis_col: str, alw_col: str):
    """disallow+allow prefix arrays → one array<struct<pat,allow,rx>>,
    ``rx`` non-null only for rules that need regex matching."""
    def mk(col, allow):
        return F.transform(
            col,
            lambda p: F.struct(
                p.alias("pat"),
                F.lit(allow).alias("allow"),
                F.when(
                    p.contains("*") | p.endswith("$"), _rule_regex(p)
                ).alias("rx"),
            ),
        )

    return F.concat(
        mk(F.col(dis_col), False),
        mk(F.coalesce(F.col(alw_col), F.array().cast("array<string>")), True),
    )


def rules_table(flattened: DataFrame) -> DataFrame:
    """``(_r_host, _r_rules)`` from a one-row-per-host rules table
    (:func:`flatten_rules` output): the join side of the robots gate, its
    per-rule regexes already compiled to strings."""
    if "allow_prefixes" not in flattened.columns:
        flattened = flattened.withColumn(
            "allow_prefixes", F.array().cast("array<string>")
        )
    return flattened.select(
        F.col("host").alias("_r_host"),
        _rules_array("disallow_prefixes", "allow_prefixes").alias("_r_rules"),
    )


def robots_allowed(rules: Column, url: Column) -> Column:
    """RFC 9309 verdict of ``url``'s path under ``rules`` (a
    :func:`rules_table` ``_r_rules`` array): True unless the longest
    matching rule is a Disallow.

    §2.2.2 precedence: among the rules whose pattern matches the path, the
    one with the MOST OCTETS (longest rule string) wins; an Allow and a
    Disallow of equal length resolve to Allow. Rules with a regex (``*`` /
    trailing ``$``, §2.2.3) match by ``regexp_like``, plain prefixes by
    ``startswith``. A null ``rules`` (host without rules) is allowed."""
    path = F.coalesce(F.parse_url(url, F.lit("PATH")), F.lit("/"))

    def matches(r):
        return F.when(r["rx"].isNull(), F.startswith(path, r["pat"])).otherwise(
            F.regexp_like(path, r["rx"])
        )

    def best(is_allow):
        return F.aggregate(
            F.filter(rules, lambda r: (r["allow"] == F.lit(is_allow)) & matches(r)),
            F.lit(0),
            lambda acc, r: F.greatest(acc, F.length(r["pat"])),
        )

    return ~F.coalesce(best(False) > best(True), F.lit(False))


def robots_gate(
    df: DataFrame,
    robots: DataFrame,
    url_col: str = "canonical_url",
    host_col: str = "host",
    flat: bool = False,
    strategy: str = "broadcast",
) -> DataFrame:
    """Drop rows whose URL path is blocked by its host's robots rules.

    Full RFC 9309 rule precedence and special characters
    (:func:`robots_allowed`). Plain prefixes take a ``startswith`` fast
    path (the overwhelmingly common case, and exactly the legacy behavior:
    with no allow rules and no wildcards, longest-match-blocked ⇔
    any-match-blocked, so fixture rules tables without an
    ``allow_prefixes`` column are unaffected).

    Hosts absent from the rules table are allowed (standard robots default).
    ``flat=True`` promises ``robots`` is already one-row-per-host (e.g. a
    persisted ``flatten_rules`` output), skipping the per-call aggregation.

    ``strategy``: ``"broadcast"`` (default — realistic robots corpora are
    MBs) or ``"shuffle"`` for a rules table too large to broadcast (10^8
    hosts with rules would blow past executor memory as a broadcast build);
    the shuffle join partitions both sides by host, the same cutover pattern
    as the wave loop's attr join. CrawlJob flips this automatically above
    ``robots_broadcast_threshold`` rules rows.
    """
    if strategy not in ("broadcast", "shuffle"):
        raise ValueError(f"strategy must be broadcast|shuffle, got {strategy!r}")
    rules = rules_table(robots if flat else flatten_rules(robots))
    if strategy == "broadcast":
        rules = F.broadcast(rules)
    else:
        rules = rules.hint("shuffle_hash")
    joined = df.join(rules, df[host_col] == F.col("_r_host"), "left")
    return joined.filter(
        robots_allowed(F.col("_r_rules"), F.col(url_col))
    ).drop("_r_host", "_r_rules")


def parse_robots_txt(
    df: DataFrame,
    txt_col: str = "robots_txt",
    host_col: str = "host",
    agent: str = "*",
) -> DataFrame:
    """Parse raw robots.txt TEXT into the rules table ``robots_gate`` and
    ``host_budget_map`` consume: ``(host, disallow_prefixes array<string>,
    allow_prefixes array<string>, crawl_delay_ms long)``.

    RFC 9309 group semantics, entirely in JVM expressions (split/posexplode
    + two window functions + two aggregations — no Python in the path):

    - lines are ``#``-comment-stripped and parsed as ``key: value``;
      unknown keys are ignored (forward-compatible per §2.2.4);
    - consecutive ``User-agent`` lines stack onto ONE group (§2.2.1); a
      ``User-agent`` line after rule lines starts a NEW group;
    - rule lines before any ``User-agent`` line belong to no group and are
      ignored;
    - group selection per host: a group naming ``agent`` exactly
      (case-insensitive product token, the RFC longest-match rule
      simplified to exact-token-or-``*``) beats the ``*`` group; ALL
      groups at the winning specificity merge (§2.2.1 "combine");
    - ``Allow`` rules are collected alongside ``Disallow`` (the gate
      resolves precedence per §2.2.2: most octets wins, allow wins ties);
    - empty ``Disallow:``/``Allow:`` values contribute no rule (§2.2.2:
      an empty pattern matches nothing to override);
      ``Crawl-delay`` (a de-facto extension, not in the RFC) parses as
      seconds, merged with ``min`` (the most conservative reading is the
      smallest delay only if budgets divide by it — the politeness
      operator treats larger delay = fewer fetches, so ``min`` here keeps
      the LARGEST per-wave budget conservative callers can then clamp;
      non-numeric values are ignored).

    Hosts whose robots.txt matches no group (and has no ``*`` group) are
    absent from the output — the gate's absent-host-means-allowed default.

    Scale shape: one ``posexplode`` (rows = total lines, the raw bytes
    already sharded by host), two narrow window functions partitioned by
    host (robots files are KBs — no skew concern), then two hash
    aggregations ending keyed by host. Nothing is collected; nothing
    broadcasts. At 10^8 hosts this is a single shuffle round on
    (host, group) then host.

    Reference: the reference has no robots handling at all (its politeness
    is ``asyncio.sleep(1)``, ``/root/reference/app.py:973-974``); this is
    target-spec surface (SURVEY.md §2.9 U5) made end-to-end: raw text in,
    gate-ready rules out.
    """
    from pyspark.sql import Window

    lines = df.select(
        F.col(host_col).alias("host"),
        F.posexplode(F.split(F.col(txt_col), r"\r?\n")).alias("_pos", "_raw"),
    )
    clean = F.trim(F.regexp_replace(F.col("_raw"), r"#.*$", ""))
    kv = lines.select(
        "host",
        "_pos",
        F.lower(F.trim(F.regexp_extract(clean, r"^([^:]+):", 1))).alias("_key"),
        F.trim(F.regexp_extract(clean, r"^[^:]*:(.*)$", 1)).alias("_val"),
    )
    # RFC 9309 gives blank and comment-only lines NO grouping significance
    # (the ABNF allows emptyline between the startgrouplines of one group),
    # so drop non-directive lines BEFORE the lag window — otherwise a blank
    # or comment between two consecutive User-agent lines would split the
    # group and silently discard the earlier agents' rules.
    kv = kv.filter(F.col("_key") != "")
    w = Window.partitionBy("host").orderBy("_pos")
    is_ua = F.col("_key") == "user-agent"
    prev_ua = F.lag(is_ua, 1, False).over(w)
    grouped = kv.withColumn(
        "_grp", F.sum((is_ua & ~prev_ua).cast("int")).over(w)
    ).filter(F.col("_grp") > 0)
    groups = grouped.groupBy("host", "_grp").agg(
        F.collect_set(F.when(is_ua, F.lower(F.col("_val")))).alias("_agents"),
        F.collect_set(
            F.when(
                (F.col("_key") == "disallow") & (F.col("_val") != ""),
                F.col("_val"),
            )
        ).alias("_disallows"),
        F.collect_set(
            F.when(
                (F.col("_key") == "allow") & (F.col("_val") != ""),
                F.col("_val"),
            )
        ).alias("_allows"),
        F.min(
            F.when(
                F.col("_key") == "crawl-delay",
                # try_cast: non-numeric Crawl-delay values are ignored, not
                # a job-killing ANSI cast error on one bad robots.txt
                F.col("_val").try_cast("double"),
            )
        ).alias("_delay_s"),
    )
    rank = (
        F.when(F.array_contains("_agents", agent.lower()), F.lit(1))
        .when(F.array_contains("_agents", "*"), F.lit(2))
    )
    ranked = groups.withColumn("_rank", rank).filter(F.col("_rank").isNotNull())
    wh = Window.partitionBy("host")
    best = ranked.withColumn("_minr", F.min("_rank").over(wh)).filter(
        F.col("_rank") == F.col("_minr")
    )
    return best.groupBy("host").agg(
        F.array_sort(
            F.array_distinct(F.flatten(F.collect_list("_disallows")))
        ).alias("disallow_prefixes"),
        F.array_sort(
            F.array_distinct(F.flatten(F.collect_list("_allows")))
        ).alias("allow_prefixes"),
        F.floor(F.min("_delay_s") * 1000).cast("long").alias("crawl_delay_ms"),
    )
