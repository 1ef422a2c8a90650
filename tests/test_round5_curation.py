"""Round-5 curation additions: Gopher A1.2 quality rules, DSIR importance
resampling, and CCNet head/middle/tail bucketing.

The reference has no analogue for any of these (its only quality gates are
the blank-content guard and crawl4ai's 10-word threshold,
/root/reference/app.py:498-516); they are the published curation stages a
training-data pipeline layers on top, each with a DuckDB oracle in
__spark_entry__ (gopher_quality / dsir_select / ccnet_buckets).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bodhium_webscrapper_spark.operators.mixing import (
    dsir_importance_weights,
    dsir_score,
    dsir_select,
)
from bodhium_webscrapper_spark.operators.quality import (
    ccnet_buckets,
    char_ngram_familiarity,
    gopher_quality_signals,
)

GOOD = (
    "the quick brown fox jumps over the lazy dog and that dog will have "
    "been seen to move with great speed across the field of green grass "
    "where many other animals also like to play during the long warm days "
    "of summer and be happy about it all the time every single day"
)


def _signals(spark, rows):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sig = gopher_quality_signals(F.col("text"))
    return {
        r["doc_id"]: r.asDict()
        for r in df.select(
            "doc_id", *[c.alias(n) for n, c in sig.items()]
        ).collect()
    }


def test_gopher_rules_trip_individually(spark):
    rows = [
        (0, GOOD),
        (1, "# spam symbol block without stopword tokens " * 12),
        (2, "- bullet item entry line\n" * 20),
        (3, ("keep going on... \n" * 4 + "the and of that be with plain line\n") * 10),
        (4, " ".join(["1234"] * 60) + " the and"),
        (5, ""),
        (6, "the of " + "a " * 48),  # mean word length 108/52 ≈ 2.07 < 3
    ]
    out = _signals(spark, rows)
    assert out[0]["gopher_keep"], out[0]
    # symbol spam: 12 '#' over 72 words > 0.1, and zero required stopwords
    assert out[1]["symbol_hits"] == 12 and out[1]["n_words"] == 72
    assert out[1]["stopword_hits"] == 0 and not out[1]["gopher_keep"]
    # bullet list: 20 of 21 lines start with a bullet
    assert out[2]["bullet_lines"] == 20 and out[2]["n_lines"] == 21
    assert not out[2]["gopher_keep"]
    # ellipsis: 40 of 51 lines end in '...' > 30%
    assert out[3]["ellipsis_lines"] == 40 and out[3]["n_lines"] == 51
    assert not out[3]["gopher_keep"]
    # digit words: 60/62 words carry no alphabetic char < 80%
    assert out[4]["alpha_words"] == 2 and out[4]["n_words"] == 62
    assert not out[4]["gopher_keep"]
    # empty doc: no words, keep is False (not NULL)
    assert out[5]["n_words"] == 0 and out[5]["gopher_keep"] is False
    # short mean word length
    assert out[6]["mwl_c100"] < 300 and not out[6]["gopher_keep"]


def test_gopher_signals_ride_the_scan(spark):
    """The gate is pure per-row JVM: no Exchange anywhere in the plan, and
    no Python evaluation (BatchEvalPython/ArrowEvalPython)."""
    df = spark.createDataFrame([(1, GOOD)], "doc_id long, text string")
    sig = gopher_quality_signals(F.col("text"))
    plan = (
        df.select("doc_id", *[c.alias(n) for n, c in sig.items()])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_dsir_planted_target_vocabulary_ranks_top(spark):
    """Raw docs sharing the target split's planted vocabulary outscore raw
    docs that don't; the selection keeps exactly them."""
    marker = "curated encyclopedic reference article prose"
    rows = (
        # target split: 20 docs of marker vocabulary
        [(i, True, f"{marker} section {i % 3}") for i in range(20)]
        # raw docs that look like the target
        + [(100 + i, False, f"{marker} section {i % 3}") for i in range(5)]
        # raw docs that don't
        + [(200 + i, False, f"random boilerplate navigation footer junk {i % 3}") for i in range(25)]
    )
    df = spark.createDataFrame(rows, "doc_id long, is_t boolean, text string")
    weights = dsir_importance_weights(df, "text", "is_t")
    assert weights.count() <= 16**4  # bounded by construction
    scored = dsir_score(df, "doc_id", "text", weights)
    raw = scored.join(df.filter(~F.col("is_t")).select("doc_id"), "doc_id")
    picked = {r["doc_id"] for r in dsir_select(raw, 5).collect()}
    assert picked == {100, 101, 102, 103, 104}


def test_dsir_deterministic_under_partitioning(spark):
    rows = [
        (i, i % 4 == 0, f"some shared words plus unique token u{i} and u{i*7%13}")
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id long, is_t boolean, text string")

    def run(d):
        w = dsir_importance_weights(d, "text", "is_t")
        s = dsir_score(d, "doc_id", "text", w)
        raw = s.join(d.filter(~F.col("is_t")).select("doc_id"), "doc_id")
        return [tuple(r) for r in dsir_select(raw, 10).orderBy(
            F.col("score_ppm").desc(), F.col("doc_id").asc()
        ).collect()]

    assert run(df) == run(df.repartition(7, "doc_id"))


def _fam_scored(spark, rows):
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    fam = char_ngram_familiarity(df, "doc_id", "text", rare_threshold=3)
    return df.select("doc_id", "lang").join(fam, "doc_id").select(
        "doc_id",
        "lang",
        F.when(F.col("n_grams") > 0, F.expr("(n_rare * 1000000) div n_grams"))
        .cast("long")
        .alias("rare_ppm"),
    )


def test_ccnet_gibberish_lands_in_tail(spark):
    """12 fluent docs share one sentence (their bigrams are corpus-common);
    3 gibberish docs are each UNIQUE letter salad (their bigrams occur only
    within themselves, i.e. < threshold) — the gibberish must fill tail."""
    fluent = "the common letter pairs of ordinary english prose flow here"
    rows = [(i, "en", fluent) for i in range(12)] + [
        (100, "en", "qzaxj vwbkf ybczz kdvvq"),
        (101, "en", "jexqv wfzyk qgjjb zhkxw"),
        (102, "en", "xiqzv kjwfy bzkqj vlwxz"),
    ]
    out = ccnet_buckets(_fam_scored(spark, rows), "doc_id", "lang", "rare_ppm")
    got = {r["doc_id"]: r["bucket"] for r in out.collect()}
    assert all(got[100 + i] == "tail" for i in range(3))
    assert sorted(got.values()).count("head") == 5  # 15 docs -> 5/5/5


def test_dataset_job_gopher_quality_gate(spark, tmp_path, monkeypatch):
    """--gopher-quality drops exactly the planted rule violators, counted
    in the funnel, without adding Spark actions (per-row gate)."""
    import io
    import json
    import sys
    from contextlib import redirect_stdout

    from jobs.dataset_job import main

    rows = [
        (1, GOOD + "."),
        (2, "# spam symbol block without stopword tokens " * 12),  # symbols
        (3, "- bullet item entry line\n" * 20),                     # bullets
        (4, "an entirely different passage about parquet shuffles and "
            "broadcast joins that the engine must be able to keep because "
            "it satisfies every single rule of the gate with room to spare "
            "and it also mentions that a scan of the corpus will have been "
            "completed with the usual care and of course the final count "
            "must include it among the survivors of the whole pipeline"),
    ]
    src = str(tmp_path / "docs")
    out = str(tmp_path / "cleaned")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)

    argv = ["dataset_job", "--input", src, "--output", out,
            "--min-quality", "-1", "--gopher-quality",
            "--master", "local[4]"]
    monkeypatch.setattr(sys, "argv", argv)
    from pyspark.sql import SparkSession

    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    buf = io.StringIO()
    with redirect_stdout(buf):
        assert main() == 0
    funnel = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert funnel["input"] == 4
    assert funnel["after_gopher_quality"] == 2
    assert funnel["after_near_dedup"] == 2


def test_dataset_job_ccnet_gate(spark, tmp_path, monkeypatch):
    """--ccnet-keep head,middle drops the tail tercile per predicted
    language — the planted unique-gibberish docs (rarest bigrams in the
    corpus) land in tail and are gone from the output."""
    import io
    import json
    import sys
    from contextlib import redirect_stdout

    from jobs.dataset_job import main

    # fluent docs REPEAT the base so its bigrams clear the job's corpus
    # rare-threshold (50): 12 docs x 10 reps = 120+ occurrences per base
    # bigram. Gibberish docs carry English stopword markers (the/and/of)
    # so lang_id puts them in the SAME language partition as the fluent
    # docs — the tercile must separate them on fluency alone.
    fluent = ("the common letter pairs of ordinary english prose flow "
              "here and the text keeps to the shape of the corpus ")
    rows = [(i, fluent * 10 + f"version {i}") for i in range(12)] + [
        (100, "the qzaxj and vwbkf of ybczz kdvvq jexqv wfzyk"),
        (101, "the xiqzv and kjwfy of bzkqj vlwxz qgjjb zhkxw"),
        (102, "the vwkxq and zjbfy of kqzvx wyjfz bkxqj zvwfy"),
    ]
    src = str(tmp_path / "docs")
    out = str(tmp_path / "cleaned")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)

    argv = ["dataset_job", "--input", src, "--output", out,
            "--min-quality", "-1", "--ccnet-keep", "head,middle",
            "--master", "local[4]"]
    monkeypatch.setattr(sys, "argv", argv)
    from pyspark.sql import SparkSession

    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    buf = io.StringIO()
    with redirect_stdout(buf):
        assert main() == 0
    funnel = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert funnel["input"] == 15
    assert funnel["after_ccnet"] == 10  # 15 docs -> 5/5/5, tail dropped
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert not kept & {100, 101, 102}
    # output schema carries no gate internals
    assert {"_rare_ppm", "_ccnet_tile"}.isdisjoint(
        spark.read.parquet(out).columns
    )


def test_dsir_score_plan_shape(spark):
    """The scoring join against the 16^4-bounded weight table must be a
    BROADCAST hash join (never a shuffle of the token stream on the bucket
    key), and the whole chain stays JVM-side."""
    rows = [(i, i % 4 == 0, f"words shared by all plus u{i}") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, is_t boolean, text string")
    w = dsir_importance_weights(df, "text", "is_t")
    plan = (
        dsir_score(df, "doc_id", "text", w)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan
