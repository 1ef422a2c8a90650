"""spark-submit entry for the training-data cleaning pipeline.

Runs the documents table through the standard web-text curation stages a
100 TB training-data pipeline needs (all engine operators):

  mojibake repair (optional) → boilerplate strip (optional) →
  PII scrub (optional) → cross-doc line dedup (optional RefinedWeb
  boilerplate-line pass, --dedup-lines-min-docs) →
  quality filter (heuristic score) → language filter →
  C4 keep-rule gate (optional: terminal punctuation / lorem-ipsum /
  curly-brace / min-words, Raffel et al. 2020) →
  Gopher quality-rule gate (optional: word count / mean word length /
  symbol ratio / bullet-ellipsis lines / alpha words / stopwords,
  Rae et al. 2021 A1.2 — per-row, rides the scan) →
  CCNet fluency gate (optional: per-language familiarity terciles,
  --ccnet-keep head,middle) →
  soft-404 gate (optional) →
  Gopher duplicate-line gate (optional: repetition signals,
  Rae et al. 2021 A1.1) →
  model-based quality gate (optional: hashed-token classifier trained
  against a reference corpus, --model-ref; the DCLM/FineWeb-Edu stage) →
  exact dedup (md5 of normalized text) → near-dup removal (MinHash-LSH
  exact-Jaccard-verified, or winnowing fingerprint containment —
  --neardedup) → token accounting → training-sequence packing manifest
  (optional, --pack-seq-len)

Usage:
    spark-submit --py-files build/engine.zip jobs/dataset_job.py \
        --input /root/testdata/sf0.01/documents.parquet \
        --output build/cleaned --min-quality 0.2 --langs en \
        --jaccard 0.8 --pii-scrub --strip-boilerplate

Prints one JSON line with stage-by-stage row counts (the curation funnel).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--min-quality", type=float, default=0.2)
    p.add_argument("--langs", default="", help="comma list; empty = keep all")
    p.add_argument("--jaccard", type=float, default=0.8)
    p.add_argument("--c4", action="store_true",
                   help="apply the C4 keep rule (sentences/lorem/curly/words)")
    p.add_argument("--gopher-quality", action="store_true",
                   help="apply the Gopher A1.2 quality rules (word count, "
                        "mean word length, symbol ratio, bullet/ellipsis "
                        "lines, alpha words, required stopwords)")
    p.add_argument("--gopher-min-words", type=int, default=50,
                   help="Gopher quality rule: minimum word count (paper: 50)")
    p.add_argument("--gopher-min-stopwords", type=int, default=2,
                   help="Gopher quality rule: minimum DISTINCT required "
                        "stopwords present (paper: 2; lower it for corpora "
                        "that are not English prose)")
    p.add_argument("--ccnet-keep", default="",
                   help="CCNet fluency gate: comma list of per-language "
                        "familiarity terciles to keep (head,middle,tail; "
                        "empty = off). Buckets come from corpus-trained "
                        "char-bigram familiarity over lang_pred")
    p.add_argument("--fix-mojibake", action="store_true",
                   help="repair cp1252-misdecode sequences before scoring")
    p.add_argument("--dedup-lines-min-docs", type=int, default=0,
                   help="RefinedWeb line pass: remove lines appearing in "
                        ">= N distinct docs from every doc (0 = off)")
    p.add_argument("--drop-soft404", action="store_true",
                   help="drop soft-404 pages (error phrase + short content)")
    p.add_argument("--max-dup-line-pct", type=int, default=0,
                   help="Gopher gate: drop docs whose duplicate-line chars "
                        "exceed PCT%% of total chars (0 = off)")
    p.add_argument("--neardedup", choices=["minhash", "winnow"],
                   default="minhash",
                   help="near-dup candidate generator: MinHash-LSH with "
                        "exact-Jaccard verify, or winnowing fingerprint "
                        "containment (>=60%% of the smaller set)")
    p.add_argument("--neardedup-policy", choices=["pairs", "clusters"],
                   default="pairs",
                   help="pairs: drop the larger id of every verified pair "
                        "(keeps every doc not verified against a smaller "
                        "survivor; 2 Spark actions total). clusters: "
                        "transitive closure over the pair graph, keep the "
                        "component-min doc (Lee et al. 2022 §3.2; adds "
                        "O(log n) control-plane actions for the CC rounds)")
    p.add_argument("--model-ref", default="",
                   help="parquet of reference-quality docs (same text col): "
                        "train the hashed-token quality classifier with these "
                        "as the positive class and the input corpus as the "
                        "negative class, then gate on its score (DCLM / "
                        "FineWeb-Edu model-filter stage)")
    p.add_argument("--model-min-ppm", type=int, default=500000,
                   help="model gate: keep docs whose mean per-token "
                        "reference evidence >= this (ppm; 500000 = more "
                        "reference-like than not)")
    p.add_argument("--pack-seq-len", type=int, default=0,
                   help="also emit a training-sequence packing manifest at "
                        "<output>_packed: the cleaned corpus concat-and-"
                        "chunked into N-token sequences (0 = off; adds the "
                        "packing stage's own two actions — the partition-"
                        "totals collect and the manifest write — a "
                        "documented deviation from the two-action contract)")
    p.add_argument("--pii-scrub", action="store_true",
                   help="redact emails/SSNs/phones/IPv4s before scoring")
    p.add_argument("--strip-boilerplate", action="store_true",
                   help="drop copyright/nav/share chrome lines before scoring")
    p.add_argument("--master", default=os.environ.get("SPARK_MASTER", "local[*]"))
    args = p.parse_args()

    from pyspark.sql import functions as F

    from bodhium_webscrapper_spark.functions.textstats import (
        doc_fingerprint,
        lang_id,
        pii_scrub,
        quality_score,
        strip_boilerplate_re,
        token_count,
    )
    from bodhium_webscrapper_spark.operators.dedup import (
        exact_text_dedup,
        minhash_lsh_pairs,
        winnow_pairs,
    )
    from bodhium_webscrapper_spark.operators.quality import (
        c4_signals,
        gopher_repetition_signals,
    )
    from bodhium_webscrapper_spark.session import build_session

    spark = build_session(master=args.master, app_name="dataset_job")
    docs = spark.read.parquet(args.input)
    # text rewrites happen BEFORE scoring so quality/lang see clean content;
    # both are narrow per-row column expressions fused into the scoring scan.
    # strip_boilerplate_re is the codegen'd regexp_replace twin of the HOF
    # strip_boilerplate (identical output, pytest-asserted) — the HOF variant
    # would be the one interpreted expression in this full-corpus scan.
    if args.fix_mojibake:
        from bodhium_webscrapper_spark.functions.textstats import fix_mojibake

        # encoding repair FIRST: boilerplate/PII patterns and dedup keys
        # must see repaired bytes, not two spellings of the same page
        docs = docs.withColumn(args.text_col, fix_mojibake(F.col(args.text_col)))
    if args.strip_boilerplate:
        docs = docs.withColumn(args.text_col, strip_boilerplate_re(F.col(args.text_col)))
    if args.pii_scrub:
        docs = docs.withColumn(args.text_col, pii_scrub(F.col(args.text_col)))
    dedup_lines_col = None
    if args.dedup_lines_min_docs > 0:
        from bodhium_webscrapper_spark.operators.quality import line_dedup

        # relational rewrite (needs the corpus-wide line census): one
        # doc-keyed join folded lazily into the two Spark actions below,
        # same class as the Gopher gate's join. n_dup_lines rides along
        # into the funnel aggregate.
        ld = line_dedup(
            docs.select(args.id_col, args.text_col),
            args.id_col,
            args.text_col,
            min_docs=args.dedup_lines_min_docs,
        ).select(
            args.id_col,
            F.col("text").alias("_ld_text"),
            F.col("n_dup_lines").alias("_ld_removed"),
        )
        docs = (
            docs.join(ld, args.id_col, "left")
            .withColumn(
                args.text_col,
                F.coalesce(F.col("_ld_text"), F.col(args.text_col)),
            )
            .drop("_ld_text")
        )
        dedup_lines_col = F.sum(
            F.coalesce(F.col("_ld_removed"), F.lit(0))
        ).alias("dup_lines_removed")

    # Funnel discipline, wave-loop style: the job runs exactly TWO Spark
    # actions — one aggregate for every pre-write funnel count, and the
    # output write itself; post-write counts come free from the parquet
    # footers of files the job writes anyway. (The round-3 shape persisted
    # each stage and counted it — correct, but one count-job per stage.)
    scored = (
        docs.withColumn("quality", quality_score(F.col(args.text_col)))
        .withColumn("lang_pred", lang_id(F.col(args.text_col)))
        .persist()
    )
    q_cond = F.col("quality") >= args.min_quality
    l_cond = q_cond
    if args.langs:
        langs = [x.strip() for x in args.langs.split(",") if x.strip()]
        l_cond = l_cond & F.col("lang_pred").isin(langs)
    # Optional published-filter gates. Both stay LAZY — a column expression
    # and a doc-keyed join fold into the same two Spark actions below.
    gate_cond = l_cond
    c_cond = g_cond = s_cond = gq_cond = None
    if args.c4:
        c_cond = gate_cond & c4_signals(F.col(args.text_col))["c4_keep"]
        gate_cond = c_cond
    if args.gopher_quality:
        from bodhium_webscrapper_spark.operators.quality import (
            gopher_quality_signals,
        )

        # per-row column condition like the C4 gate: fuses into the same
        # scoring scan, costs zero extra Spark jobs
        gq_cond = gate_cond & gopher_quality_signals(
            F.col(args.text_col),
            min_words=args.gopher_min_words,
            min_stopwords=args.gopher_min_stopwords,
        )["gopher_keep"]
        gate_cond = gq_cond
    cc_cond = None
    if args.ccnet_keep:
        from pyspark.sql import Window

        from bodhium_webscrapper_spark.operators.quality import (
            char_ngram_familiarity,
        )

        keep_buckets = [b.strip() for b in args.ccnet_keep.split(",") if b.strip()]
        bad = set(keep_buckets) - {"head", "middle", "tail"}
        if bad:
            raise SystemExit(f"--ccnet-keep: unknown bucket(s) {sorted(bad)}")
        # CCNet fluency terciles (Wenzek et al. 2020) over the job's own
        # lang_pred: the corpus-trained char-bigram familiarity is a
        # doc-keyed join (same lazy class as the Gopher repetition gate),
        # the per-lang ntile a lazy window — both fold into the job's two
        # actions.
        fam = char_ngram_familiarity(
            docs.select(args.id_col, args.text_col), args.id_col, args.text_col
        ).select(
            args.id_col,
            F.when(
                F.col("n_grams") > 0,
                F.expr("(n_rare * 1000000) div n_grams"),
            ).cast("long").alias("_rare_ppm"),
        )
        base_scored, scored = scored, (
            scored.join(fam, args.id_col, "left")
            .withColumn(
                "_ccnet_tile",
                F.ntile(3).over(
                    Window.partitionBy("lang_pred").orderBy(
                        F.col("_rare_ppm").asc_nulls_last(),
                        F.col(args.id_col).asc(),
                    )
                ),
            )
            .persist()
        )
        base_scored.unpersist()
        tiles = [{"head": 1, "middle": 2, "tail": 3}[b] for b in keep_buckets]
        cc_cond = gate_cond & F.col("_ccnet_tile").isin(tiles)
        gate_cond = cc_cond
    if args.drop_soft404:
        from bodhium_webscrapper_spark.operators.quality import soft404_signals

        s_cond = gate_cond & ~soft404_signals(F.col(args.text_col))["is_soft404"]
        gate_cond = s_cond
    if args.max_dup_line_pct > 0:
        # relational signal (per-doc line aggregate) -> one doc_id-keyed
        # equi-join; at corpus scale this is the same shuffle class as the
        # exact-dedup groupBy and shares the funnel aggregate's scan
        rep = gopher_repetition_signals(
            docs.select(args.id_col, args.text_col), args.id_col, args.text_col
        ).select(args.id_col, "dup_line_chars", "total_chars")
        # re-persist ABOVE the join: the funnel aggregate and the dedup
        # filter both consume the joined frame, and without this cache the
        # rep aggregate would execute once per consumer (the
        # stages-execute-once discipline, tests/test_round3_fixes.py)
        base_scored, scored = scored, scored.join(rep, args.id_col, "left").persist()
        base_scored.unpersist()
        g_cond = gate_cond & (
            100 * F.coalesce(F.col("dup_line_chars"), F.lit(0))
            <= args.max_dup_line_pct * F.coalesce(F.col("total_chars"), F.lit(1))
        )
        gate_cond = g_cond
    m_cond = None
    if args.model_ref:
        # model-based quality filter: train on reference-vs-input, score by
        # broadcast join. Training is an aggregate over BOTH corpora but
        # stays lazy — the 16^4-bucket weight table materializes as a
        # broadcast exchange inside action 1 (Spark's internal build-side
        # collect, not a user-level action), and the re-persist below means
        # action 2 replays neither the training nor the scoring join. At
        # 100 TB, point --model-ref at a curated corpus and swap the
        # negative side for a stratified sample — weights converge long
        # before the full corpus; scoring still sees every row.
        from bodhium_webscrapper_spark.operators.quality import (
            score_quality_classifier,
            train_token_weights,
        )

        ref = (
            spark.read.parquet(args.model_ref)
            .select(F.col(args.text_col).alias("_t"))
            .withColumn("_is_ref", F.lit(True))
        )
        neg = docs.select(F.col(args.text_col).alias("_t")).withColumn(
            "_is_ref", F.lit(False)
        )
        weights = train_token_weights(ref.unionByName(neg), "_t", "_is_ref")
        sc = score_quality_classifier(
            docs.select(args.id_col, args.text_col),
            args.id_col,
            args.text_col,
            weights,
        ).select(args.id_col, F.col("score_ppm").alias("_model_ppm"))
        base_scored, scored = scored, scored.join(sc, args.id_col, "left").persist()
        base_scored.unpersist()
        # token-less docs score NULL -> fail the gate (no evidence of quality)
        m_cond = gate_cond & (
            F.coalesce(F.col("_model_ppm"), F.lit(-1)) >= args.model_min_ppm
        )
        gate_cond = m_cond

    # after_exact_dedup = distinct fingerprints among surviving rows: the
    # same md5(normalized text) key exact_text_dedup first-wins on
    agg_cols = [
        F.count(F.lit(1)).alias("input"),
        F.sum(q_cond.cast("long")).alias("after_quality"),
        F.sum(l_cond.cast("long")).alias("after_lang"),
    ]
    if c_cond is not None:
        agg_cols.append(F.sum(c_cond.cast("long")).alias("after_c4"))
    if gq_cond is not None:
        agg_cols.append(
            F.sum(gq_cond.cast("long")).alias("after_gopher_quality")
        )
    if cc_cond is not None:
        agg_cols.append(F.sum(cc_cond.cast("long")).alias("after_ccnet"))
    if s_cond is not None:
        agg_cols.append(F.sum(s_cond.cast("long")).alias("after_soft404"))
    if g_cond is not None:
        agg_cols.append(F.sum(g_cond.cast("long")).alias("after_gopher"))
    if m_cond is not None:
        agg_cols.append(F.sum(m_cond.cast("long")).alias("after_model"))
    if dedup_lines_col is not None:
        agg_cols.append(dedup_lines_col)
    agg_cols.append(
        F.count_distinct(
            F.when(gate_cond, doc_fingerprint(F.col(args.text_col)))
        ).alias("after_exact_dedup")
    )
    agg = scored.agg(*agg_cols).first()  # Spark action 1 of 2
    # SUM over zero rows is null (unlike COUNT): an empty/fully-filtered
    # corpus must print an all-zero funnel, not die on int(None)
    funnel = {k: int(agg[k] or 0) for k in agg.asDict()}

    # persisted because the write plan consumes it TWICE (LSH candidate
    # generation + the survivor anti-join): block-level get-or-compute makes
    # the second subtree reuse partitions the first already materialized,
    # without spending a separate count action on it
    deduped = exact_text_dedup(
        scored.filter(gate_cond), args.text_col, args.id_col
    ).persist()

    # near-dup removal: verified pairs feed the policy chosen by
    # --neardedup-policy (greedy pair-drop, or transitive cluster collapse)
    if args.neardedup == "winnow":
        pairs = winnow_pairs(
            deduped, args.id_col, args.text_col, min_containment_pct=60
        )
    else:
        pairs = minhash_lsh_pairs(
            deduped, args.id_col, args.text_col, jaccard_threshold=args.jaccard
        )
    if args.neardedup_policy == "clusters":
        # transitive-closure policy: a chain a~b~c collapses to ONE survivor
        # even when the (a,c) pair itself was never verified. The CC rounds
        # run on the pair edge set only (tiny vs the corpus) but cost
        # O(log n) extra driver-side convergence actions — documented
        # deviation from the default path's two-action contract.
        from bodhium_webscrapper_spark.operators.dedup import dedup_clusters

        labels = dedup_clusters(deduped, pairs, id_col=args.id_col)
        kept = deduped.join(
            labels.filter(F.col("is_canonical")).select(args.id_col),
            args.id_col,
            "left_semi",
        )
    else:
        drops = pairs.select(F.col("id_b").alias(args.id_col)).distinct()
        kept = deduped.join(drops, args.id_col, "left_anti")

    # final stage is WRITTEN (it is the job's output anyway); its row count
    # and token total come from the written files' parquet footers + one
    # driver-side single-column read — zero extra Spark jobs
    # the gopher gate's join columns are funnel internals — never part of
    # the output contract (a gated and an ungated run must write the same
    # schema); drop() is a no-op when the gate is off
    out = (
        kept.drop("dup_line_chars", "total_chars", "_ld_removed", "_model_ppm",
                  "_rare_ppm", "_ccnet_tile")
        .withColumn("n_tokens", token_count(F.col(args.text_col)))
    )
    out.write.mode("overwrite").parquet(args.output)  # Spark action 2 of 2
    scored.unpersist()
    deduped.unpersist()

    # post-write funnel counts through the Hadoop-FS-safe seam: local
    # outputs answer from parquet footers (zero Spark jobs, the wave-loop
    # discipline); hdfs://-s3a:// outputs fall back to two cheap Spark
    # metadata jobs instead of an os.listdir that would silently miscount
    from bodhium_webscrapper_spark.plans.metrics import output_counts

    counted = output_counts(spark, args.output, sum_col="n_tokens")
    funnel["after_near_dedup"] = counted["rows"]
    funnel["tokens_total"] = counted["sum"]

    if args.pack_seq_len > 0:
        # packing consumes the WRITTEN output (footer-pruned to id+n_tokens,
        # zero funnel recompute) and emits the (doc × sequence) manifest the
        # trainer's loader consumes. n_sequences is arithmetic on the
        # already-known token total — no extra count job; the manifest row
        # count comes from the footers of files the stage writes anyway.
        from bodhium_webscrapper_spark.operators.packing import pack_sequences

        packed_path = args.output.rstrip("/") + "_packed"
        toks = spark.read.parquet(args.output).select(args.id_col, "n_tokens")
        pack_sequences(toks, args.pack_seq_len, id_col=args.id_col).write.mode(
            "overwrite"
        ).parquet(packed_path)
        funnel["pack_manifest_rows"] = output_counts(spark, packed_path)["rows"]
        funnel["n_sequences"] = -(-funnel["tokens_total"] // args.pack_seq_len)

    print(json.dumps(funnel))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
