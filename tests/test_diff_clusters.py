"""snapshot_diff classification + dedup_clusters canonical election."""

from __future__ import annotations

from pyspark.sql import functions as F

from bodhium_webscrapper_spark.operators.dedup import dedup_clusters
from bodhium_webscrapper_spark.operators.diff import snapshot_diff


def test_snapshot_diff_classifies_all_four_states(spark):
    old = spark.createDataFrame(
        [("a", "h1"), ("b", "h2"), ("c", "h3")], "url string, content_hash string"
    )
    new = spark.createDataFrame(
        [("b", "h2"), ("c", "h3x"), ("d", "h4")], "url string, content_hash string"
    )
    got = {r["url"]: r["status"] for r in snapshot_diff(old, new).collect()}
    assert got == {"a": "removed", "b": "unchanged", "c": "changed", "d": "added"}


def test_snapshot_diff_output_cardinality_is_key_union(spark):
    old = spark.range(0, 80).select(
        F.col("id").alias("url"), F.md5(F.col("id").cast("string")).alias("content_hash")
    )
    new = spark.range(40, 120).select(
        F.col("id").alias("url"), F.md5(F.col("id").cast("string")).alias("content_hash")
    )
    assert snapshot_diff(old, new).count() == 120


def test_dedup_clusters_elects_component_min(spark):
    docs = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    # two clusters {1,2,3} (via chained pairs) and {5,6}; 0,4,7 singletons
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id_a long, id_b long"
    )
    rows = {
        r["doc_id"]: (r["cluster"], r["is_canonical"])
        for r in dedup_clusters(docs, pairs).collect()
    }
    assert rows == {
        0: (0, True),
        1: (1, True),
        2: (1, False),
        3: (1, False),
        4: (4, True),
        5: (5, True),
        6: (5, False),
        7: (7, True),
    }


def test_dedup_clusters_exactly_one_canonical_per_cluster(spark):
    docs = spark.createDataFrame([(i,) for i in range(20)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 10) for i in range(10)] + [(0, 5), (5, 9)],
        "id_a long, id_b long",
    )
    out = dedup_clusters(docs, pairs)
    per_cluster = (
        out.groupBy("cluster")
        .agg(
            F.sum(F.col("is_canonical").cast("int")).alias("n_canon"),
            F.min("doc_id").alias("mn"),
        )
        .collect()
    )
    for r in per_cluster:
        assert r["n_canon"] == 1
        assert r["cluster"] == r["mn"]
    assert out.count() == 20


def test_dataset_job_cluster_policy_collapses_via_common_superset(
    spark, tmp_path, monkeypatch
):
    """pairs policy keeps both local minima {2,3} (verified only against the
    common superset doc 10); clusters policy collapses the component to its
    min {2}. The divergence case the transitive policy exists for."""
    import io
    import json
    import sys
    from contextlib import redirect_stdout

    from jobs.dataset_job import main
    from pyspark.sql import SparkSession

    a_txt = " ".join(f"alpha{i:02d} token{i:02d}" for i in range(12))
    b_txt = " ".join(f"omega{i:02d} gram{i:02d}" for i in range(12))
    rows = [
        (2, a_txt),
        (3, b_txt),
        (10, a_txt + " " + b_txt),
        (6, "an entirely different sentence about parquet shuffles "
            "and broadcast joins that survives every single gate."),
    ]
    src = str(tmp_path / "docs")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)

    def run(policy: str, out: str) -> list[int]:
        argv = ["dataset_job", "--input", src, "--output", out,
                "--min-quality", "-1", "--neardedup", "winnow",
                "--neardedup-policy", policy, "--master", "local[4]"]
        monkeypatch.setattr(sys, "argv", argv)
        buf = io.StringIO()
        with redirect_stdout(buf):
            assert main() == 0
        json.loads(buf.getvalue().strip().splitlines()[-1])  # funnel parses
        return sorted(
            r["doc_id"] for r in spark.read.parquet(out).collect()
        )

    assert run("pairs", str(tmp_path / "o1")) == [2, 3, 6]
    assert run("clusters", str(tmp_path / "o2")) == [2, 6]


def test_recrawl_priority_levels_and_host_rates(spark):
    from bodhium_webscrapper_spark.operators.diff import recrawl_priority

    # hot host: 1 changed / 2 revisited (50% >= 20%) -> its unchanged url
    # is level 1. cold host: 0 changed / 2 revisited -> level 0. added url
    # -> 2 regardless of host; removed url disappears.
    rows = [
        (1, "hot", "changed"),
        (2, "hot", "unchanged"),
        (3, "hot", "added"),
        (4, "cold", "unchanged"),
        (5, "cold", "unchanged"),
        (6, "cold", "removed"),
    ]
    diff = spark.createDataFrame(rows, "url long, host string, status string")
    out = {r["url"]: r.asDict() for r in
           recrawl_priority(diff, key="url", host_col="host").collect()}
    assert 6 not in out
    assert out[1]["priority_level"] == 3
    assert out[2]["priority_level"] == 1
    assert out[3]["priority_level"] == 2
    assert out[3]["host_changed"] == 1 and out[3]["host_total"] == 2
    assert out[4]["priority_level"] == 0 and out[5]["priority_level"] == 0


def test_recrawl_priority_all_added_host(spark):
    from bodhium_webscrapper_spark.operators.diff import recrawl_priority

    # a host seen for the first time has no revisit stats: added urls are
    # level 2 with zeroed evidence columns, never NULL
    diff = spark.createDataFrame(
        [(1, "new", "added"), (2, "new", "added")],
        "url long, host string, status string",
    )
    out = recrawl_priority(diff, key="url", host_col="host").collect()
    assert all(r["priority_level"] == 2 for r in out)
    assert all(r["host_changed"] == 0 and r["host_total"] == 0 for r in out)
