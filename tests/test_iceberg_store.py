"""IcebergSnapshotStore e2e: runs the real crawl loop against an Iceberg
catalog when the iceberg-spark-runtime jar is present; self-skips otherwise
(no jar ships in this sandbox — the seam is code, and this test documents
exactly what flips on when the jar lands on the classpath)."""

from __future__ import annotations

import os

import pytest


def _iceberg_spark(spark, tmp_path):
    """Wire the Iceberg catalog onto the shared session (catalog confs are
    runtime-settable; only the jar itself must be on the startup classpath);
    None if the runtime class is absent (the only thing missing in this
    sandbox)."""
    from bodhium_webscrapper_spark.plans.iceberg_store import (
        has_iceberg_runtime,
        iceberg_conf,
    )

    if not has_iceberg_runtime(spark):
        return None
    for k, v in iceberg_conf("ice", os.path.join(str(tmp_path), "wh")).items():
        if k != "spark.sql.extensions":  # startup-only; MERGE INTO is native in Spark 4
            spark.conf.set(k, v)
    return spark


def test_crawl_on_iceberg_store(spark, crawl_fixture, tmp_path):
    """Full loop + resume determinism against the Iceberg store: identical
    crawl order vs the parquet-shim twin. Requires iceberg-spark-runtime."""
    ice = _iceberg_spark(spark, tmp_path)
    if ice is None:
        pytest.skip(
            "iceberg-spark-runtime jar not on the classpath; add "
            "--packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13 "
            "(or drop the jar into pyspark/jars) and this test runs as-is"
        )
    from bodhium_webscrapper_spark.plans.frontier import CrawlConfig, CrawlJob
    from bodhium_webscrapper_spark.plans.iceberg_store import IcebergSnapshotStore

    seeds = ice.read.parquet(crawl_fixture["seeds"])
    robots = ice.read.parquet(crawl_fixture["robots"])
    cfg = CrawlConfig(max_urls_per_host_per_wave=5, max_waves=3,
                      global_wave_limit=500)

    shim = CrawlJob(ice, crawl_fixture["pages"], seeds, robots, cfg,
                    os.path.join(str(tmp_path), "shim_ckpt"))
    shim.run()
    expected = [(r.wave, r.seq, r.canonical_url) for r in shim.crawl_order().collect()]

    store = IcebergSnapshotStore(ice, "ice", "crawl_ckpt")
    job = CrawlJob(ice, crawl_fixture["pages"], seeds, robots, cfg,
                   checkpoint_dir="unused", store=store)
    job.run()
    got = [(r.wave, r.seq, r.canonical_url) for r in job.crawl_order().collect()]
    assert got == expected

    # resume determinism on the Iceberg store
    store2 = IcebergSnapshotStore(ice, "ice", "crawl_ckpt2")
    partial = CrawlJob(ice, crawl_fixture["pages"], seeds, robots,
                       CrawlConfig(max_urls_per_host_per_wave=5, max_waves=2,
                                   global_wave_limit=500),
                       checkpoint_dir="unused", store=store2)
    partial.run()
    resumed = CrawlJob(ice, crawl_fixture["pages"], seeds, robots, cfg,
                       checkpoint_dir="unused",
                       store=IcebergSnapshotStore(ice, "ice", "crawl_ckpt2"))
    resumed.run(resume=True)
    got2 = [(r.wave, r.seq, r.canonical_url) for r in resumed.crawl_order().collect()]
    assert got2 == expected


def test_iceberg_store_interface_parity():
    """The Iceberg store must expose every member CrawlJob and the tests use
    on the shim — interface drift fails here long before a cluster run."""
    from bodhium_webscrapper_spark.plans.checkpoint import SnapshotStore
    from bodhium_webscrapper_spark.plans.iceberg_store import IcebergSnapshotStore

    needed = [
        "write", "write_rows", "read", "read_deltas", "has_artifact",
        "row_count", "column_sum", "manifest", "partition_metrics",
        "artifact_bytes", "committed_wave", "commit_wave", "compact_deltas",
        "wave_dir",
    ]
    for member in needed:
        assert callable(getattr(SnapshotStore, member)), member
        assert callable(getattr(IcebergSnapshotStore, member)), member


# ---------------------------------------------------------------------------
# Round 5: the store's full logic executed WITHOUT the runtime jar — a
# simulated Iceberg engine boundary (tests/iceberg_sim.py) with real effects
# on a parquet warehouse. One full crawl + crash + resume + compaction runs
# through IcebergSnapshotStore's genuine code (create / DELETE+append
# re-commit / MERGE manifest / metadata-table statistics), and the result is
# diffed against the SnapshotStore shim's filesystem run on the same input.
# ---------------------------------------------------------------------------
def _ice_job(spark_proxy, crawl_fixture, cfg, store):
    from bodhium_webscrapper_spark.plans.frontier import CrawlJob

    return CrawlJob(
        spark_proxy,
        crawl_fixture["pages"],
        spark_proxy.read.parquet(crawl_fixture["seeds_full"]),
        spark_proxy.read.parquet(crawl_fixture["robots"]),
        cfg,
        checkpoint_dir="unused-with-injected-store",
        store=store,
    )


def test_iceberg_store_full_loop_resume_compaction_sim(
    spark, crawl_fixture, tmp_path
):
    import json

    from iceberg_sim import FakeIcebergSpark, patched_write_to

    from bodhium_webscrapper_spark.plans.frontier import CrawlConfig, CrawlJob
    from bodhium_webscrapper_spark.plans.iceberg_store import IcebergSnapshotStore

    tmp = str(tmp_path)
    cfg = CrawlConfig(max_waves=3, compact_seen_every=2)

    # ---- reference: the shim loop on the same input
    shim_job = CrawlJob(
        spark,
        crawl_fixture["pages"],
        spark.read.parquet(crawl_fixture["seeds_full"]),
        spark.read.parquet(crawl_fixture["robots"]),
        CrawlConfig(max_waves=3, compact_seen_every=2),
        os.path.join(tmp, "shim"),
        job_id="ice_ref",
    )
    shim_job.run()
    shim_order = [tuple(r) for r in shim_job.crawl_order().collect()]
    shim_seen = {r["url_hash"] for r in shim_job.seen_set().collect()}
    shim_manifest = shim_job.store.manifest()

    # ---- the Iceberg store, crash-mid-crawl + resume + compaction
    sim = FakeIcebergSpark(spark, os.path.join(tmp, "wh"))
    with patched_write_to(sim):
        store1 = IcebergSnapshotStore(sim, "ice", "crawl", job_id="icejob")
        _ice_job(sim, crawl_fixture, CrawlConfig(max_waves=2, compact_seen_every=2),
                 store1).run()
        assert store1.committed_wave() == 1

        # simulate a crash AFTER wave 1's artifacts landed but BEFORE its
        # manifest commit: rewind the manifest to committed_wave=0 (the
        # shim twin of this is a partial wave dir with no manifest entry)
        m = store1.manifest()
        m["committed_wave"] = 0
        del m["waves"]["1"]
        row = spark.createDataFrame(
            [("icejob", json.dumps(m))], "job_id string, payload string"
        )
        row.createOrReplaceTempView("_manifest_update")
        sim.sql(
            f"MERGE INTO {store1._manifest_tbl} t USING _manifest_update s "
            "ON t.job_id = s.job_id "
            "WHEN MATCHED THEN UPDATE SET t.payload = s.payload "
            "WHEN NOT MATCHED THEN INSERT *"
        )

        # resume with a FRESH store instance: wave 1 must be re-committed
        # idempotently (DELETE of the stale partition + append), then wave 2
        store2 = IcebergSnapshotStore(sim, "ice", "crawl", job_id="icejob")
        ice_job = _ice_job(sim, crawl_fixture, cfg, store2)
        ice_job.run(resume=True)
        assert store2.committed_wave() == 2

        ice_order = [tuple(r) for r in ice_job.crawl_order().collect()]
        ice_seen = {r["url_hash"] for r in ice_job.seen_set().collect()}
        ice_manifest = store2.manifest()

    # ---- diff vs the shim's filesystem effects
    assert ice_order == shim_order
    assert ice_seen == shim_seen
    assert ice_manifest["committed_wave"] == shim_manifest["committed_wave"] == 2
    for w in ("0", "1", "2"):
        assert (
            ice_manifest["waves"][w]["scheduled"]
            == shim_manifest["waves"][w]["scheduled"]
        )
        assert (
            ice_manifest["waves"][w]["fetched"]
            == shim_manifest["waves"][w]["fetched"]
        )
    assert ice_manifest["format"] == shim_manifest["format"]

    # ---- call-sequence: every table created exactly once; the re-committed
    # wave shows the DELETE-then-append idempotency pair; one manifest
    # upsert per commit; compaction routed to rewrite_data_files
    creates = [t for (op, t, *_r) in [(o[0], o[1]) for o in sim.ops] if op == "create"]
    assert len(creates) == len(set(creates))
    assert "ice.crawl.scheduled" in creates and "ice.crawl.page_results" in creates
    deletes = [o for o in sim.ops if o[0] == "delete_partition"]
    assert ("delete_partition", "ice.crawl.scheduled", 1) in deletes
    assert ("delete_partition", "ice.crawl.page_results", 1) in deletes
    manifest_upserts = [o for o in sim.ops if o[0] == "merge"] + [
        o for o in sim.ops if o == ("append", "ice.crawl.job_manifest")
    ]
    # 2 commits (run 1) + 1 crash rewind + 2 commits (resume) = 5 upserts
    assert len(manifest_upserts) == 5
    assert ("rewrite_data_files", "crawl.scheduled") in sim.ops


def test_iceberg_store_sim_broadcasts_every_wave_size(spark, crawl_fixture, tmp_path):
    """IcebergSnapshotStore has no ``write_bucketed`` seam, so a wave above
    ``broadcast_wave_threshold`` keeps the broadcast fetch: with the
    threshold at 0 the run completes, sets up no bucketed tables, and gives
    the default shim run's crawl order, seen set and extracted rows."""
    from iceberg_sim import FakeIcebergSpark, patched_write_to

    from bodhium_webscrapper_spark.plans.frontier import CrawlConfig, CrawlJob
    from bodhium_webscrapper_spark.plans.iceberg_store import IcebergSnapshotStore

    tmp = str(tmp_path)
    shim_job = CrawlJob(
        spark,
        crawl_fixture["pages"],
        spark.read.parquet(crawl_fixture["seeds_full"]),
        spark.read.parquet(crawl_fixture["robots"]),
        CrawlConfig(max_waves=3),
        os.path.join(tmp, "shim"),
        job_id="ice_bcast_ref",
    )
    shim_job.run()
    sim = FakeIcebergSpark(spark, os.path.join(tmp, "wh"))
    with patched_write_to(sim):
        store = IcebergSnapshotStore(sim, "ice", "crawl", job_id="ice_bcast")
        assert not hasattr(store, "write_bucketed")
        ice_job = _ice_job(
            sim, crawl_fixture, CrawlConfig(max_waves=3, broadcast_wave_threshold=0),
            store,
        )
        ice_job.run()
        assert store.committed_wave() == 2
        assert ice_job._bucketed is None  # no bucketed layout was set up
        ice_order = [tuple(r) for r in ice_job.crawl_order().collect()]
        ice_seen = ice_job.seen_set().collect()
        ice_text = ice_job.extracted().collect()
    assert ice_order == [tuple(r) for r in shim_job.crawl_order().collect()]
    assert sorted(ice_seen) == sorted(shim_job.seen_set().collect())
    assert sorted(ice_text) == sorted(shim_job.extracted().collect())
    assert len(ice_text) > 0
