"""spark-submit entry point for the frontier crawl job.

Usage (cluster):
    zip -r engine.zip bodhium_webscrapper_spark
    spark-submit --py-files engine.zip jobs/crawl_job.py \
        --pages /data/crawl/pages --seeds /data/crawl/seeds.parquet \
        --robots /data/crawl/robots.parquet --checkpoint /data/crawl/ckpt \
        --budget 10 --max-waves 6 [--resume]

Usage (sandbox, synthesizes the fixture first):
    python jobs/crawl_job.py --synthesize 10000 --workdir build/job_demo

Replaces the reference's Lambda→AWS Batch submission front door
(/root/reference/lambda_function.py:64-182): one spark-submit instead of one
container per root URL, with the whole seed list crawled in parallel waves.
Prints one JSON summary line (analogue of the reference api_response,
app.py:1184-1237).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--pages", help="path to the prepared pages table (parquet)")
    p.add_argument("--seeds", help="path to seeds parquet (url, priority)")
    p.add_argument(
        "--sitemaps",
        help="path to fetched sitemap bodies parquet (sitemap_url, "
        "sitemap_xml) — urlset entries become seeds with "
        "priority=1/(1+position) via sitemap_seeds; if --seeds is also "
        "given it is the FALLBACK source (used only when the sitemaps "
        "yield no URLs), mirroring the reference's sitemap-first seed "
        "chain",
    )
    p.add_argument("--robots", help="path to robots parquet (pre-parsed rules)")
    p.add_argument(
        "--robots-txt",
        help="path to RAW robots.txt parquet (host, robots_txt) — parsed "
        "into gate rules via parse_robots_txt (RFC 9309 groups); mutually "
        "exclusive with --robots",
    )
    p.add_argument(
        "--robots-agent", default="*",
        help="user-agent product token for --robots-txt group selection",
    )
    p.add_argument(
        "--blocklist",
        help="path to blocklist parquet (kind in {domain,substring}, "
        "pattern) — UT1/FineWeb-style frontier gate: banned registrable "
        "domains (subdomains included) + banned URL substrings",
    )
    p.add_argument("--checkpoint", help="snapshot/checkpoint directory")
    p.add_argument("--budget", type=int, default=10, help="max urls/host/wave")
    p.add_argument("--max-waves", type=int, default=6)
    p.add_argument("--global-wave-limit", type=int, default=5000)
    p.add_argument("--resume", action="store_true", help="resume from last committed wave")
    p.add_argument("--rank-priority-every", type=int, default=0,
                   help="blend fixed-point PageRank authority into frontier "
                        "priorities every N waves (0 = off, decay-only)")
    p.add_argument("--rank-weight", type=float, default=1.0)
    p.add_argument("--verify-extraction", action="store_true")
    p.add_argument(
        "--fetch-buckets", type=int, default=64,
        help="bucket count of the storage-partitioned fetch that waves too "
        "big to broadcast take: pages are bucketed once by url_hash "
        "(amortized; re-attached on resume)",
    )
    p.add_argument(
        "--seeds-distinct", action="store_true",
        help="declare the seed list duplicate-free (e.g. a full recrawl from "
        "this engine's own dump): wave 0 skips the dedup window",
    )
    p.add_argument(
        "--seeds-canonical", action="store_true",
        help="declare seeds already canonical: wave 0 skips the "
        "canonicalization UDF (pure-JVM keying)",
    )
    p.add_argument(
        "--honor-meta-robots", action="store_true",
        help="honor in-page <meta name=robots> directives: nofollow pages "
        "contribute no outlinks, noindex pages are excluded from the "
        "extracted() corpus view",
    )
    p.add_argument("--master", default=os.environ.get("SPARK_MASTER", "local[*]"))
    p.add_argument(
        "--iceberg-warehouse",
        help="use an Iceberg-backed snapshot store at this warehouse path "
        "(requires the iceberg-spark-runtime jar, e.g. spark-submit "
        "--packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:...); "
        "--checkpoint is then unused",
    )
    p.add_argument("--iceberg-catalog", default="local")
    p.add_argument("--iceberg-namespace", default="crawl_ckpt")
    p.add_argument(
        "--synthesize",
        type=int,
        metavar="N_PAGES",
        help="generate an N-page synthetic fixture under --workdir first",
    )
    p.add_argument("--workdir", default="build/job")
    args = p.parse_args()

    from bodhium_webscrapper_spark.plans.frontier import CrawlConfig, CrawlJob
    from bodhium_webscrapper_spark.session import build_session

    extra = {}
    if args.iceberg_warehouse:
        from bodhium_webscrapper_spark.plans.iceberg_store import iceberg_conf

        extra = iceberg_conf(args.iceberg_catalog, args.iceberg_warehouse)
    spark = build_session(master=args.master, app_name="crawl_job", extra_conf=extra)

    store = None
    if args.iceberg_warehouse:
        from bodhium_webscrapper_spark.plans.iceberg_store import (
            IcebergSnapshotStore,
            has_iceberg_runtime,
        )

        if not has_iceberg_runtime(spark):
            p.error(
                "--iceberg-warehouse given but no iceberg-spark-runtime jar "
                "on the classpath (add --packages org.apache.iceberg:...)"
            )
        store = IcebergSnapshotStore(spark, args.iceberg_catalog, args.iceberg_namespace)

    if args.synthesize:
        from bodhium_webscrapper_spark.sources.datagen import (
            generate_crawl_fixture,
            prepare_pages,
        )

        paths = generate_crawl_fixture(args.workdir, n_pages=args.synthesize)
        args.pages = prepare_pages(
            spark, paths["pages_raw"], os.path.join(args.workdir, "pages")
        )
        args.seeds = paths["seeds"]
        args.robots = paths["robots"]
        args.checkpoint = args.checkpoint or os.path.join(args.workdir, "ckpt")

    if args.robots and args.robots_txt:
        p.error("--robots and --robots-txt are mutually exclusive")
    required = ["pages"]
    if not args.iceberg_warehouse:
        required.append("checkpoint")
    missing = [k for k in required if not getattr(args, k)]
    if not args.robots and not args.robots_txt:
        missing.append("robots")
    if not args.seeds and not args.sitemaps:
        missing.append("seeds")
    if missing:
        p.error(f"missing required arguments: {', '.join('--' + m for m in missing)} "
                f"(or use --synthesize)")

    if args.robots_txt:
        from bodhium_webscrapper_spark.operators.robots import parse_robots_txt

        robots_df = parse_robots_txt(
            spark.read.parquet(args.robots_txt), agent=args.robots_agent
        )
    else:
        robots_df = spark.read.parquet(args.robots)

    seed_sources = []
    if args.sitemaps:
        from bodhium_webscrapper_spark.sources.sitemap import sitemap_seeds

        seed_sources.append(sitemap_seeds(spark.read.parquet(args.sitemaps)))
    if args.seeds:
        seed_sources.append(spark.read.parquet(args.seeds))
    if len(seed_sources) == 1:
        seeds_df = seed_sources[0]
    else:
        from bodhium_webscrapper_spark.operators.union import source_priority_union

        seeds_df = source_priority_union(seed_sources)

    cfg = CrawlConfig(
        max_urls_per_host_per_wave=args.budget,
        max_waves=args.max_waves,
        global_wave_limit=args.global_wave_limit,
        verify_extraction=args.verify_extraction,
        fetch_buckets=args.fetch_buckets,
        seeds_distinct=args.seeds_distinct,
        seeds_canonical=args.seeds_canonical,
        rank_priority_every=args.rank_priority_every,
        rank_priority_weight=args.rank_weight,
        honor_meta_robots=args.honor_meta_robots,
    )
    job = CrawlJob(
        spark,
        args.pages,
        seeds_df,
        robots_df,
        cfg,
        args.checkpoint or "unused-with-iceberg-store",
        store=store,
        blocklist=(
            spark.read.parquet(args.blocklist) if args.blocklist else None
        ),
    )
    summary = job.run(resume=args.resume)
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
