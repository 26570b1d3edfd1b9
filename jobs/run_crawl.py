"""spark-submit entrypoint for the crawl engine.

Cluster usage (north_rule deployment contract):

    python tools/package_pyfiles.py            # -> dist/smartcrawler_spark.zip
    spark-submit --py-files dist/smartcrawler_spark.zip \\
        jobs/run_crawl.py --corpus s3://bucket/corpus \\
        --checkpoint s3://bucket/ckpt --seeds https://example.com/ \\
        --keywords '{"news": 2.0}' --max-rounds 50

Local sandbox usage (creates its own local session when none exists):

    python jobs/run_crawl.py --corpus /tmp/corpus --checkpoint /tmp/ckpt \\
        --seeds https://site000.example.com/
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser(description="smartcrawler_spark crawl job")
    ap.add_argument("--corpus", required=True, help="corpus dir (documents/robots/politeness/sitemaps parquet)")
    ap.add_argument("--checkpoint", required=True, help="snapshot checkpoint dir")
    ap.add_argument("--seeds", required=True, help="comma-separated seed URLs, or @file with one URL per line")
    ap.add_argument("--keywords", default="{}", help="objective keyword weights as JSON")
    ap.add_argument("--max-rounds", type=int, default=50)
    ap.add_argument("--max-urls-per-host", type=int, default=10)
    ap.add_argument("--default-budget", type=int, default=4)
    ap.add_argument("--refresh-interval", type=int, default=None,
                    help="recrawl SUCCESS URLs fetched >= N rounds ago "
                         "(default: crawl to exhaustion, no recrawl)")
    ap.add_argument("--refresh-max-per-round", type=int, default=None,
                    help="cap refresh candidates per round")
    ap.add_argument("--refresh-intervals", default=None,
                    help="(key, interval) parquet dim from "
                         "jobs/run_freshness.py — per-host adaptive "
                         "recrawl intervals (--refresh-interval becomes "
                         "the fallback for unestimated hosts)")
    ap.add_argument("--retry-base-backoff", type=int, default=None,
                    help="retry FAILED URLs after base*2^(attempts-1) "
                         "rounds (default: a failed fetch is terminal)")
    ap.add_argument("--retry-max", type=int, default=3,
                    help="max RE-fetches after the initial attempt when "
                         "--retry-base-backoff is on (N retries = N+1 "
                         "total attempts)")
    ap.add_argument("--retry-max-per-round", type=int, default=None,
                    help="cap retry candidates per round")
    ap.add_argument("--bloom-min-frontier-rows", type=int, default=None,
                    help="adaptive seen-prefilter floor (default 500M; "
                         "0 forces the bloom path on)")
    ap.add_argument("--anchor-keywords", default=None,
                    help="integer keyword weights (JSON) for the "
                         "focused-crawl anchor-text admission boost")
    ap.add_argument("--trap-filters", action="store_true",
                    help="reject spider-trap URLs at admission")
    ap.add_argument("--mirror-detect-every", type=int, default=None,
                    help="every N rounds, sketch-detect mirror hosts from "
                         "fetched content and stop scheduling the b side "
                         "of confirmed pairs (default: off)")
    ap.add_argument("--mirror-min-jaccard-ppm", type=int, default=500_000,
                    help="KMV-Jaccard confirm threshold in ppm "
                         "(with --mirror-detect-every)")
    ap.add_argument("--dup-trap-detect-every", type=int, default=None,
                    help="every N rounds, profile fetched content per host "
                         "and stop scheduling duplicate-content trap hosts "
                         "(URL space exploding over near-constant content; "
                         "default: off)")
    ap.add_argument("--dup-trap-min-urls", type=int, default=50,
                    help="fetched-URL volume floor before a host can be "
                         "confirmed a dup-content trap")
    ap.add_argument("--dup-trap-ratio-bp", type=int, default=5000,
                    help="duplicate ratio (basis points) confirming a "
                         "dup-content trap host")
    ap.add_argument("--aging-weight-bp", type=int, default=None,
                    help="starvation-free scheduling: effective score += "
                         "rounds_waited * this/10^4 (default: off; prefer "
                         "binary fractions like 2500 = 0.25/round)")
    ap.add_argument("--rank-boost-every", type=int, default=None,
                    help="every N rounds, rank hosts by batch OPIC over "
                         "the fetched pages' host link graph and boost "
                         "admission scores of link-authoritative hosts "
                         "(default: off)")
    ap.add_argument("--rank-boost-weight-bp", type=int, default=10_000,
                    help="OPIC boost weight in basis points of score per "
                         "full 10^9 OPIC share (with --rank-boost-every)")
    ap.add_argument("--host-stats-every", type=int, default=None,
                    help="every N rounds, persist the per-host health "
                         "rollup (status counts + success basis points) "
                         "to the host_stats side table (default: off)")
    ap.add_argument("--strip-tracking", action="store_true",
                    help="strip tracking/session query params before dedup")
    ap.add_argument("--adaptive-budget", action="store_true",
                    help="failure-aware per-host politeness budgets")
    ap.add_argument("--apportion-total", type=int, default=None,
                    help="global per-round fetch budget, split across hosts "
                         "by pending demand (largest-remainder integer "
                         "apportionment; overrides --adaptive-budget)")
    ap.add_argument("--raw-artifacts", action="store_true",
                    help="parse raw robots.txt/sitemap.xml artifacts "
                         "instead of the pre-built rule tables")
    ap.add_argument("--rfc-robots", action="store_true",
                    help="full RFC 9309 robots matching (with --raw-artifacts)")
    ap.add_argument("--table-backend", choices=["parquet", "iceberg"],
                    default="parquet",
                    help="snapshot substrate (iceberg needs the runtime jar "
                         "+ a catalog named by --iceberg-namespace)")
    ap.add_argument("--iceberg-namespace", default="graft.db")
    ap.add_argument("--prep", action="store_true", help="emit template paths JSON instead of duplicate analysis")
    ap.add_argument("--out", default=None, help="optional output dir for analysis results")
    args = ap.parse_args()

    if args.seeds.startswith("@"):
        with open(args.seeds[1:]) as f:
            seeds = [ln.strip() for ln in f if ln.strip()]
    else:
        seeds = [s for s in args.seeds.split(",") if s]

    from pyspark.sql import SparkSession

    from smartcrawler_spark.plans.crawl import CrawlJob, EngineConfig

    spark = SparkSession.getActiveSession()
    if spark is None:  # not under spark-submit -> local session
        from smartcrawler_spark.session import get_spark

        spark = get_spark(app_name="smartcrawler-crawl")

    extra = {}
    if args.bloom_min_frontier_rows is not None:
        extra["bloom_min_frontier_rows"] = args.bloom_min_frontier_rows
    cfg = EngineConfig(
        keywords=json.loads(args.keywords),
        max_urls_per_host=args.max_urls_per_host,
        max_rounds=args.max_rounds,
        default_budget=args.default_budget,
        refresh_interval=args.refresh_interval,
        refresh_max_per_round=args.refresh_max_per_round,
        refresh_intervals_path=args.refresh_intervals,
        retry_base_backoff=args.retry_base_backoff,
        retry_max=args.retry_max,
        retry_max_per_round=args.retry_max_per_round,
        anchor_keywords=(json.loads(args.anchor_keywords)
                         if args.anchor_keywords else None),
        trap_filters=args.trap_filters,
        mirror_detect_every=args.mirror_detect_every,
        mirror_min_jaccard_ppm=args.mirror_min_jaccard_ppm,
        dup_trap_detect_every=args.dup_trap_detect_every,
        dup_trap_min_urls=args.dup_trap_min_urls,
        dup_trap_ratio_bp=args.dup_trap_ratio_bp,
        aging_weight_bp=args.aging_weight_bp,
        rank_boost_every=args.rank_boost_every,
        rank_boost_weight_bp=args.rank_boost_weight_bp,
        host_stats_every=args.host_stats_every,
        strip_tracking=args.strip_tracking,
        adaptive_budget=args.adaptive_budget,
        apportion_total=args.apportion_total,
        raw_artifacts=args.raw_artifacts,
        rfc_robots=args.rfc_robots,
        table_backend=args.table_backend,
        iceberg_namespace=args.iceberg_namespace,
        **extra,
    )
    job = CrawlJob(spark, args.corpus, args.checkpoint, cfg, seeds)
    summary = job.run()
    print(json.dumps(summary))

    if args.out:
        from smartcrawler_spark.plans.analysis import (
            duplicate_report,
            template_paths_json,
        )

        if args.prep:
            template_paths_json(spark, job, args.out)
        else:
            duplicate_report(spark, job, args.out)
        print(json.dumps({"analysis_out": args.out, "prep": args.prep}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
