"""spark-submit entrypoint: derive adaptive recrawl intervals from two
corpus snapshots.

The freshness loop a crawl fleet runs between crawls:

    corpus_diff(old, new)            what actually changed per doc
      -> per-host (changed) history  one observation per doc seen twice
      -> change_rate_ppm             Laplace-smoothed integer ppm rates
      -> recrawl_intervals           clamped inverse-rate intervals
      -> (key, rate_ppm, interval)   parquet dim

The output is the artifact `jobs/run_crawl.py --refresh-intervals`
consumes (plans.crawl passes it to operators.frontier.refresh_due as
its `intervals` dim): hosts whose content moved often get short
revisit intervals, static hosts long ones.

Usage:

    python jobs/run_freshness.py --old /ckpt/corpus_v1 --new /ckpt/corpus_v2 \\
        --out /ckpt/intervals --base-interval 3 --max-interval 24

`--old/--new` are documents parquet dirs with (doc_id, spans) rows (the
engine corpus shape); the content fingerprint is md5 over the span
payload JSON, host is parsed from the doc_id URL. Pass --text-col for
plain (doc_id, text) corpora.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser(
        description="per-host change rates -> adaptive recrawl intervals")
    ap.add_argument("--old", required=True, help="older documents parquet dir")
    ap.add_argument("--new", required=True, help="newer documents parquet dir")
    ap.add_argument("--out", required=True, help="output intervals parquet dir")
    ap.add_argument("--base-interval", type=int, default=3,
                    help="revisit interval (rounds) for an always-changing host")
    ap.add_argument("--min-interval", type=int, default=1)
    ap.add_argument("--max-interval", type=int, default=None)
    ap.add_argument("--text-col", default=None,
                    help="fingerprint this text column instead of the spans payload")
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from smartcrawler_spark.functions import urls as U
    from smartcrawler_spark.plans.analysis import (change_rate_ppm,
                                                   corpus_diff,
                                                   recrawl_intervals)

    spark = SparkSession.getActiveSession()
    if spark is None:
        from smartcrawler_spark.session import get_spark

        spark = get_spark(app_name="smartcrawler-freshness")

    old = spark.read.parquet(args.old)
    new = spark.read.parquet(args.new)
    fp = (F.md5(F.col(args.text_col)) if args.text_col
          else F.md5(F.to_json(F.col("spans"))))
    diff = corpus_diff(old, new, id_col="doc_id", fingerprint=fp)
    # a revisit OBSERVATION is a doc present in both snapshots; docs only
    # added or removed say nothing about in-place change rates
    history = (
        diff.filter(F.col("change").isin("changed", "unchanged"))
        .select(
            U.url_host(F.col("doc_id")).alias("host"),
            (F.col("change") == "changed").cast("int").alias("changed"),
        )
        .filter(F.col("host").isNotNull())
    )
    rates = change_rate_ppm(history)
    out = recrawl_intervals(rates, args.base_interval,
                            min_interval=args.min_interval,
                            max_interval=args.max_interval)
    out = out.join(rates.select("key", "n_obs", "n_changed"), "key")
    out.write.mode("overwrite").parquet(args.out)
    # count the WRITTEN files, not the plan — re-counting `out` would
    # re-execute the whole change-rate pipeline a second time (r6; the
    # same footer style as run_rank_hosts / run_search)
    n = spark.read.parquet(args.out).count()
    print(f"freshness: {n} hosts -> {args.out}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
