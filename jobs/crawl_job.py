"""spark-submit entry point for a crawl (north-rule deployment shape).

    spark-submit --py-files dist/walk_spark.zip jobs/crawl_job.py \
        --job job.json --pages <pages table path> --output <dir> \
        [--workdir <checkpoint dir>] [--resume]

Reads the job config (CrawlConfig JSON), crawls the pages corpus, writes
resources/frontier/order tables + sitemap.json + a metrics JSON line on
stdout. With --workdir the run checkpoints per superstep and --resume
restarts a killed run mid-crawl with identical ordering.
"""

from __future__ import annotations

import argparse
import json


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--job", required=True)
    p.add_argument("--pages", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--workdir", default=None)
    p.add_argument("--resume", action="store_true")
    args = p.parse_args()

    from pyspark.sql import SparkSession
    spark = SparkSession.builder.appName("walk_spark-crawl").getOrCreate()

    from walk_spark.config import CrawlConfig
    from walk_spark.plans.crawl import Crawler
    from walk_spark.operators.sitemap import (
        finalize_sitemap, sitemap_entries,
    )

    with open(args.job) as f:
        cfg = CrawlConfig.from_json(f.read())
    pages = spark.read.parquet(args.pages)
    if args.resume:
        if not args.workdir:
            raise SystemExit("--resume requires --workdir")
        crawler = Crawler.resume(spark, pages, cfg, args.workdir)
    else:
        crawler = Crawler(spark, pages, cfg, workdir=args.workdir)
    r = crawler.run()
    r.resources.write.mode("overwrite").parquet(f"{args.output}/resources")
    r.frontier.write.mode("overwrite").parquet(f"{args.output}/frontier")
    r.order.write.mode("overwrite").parquet(f"{args.output}/order")
    # auto-switches to the distributed fragment table past 1M entries
    # (sitemap.json.d, parts concatenating to the same bytes)
    finalize_sitemap(sitemap_entries(r.ok_resources()),
                     f"{args.output}/sitemap.json")
    print(json.dumps({"supersteps": len(r.metrics), "metrics": r.metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
