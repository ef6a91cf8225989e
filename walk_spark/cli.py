"""Command-line surface — the walk CLI re-expressed over Spark.

Mirrors the reference's cobra commands (cmd/*.go):
  start          cmd/start.go:24-90       run a crawl job from a JSON config
  inbound-links  cmd/inbound_links.go:21-82
  clean          cmd/clean.go:20-107
  normalize-url  cmd/normalize_url.go:12-30
  sitemap        (finalize path of lib/sitemap.go:62-116)
  job new        cmd/job.go:16-28         print a default job config JSON
  server         cmd/server.go:9-29       serve the REST API (walk_spark.server)

Usage: python -m walk_spark.cli <command> [args]
The pages corpus stands in for the network (BASELINE.json input_hint); point
--pages at a parquet/Iceberg table of (url, warc_ts, html, text, lang).
"""

from __future__ import annotations

import argparse
import json
import sys

from walk_spark.config import CrawlConfig
from walk_spark.functions.urlnorm import normalize_url


def _spark(cpus: str = "*"):
    from pyspark.sql import SparkSession
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("walk_spark-cli")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def cmd_start(args) -> int:
    """Run a crawl: seeds+config -> resources/frontier/order parquet +
    sitemap.json (the `walk start` flow, cmd/start.go)."""
    from walk_spark.plans.crawl import crawl
    from walk_spark.operators.sitemap import (
        finalize_sitemap, sitemap_entries,
    )
    with open(args.job) as f:
        cfg = CrawlConfig.from_json(f.read())
    spark = _spark(args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    # live-HTTP jobs (fetch_mode="http" in the config) need no pages table
    pages = (
        spark.read.parquet(args.pages)
        if cfg.fetch_mode != "http" else None
    )
    r = crawl(spark, pages, cfg, workdir=args.workdir)
    out = args.output
    r.resources.write.mode("overwrite").parquet(f"{out}/resources")
    r.frontier.write.mode("overwrite").parquet(f"{out}/frontier")
    r.order.write.mode("overwrite").parquet(f"{out}/order")
    # auto-switches to the distributed fragment table past 1M entries
    # (sitemap.json.d, parts concatenating to the same bytes)
    finalize_sitemap(sitemap_entries(r.ok_resources()), f"{out}/sitemap.json")
    print(json.dumps({"supersteps": len(r.metrics), "metrics": r.metrics}))
    return 0


def _entries_or_resources(spark, path: str):
    """S13 input polymorphism: a ``*.json`` path is a finalized sitemap
    (the reference commands' input — cmd/inbound_links.go:35-52); anything
    else is a resources parquet table."""
    if path.endswith(".json"):
        from walk_spark.operators.sitemap import read_sitemap_json
        return read_sitemap_json(spark, path), True
    return spark.read.parquet(path), False


def cmd_inbound_links(args) -> int:
    """Sources linking to a url (cmd/inbound_links.go; reads a sitemap.json
    like the reference, or a resources parquet table)."""
    from walk_spark.operators.queries import inbound_links
    spark = _spark(args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    res, _ = _entries_or_resources(spark, args.resources)
    rows = [x["url"] for x in inbound_links(res, args.url).collect()]
    out = json.dumps(rows, indent=2)
    if args.output:
        with open(args.output, "w") as f:
            f.write(out)
    else:
        print(out)
    return 0


def cmd_clean(args) -> int:
    """Drop sitemap entries under a url prefix (cmd/clean.go)."""
    from walk_spark.operators.queries import clean
    from walk_spark.plans.crawl import ok_resources
    from walk_spark.operators.sitemap import (
        render_sitemap_json, sitemap_entries,
    )
    spark = _spark(args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    res, is_sitemap = _entries_or_resources(spark, args.resources)
    if is_sitemap:
        entries = res
    else:
        entries = sitemap_entries(ok_resources(res))
    kept, stats = clean(entries, args.prefix)
    with open(args.output, "w") as f:
        f.write(render_sitemap_json(kept))
    print(json.dumps(stats))
    return 0


def cmd_normalize_url(args) -> int:
    """Canonicalize one url (cmd/normalize_url.go:12-30)."""
    print(normalize_url(args.url))
    return 0


def cmd_sitemap(args) -> int:
    """Render sitemap.json from a resources table (lib/sitemap.go:62-116)."""
    from walk_spark.plans.crawl import ok_resources
    from walk_spark.operators.sitemap import (
        render_sitemap_json, sitemap_entries,
    )
    spark = _spark(args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    ok = ok_resources(spark.read.parquet(args.resources))
    out = render_sitemap_json(sitemap_entries(ok))
    if args.output:
        with open(args.output, "w") as f:
            f.write(out)
    else:
        print(out)
    return 0


def cmd_job_new(args) -> int:
    """Print a blank job config JSON with defaults — `walk job new`
    (cmd/job.go:16-28 marshals lib.DefaultJobConfig)."""
    print(CrawlConfig(seeds=[]).to_json())
    return 0


def cmd_server(args) -> int:
    """Serve a crawled walk's resources over the REST API — `walk server`
    (cmd/server.go:9-29; routes per api/server.go:47-68)."""
    from walk_spark.plans.crawl import ok_resources
    from walk_spark.server import WalkServer

    spark = _spark(args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    ok = ok_resources(spark.read.parquet(args.resources))
    frontier = (
        spark.read.parquet(args.frontier) if args.frontier else None
    )
    srv = WalkServer({args.walk_id: ok}, frontier=frontier)
    port = srv.serve(args.port)
    print(json.dumps({"port": port}))
    if args.block:
        import threading
        threading.Event().wait()  # serve until killed (SIGINT)
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="walk_spark")
    p.add_argument("--cpus", default="*", help="local[N] parallelism")
    sub = p.add_subparsers(dest="cmd", required=True)

    s = sub.add_parser("start", help="run a crawl job")
    s.add_argument("--job", required=True, help="job config JSON path")
    s.add_argument("--pages", default=None,
                   help="pages parquet path (omit for fetch_mode=http)")
    s.add_argument("--output", required=True, help="output directory")
    s.add_argument("--workdir", default=None, help="checkpoint directory")
    s.set_defaults(fn=cmd_start)

    s = sub.add_parser("inbound-links", help="who links to a url")
    s.add_argument("resources", help="resources parquet path")
    s.add_argument("url")
    s.add_argument("--output", default=None)
    s.set_defaults(fn=cmd_inbound_links)

    s = sub.add_parser("clean", help="drop sitemap entries under a prefix")
    s.add_argument("resources")
    s.add_argument("prefix")
    s.add_argument("--output", required=True)
    s.set_defaults(fn=cmd_clean)

    s = sub.add_parser("normalize-url", help="canonicalize a url")
    s.add_argument("url")
    s.set_defaults(fn=cmd_normalize_url)

    s = sub.add_parser("sitemap", help="render sitemap.json")
    s.add_argument("resources")
    s.add_argument("--output", default=None)
    s.set_defaults(fn=cmd_sitemap)

    j = sub.add_parser("job", help="work with walk jobs")
    jsub = j.add_subparsers(dest="jobcmd", required=True)
    s = jsub.add_parser("new", help="create a new blank job file")
    s.set_defaults(fn=cmd_job_new)

    s = sub.add_parser("server", help="start an api server")
    s.add_argument("resources", help="resources parquet path")
    s.add_argument("--walk-id", default="walk", help="collection id")
    s.add_argument("--frontier", default=None,
                   help="frontier parquet path (enables /jobs requests)")
    s.add_argument("--port", type=int, default=3000,
                   help="listen port (0 = ephemeral; ref serves on 3000)")
    s.add_argument("--block", action="store_true", default=True,
                   help="serve until killed (default)")
    s.add_argument("--no-block", dest="block", action="store_false",
                   help="return after binding (tests)")
    s.set_defaults(fn=cmd_server)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
