"""Checkpoint/resume (F17): kill mid-crawl, resume, byte-identical state."""

import tempfile

import pytest
from pyspark.sql import functions as F

from walk_spark.config import CrawlConfig
from walk_spark.plans.crawl import Crawler, crawl
from walk_spark.sources.pages import tree_site_pages


def _cfg(**kw):
    base = dict(
        seeds=["http://qri.test/"], domains=["http://qri.test"],
        host_budget_per_superstep=5,
    )
    base.update(kw)
    return CrawlConfig(**base)


def _order_tuples(r):
    return [
        (x["superstep"], x["discovery_seq"], x["url"])
        for x in r.order.orderBy("superstep", "discovery_seq", "url").collect()
    ]


def test_kill_and_resume_is_identical(spark):
    wd = tempfile.mkdtemp()
    pages = tree_site_pages(spark)
    # "kill" after 2 supersteps
    c = Crawler(spark, pages, _cfg(max_supersteps=2), workdir=wd)
    c.run()
    assert c.superstep == 2
    # resume with the full config and finish
    c2 = Crawler.resume(spark, pages, _cfg(), wd)
    assert c2.superstep == 2
    r_resumed = c2.run()
    # uninterrupted reference run
    r_full = crawl(spark, pages, _cfg())
    assert _order_tuples(r_resumed) == _order_tuples(r_full)
    a = {(x["url"], x["status"], x["attempts"], x["discovery_seq"])
         for x in r_resumed.frontier.collect()}
    b = {(x["url"], x["status"], x["attempts"], x["discovery_seq"])
         for x in r_full.frontier.collect()}
    assert a == b
    # resources parts reassembled completely (ok rows match)
    assert (
        r_resumed.ok_resources().count() == r_full.ok_resources().count()
    )


def test_resume_of_finished_crawl_is_noop(spark):
    wd = tempfile.mkdtemp()
    pages = tree_site_pages(spark)
    c = Crawler(spark, pages, _cfg(), workdir=wd)
    r1 = c.run()
    n_metrics = len(r1.metrics)
    c2 = Crawler.resume(spark, pages, _cfg(), wd)
    r2 = c2.run()
    assert len(r2.metrics) == n_metrics  # no extra supersteps ran
    assert r2.frontier.filter(F.col("status") == "queued").count() == 0


def test_resume_restores_backoff_throttle(spark):
    """F12 state survives resume: a host that returned backoff codes gets
    the SAME halved budget after restart — batch picks stay identical."""
    import datetime as dt
    from walk_spark.sources.pages import PAGES_SCHEMA, _page_html
    ts = dt.datetime(2000, 1, 1)
    hrefs = [(f"/p{i}.html", f"p{i}") for i in range(6)]
    rows = [("http://b.test/", ts, _page_html("root", hrefs, ["root"]),
             None, "en", 429, "text/html; charset=utf-8", None)]
    for i in range(6):
        rows.append((f"http://b.test/p{i}.html", ts,
                     _page_html(f"p{i}", [], [f"page {i}"]),
                     None, "en", 200, "text/html; charset=utf-8", None))
    pages = spark.createDataFrame(rows, PAGES_SCHEMA)

    def cfg():
        return CrawlConfig(
            seeds=["http://b.test/"], domains=["http://b.test"],
            host_budget_per_superstep=4, max_attempts=1,
            record_redirects=False,
        )

    # straight-through run
    full = crawl(spark, pages, cfg())
    # killed-after-superstep-1 run (the backoff superstep), then resume
    wd = tempfile.mkdtemp()
    c1 = Crawler(spark, pages, cfg(), workdir=wd)
    c1.cfg.max_supersteps = 1
    c1.run()
    assert c1._backoff_hosts is not None  # 429 triggered the throttle
    c2 = Crawler.resume(spark, pages, cfg(), wd)
    assert c2._backoff_hosts is not None  # restored from the manifest
    r2 = c2.run()
    a = [(m["superstep"], m["batch"]) for m in full.metrics]
    b = [(m["superstep"], m["batch"]) for m in r2.metrics]
    assert a == b
    # the superstep after the 429 is budget-halved: ≤ 2 urls of b.test
    assert full.metrics[1]["batch"] <= 2


def test_manifest_per_partition_lineage(spark):
    """F17: the manifest records per-partition frontier lineage
    (snapshot_id, rows_in, rows_out, frontier_partition_rows) — the Iceberg
    manifest-table shape from SURVEY §2 F17."""
    import json, os
    wd = tempfile.mkdtemp()
    cfg = CrawlConfig(seeds=["http://qri.test/"], domains=["http://qri.test"],
                      seen_partitions=4)
    r = crawl(spark, tree_site_pages(spark), cfg, workdir=wd)
    with open(os.path.join(wd, "manifest.jsonl")) as f:
        recs = [json.loads(x) for x in f if x.strip()]
    assert len(recs) == len(r.metrics)
    for rec in recs:
        assert rec["snapshot_id"].endswith(f"-{rec['superstep']:05d}")
        assert rec["rows_in"] == rec["metrics"]["batch"]
        assert rec["rows_out"] == sum(rec["frontier_partition_rows"].values())
    # frontier only grows; final lineage total equals the final frontier
    outs = [rec["rows_out"] for rec in recs]
    assert outs == sorted(outs)
    assert outs[-1] == r.frontier.count()


def test_kill_and_resume_identical_with_cuckoo_filter(spark):
    """Resume is filter-kind-agnostic: a killed seen_filter='cuckoo' crawl
    resumes byte-identically (the filters rebuild from the restored
    frontier, hwm reset included)."""
    kw = dict(use_bloom=True, seen_filter="cuckoo",
              bloom_num_bits=65536, seen_partitions=4)
    wd = tempfile.mkdtemp()
    pages = tree_site_pages(spark)
    c = Crawler(spark, pages, _cfg(max_supersteps=2, **kw), workdir=wd)
    c.run()
    assert c.superstep == 2
    c2 = Crawler.resume(spark, pages, _cfg(**kw), wd)
    r_resumed = c2.run()
    r_full = crawl(spark, pages, _cfg(**kw))
    assert _order_tuples(r_resumed) == _order_tuples(r_full)


def test_resume_skips_torn_trailing_manifest_line(spark):
    """A crawl killed while appending its last manifest line leaves that
    line torn: resume drops it, redoes the superstep from the last
    complete record, and the crawl order is byte-identical to the
    uninterrupted run. The torn bytes are cut from the file, so the
    resumed run's own lines stay readable."""
    import json, os
    wd = tempfile.mkdtemp()
    pages = tree_site_pages(spark)
    cfg = dict(host_budget_per_superstep=0)  # BFS depth = few supersteps
    r_full = Crawler(spark, pages, _cfg(**cfg), workdir=wd).run()
    n = len(r_full.metrics)
    want = _order_tuples(r_full)  # before the resume rewrites superstep n
    path = os.path.join(wd, "manifest.jsonl")
    with open(path) as f:
        lines = f.readlines()
    assert len(lines) == n > 1
    with open(path, "w") as f:
        f.write("".join(lines[:-1]) + lines[-1][: len(lines[-1]) // 2])
    c2 = Crawler.resume(spark, pages, _cfg(**cfg), wd)
    assert c2.superstep == n - 1
    r_resumed = c2.run()
    assert _order_tuples(r_resumed) == want
    with open(path) as f:
        recs = [json.loads(x) for x in f]
    assert [r["superstep"] for r in recs] == list(range(1, n + 1))


def test_torn_manifest_line_before_the_last_raises(tmp_path):
    from walk_spark.plans.crawl import _read_manifest
    path = tmp_path / "manifest.jsonl"
    path.write_text('{"superstep": 1}\n{"superst\n{"superstep": 3}\n')
    with pytest.raises(ValueError):
        _read_manifest(str(path))
