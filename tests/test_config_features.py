"""Config-driven crawl features: seeds_path, budget derivation, backoff."""

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from walk_spark.config import CrawlConfig
from walk_spark.functions.urlnorm import is_webpage_url
from walk_spark.plans.crawl import crawl
from walk_spark.sources.pages import PAGES_SCHEMA, self_linking_pages, _row


def test_seeds_path_union(spark):
    """U2/S1: seeds ∪ lines of seeds_path, raw strings."""
    f = tempfile.NamedTemporaryFile("w", suffix=".txt", delete=False)
    f.write("http://self.test/a.html\n\nhttp://self.test/b.html\n")
    f.close()
    cfg = CrawlConfig(
        seeds=["http://self.test"], seeds_path=f.name,
        domains=["http://self.test"],
    )
    assert cfg.all_seeds() == [
        "http://self.test", "http://self.test/a.html",
        "http://self.test/b.html",
    ]
    r = crawl(spark, self_linking_pages(spark), cfg)
    # all three seeds fetched in superstep 1
    assert r.order.filter("superstep = 1").count() == 3
    os.unlink(f.name)


def test_effective_budget_derivation():
    # 10s superstep at 500ms delay = 20 fetches/host (F5 BSP reading)
    assert CrawlConfig(superstep_seconds=10, delay_milli=500)\
        .effective_host_budget() == 20
    assert CrawlConfig(host_budget_per_superstep=3, superstep_seconds=10)\
        .effective_host_budget() == 3
    assert CrawlConfig().effective_host_budget() == 0
    assert CrawlConfig(superstep_seconds=1, delay_milli=5000)\
        .effective_host_budget() == 1


def test_backoff_halves_host_budget(spark):
    """F12: a host answering a backoff code gets half budget the NEXT
    superstep, then recovers."""
    # corpus: 429 page linking 8 siblings that are all fine
    hrefs = [(f"p{i}.html", f"l{i}") for i in range(8)]
    rows = [_row("http://b.test/", 0, "root", hrefs, ["root"], status=429)]
    for i in range(8):
        rows.append(_row(f"http://b.test/p{i}.html", i + 1, f"p{i}", [], ["x"]))
    pages = spark.createDataFrame(rows, PAGES_SCHEMA)
    cfg = CrawlConfig(
        seeds=["http://b.test/"], domains=["http://b.test"],
        host_budget_per_superstep=4, backoff_codes=[429], max_attempts=1,
    )
    r = crawl(spark, pages, cfg)
    per = {x["superstep"]: x["count"] for x in
           r.order.groupBy("superstep").count().collect()}
    # ss1: root (429 -> backoff recorded, requeued); ss2: throttled to 2
    # (= 4//2); later supersteps recover to <= 4
    assert per[1] == 1
    assert per[2] == 2
    assert all(v <= 4 for v in per.values())
    # all pages eventually fetched
    assert r.frontier.filter(F.col("status") == "done").count() == 8


def test_is_webpage_url():
    assert is_webpage_url("http://a.com/page")
    assert is_webpage_url("http://a.com/page.html")
    assert not is_webpage_url("mailto:x@y.z")
    assert not is_webpage_url("data:text/plain;base64,aGk=")
    assert not is_webpage_url("http://a.com/style.css")
    assert not is_webpage_url("http://a.com/IMG.JPG")


class _Untouchable:
    """Stands in for the session and the pages: any use is a failure, so
    a config error must be raised before the Crawler starts a Spark job."""

    def __getattr__(self, name):
        raise AssertionError(f"touched .{name} before validating config")


def test_crawler_rejects_bad_prefilter_config_up_front():
    from walk_spark.operators.dedup import BLOOM_BROADCAST_MAX_BYTES
    from walk_spark.plans.crawl import Crawler
    # 64 partitions x 64 MB bitsets = 4 GB of filters, over the budget
    over = CrawlConfig(seeds=["http://self.test"], use_bloom=True,
                       seen_partitions=64, bloom_num_bits=1 << 29)
    assert 64 * (1 << 29) // 8 > BLOOM_BROADCAST_MAX_BYTES
    with pytest.raises(ValueError, match="broadcast budget"):
        Crawler(_Untouchable(), _Untouchable(), over)
    with pytest.raises(ValueError, match="unknown seen_filter"):
        Crawler(_Untouchable(), _Untouchable(),
                CrawlConfig(seeds=["http://self.test"], use_bloom=True,
                            seen_filter="quotient"))


def test_saved_config_with_removed_pin_knobs_still_loads():
    """``pin_width_factor`` and ``pin_rows_per_partition`` are module
    constants in plans.crawl now; a config saved with them still loads,
    its other fields intact."""
    import json

    saved = json.loads(CrawlConfig(seeds=["http://self.test"],
                                   pin_partitions=6).to_json())
    saved.update(pin_width_factor=5.0, pin_rows_per_partition=1000)
    cfg = CrawlConfig.from_json(json.dumps(saved))
    assert cfg == CrawlConfig(seeds=["http://self.test"], pin_partitions=6)
    assert not hasattr(cfg, "pin_width_factor")
