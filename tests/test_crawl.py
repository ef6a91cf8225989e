"""End-to-end crawl semantics on the reference-derived fixtures.

Encodes the reference's intended invariants, including those from its
*disabled* tests (SURVEY.md §5): no-requeue (lib/job_test.go:21-53),
no-crawl mode (lib/job_test.go:55-88), redirect chains + cap
(lib/worker_test.go:3-79).
"""

import re

import pytest
from pyspark.sql import functions as F

from walk_spark.config import CrawlConfig
from walk_spark.plans.crawl import crawl
from walk_spark.sources.pages import (
    redirect_chain_pages, self_linking_pages, tree_site_pages, two_page_pages,
)


@pytest.fixture(scope="module")
def self_linking_result(spark):
    cfg = CrawlConfig(
        seeds=["http://self.test"], domains=["http://self.test"]
    )
    return crawl(spark, self_linking_pages(spark), cfg)


def test_self_linking_visits_each_url_once(self_linking_result):
    r = self_linking_result
    # no-requeue invariant: 4 urls, each fetched exactly once
    order = [(x["superstep"], x["url"]) for x in r.order.orderBy(
        "superstep", "discovery_seq", "url").collect()]
    assert order == [
        (1, "http://self.test"),
        (2, "http://self.test/a.html"),
        (2, "http://self.test/b.html"),
        (2, "http://self.test/c.html"),
    ]
    assert r.frontier.count() == 4
    assert r.frontier.filter(F.col("status") == "done").count() == 4


def test_self_linking_resources(self_linking_result):
    r = self_linking_result
    ok = r.ok_resources()
    assert ok.count() == 4
    row = ok.filter(F.col("url") == "http://self.test").first()
    assert row["title"] == "Self-Linking Test"
    assert row["links"] == [
        "http://self.test",
        "http://self.test/a.html",
        "http://self.test/b.html",
        "http://self.test/c.html",
    ]
    assert row["hash"].startswith("Qm")


def test_extracted_text_byte_identical(spark, self_linking_result):
    """The per-url invariant: extracted text == the pages table's text column."""
    pages = self_linking_pages(spark).select(
        F.col("text").alias("expected"), "url"
    )
    got = self_linking_result.ok_resources().select("url", "text").join(
        pages.withColumn("url", F.regexp_replace("url", "/$", "")), "url"
    )
    bad = got.filter(F.col("text") != F.col("expected"))
    assert bad.count() == 0
    assert got.count() == 4


def test_no_crawl_mode(spark):
    # crawl=false fetches only seeds (lib/job_test.go:55-88 intent)
    cfg = CrawlConfig(
        seeds=["http://self.test"], domains=["http://self.test"], crawl=False
    )
    r = crawl(spark, self_linking_pages(spark), cfg)
    assert r.frontier.count() == 1
    assert r.ok_resources().count() == 1


def test_two_page_retry_and_dedup(spark):
    """two_page: /b is absent from the corpus -> fetch-error path retried
    MaxAttempts times then failed (lib/coordinator.go:381-384); the raw seed
    and its normalized twin are BOTH fetched (exact-string dedup parity,
    lib/coordinator.go:174-178 vs lib/resource.go:177)."""
    cfg = CrawlConfig(seeds=["https://www.a.com"], domains=["https://www.a.com"])
    r = crawl(spark, two_page_pages(spark), cfg)
    by_url = {x["url"]: x for x in r.frontier.collect()}
    assert by_url["https://www.a.com"]["status"] == "done"
    assert by_url["http://a.com/a"]["status"] == "done"
    # normalized twin of the seed discovered via /a's backlink
    assert by_url["http://a.com"]["status"] == "done"
    assert by_url["http://a.com/b"]["status"] == "failed"
    # MaxAttempts=3 -> 4 fetch attempts (attempts<=max requeues)
    assert by_url["http://a.com/b"]["attempts"] == 4
    errs = r.resources.filter(F.col("error").isNotNull())
    assert errs.count() == 4


def test_requeued_raw_seed_still_normalized(spark):
    """A seed that needs normalization AND fails (500 -> requeue) must be
    normalized on EVERY attempt, not just the first: its normal form,
    noted once at enqueue, keeps serving the fetch key, so each retry
    still hits the corpus row (status 500), never degrades to a 'not
    found' miss."""
    pages = spark.createDataFrame(
        [
            ("http://mixed.test", b"<html><body>boom</body></html>", 500),
            ("http://mixed.test/ok", b"<html><body>fine</body></html>", 200),
        ],
        "url string, html binary, status int",
    ).withColumn("warc_ts", F.to_timestamp(F.lit("2000-01-01 00:00:00")))
    cfg = CrawlConfig(
        # raw seed spelling normalizes to http://mixed.test
        seeds=["HTTPS://WWW.MiXed.test/", "http://mixed.test/ok"],
        domains=["http://mixed.test"],
        max_attempts=2,
    )
    r = crawl(spark, pages, cfg)
    seed_rows = r.resources.filter(
        F.col("url") == "HTTPS://WWW.MiXed.test/"
    ).collect()
    # 1 + max_attempts fetches, every one matched the corpus row (500),
    # none fell through to the miss branch
    assert len(seed_rows) == 3
    assert all(x["status"] == 500 for x in seed_rows)
    assert all(x["error"] is None for x in seed_rows)
    by_url = {x["url"]: x for x in r.frontier.collect()}
    assert by_url["HTTPS://WWW.MiXed.test/"]["status"] == "failed"
    assert by_url["http://mixed.test/ok"]["status"] == "done"


def test_resumed_raw_seed_normalized(spark, tmp_path):
    """A non-normalized seed still queued in a durable snapshot is matched
    to its corpus row after Crawler.resume: the resumed crawler notes the
    snapshot's depth-0 fetch keys itself, with no seed list."""
    from walk_spark.plans.crawl import Crawler
    raw = "HTTP://WWW.Self.test/a.html"

    def cfg(**kw):
        # host budget 1: the first seed (a miss that fails at once) takes
        # superstep 1, the raw seed stays queued in the snapshot
        return CrawlConfig(seeds=["http://self.test/nopage", raw],
                           domains=["http://self.test"], max_attempts=0,
                           host_budget_per_superstep=1, **kw)

    wd = str(tmp_path)
    Crawler(spark, self_linking_pages(spark), cfg(max_supersteps=1),
            workdir=wd).run()
    r = Crawler.resume(spark, self_linking_pages(spark), cfg(), wd).run()
    seed = r.resources.filter(F.col("url") == raw).collect()
    assert len(seed) == 1
    assert seed[0]["error"] is None and seed[0]["status"] == 200
    assert r.order.filter(F.col("depth") == 1).count() > 0  # links expanded


def test_add_seeds_df_raw_url_normalized(spark):
    """A non-normalized url streamed in with add_seeds_df after the crawl
    finished is fetched under its normal form: status 200, no miss."""
    from walk_spark.plans.crawl import Crawler
    raw = "HTTP://WWW.Self.test/b.html"
    c = Crawler(spark, self_linking_pages(spark), CrawlConfig(
        seeds=["http://self.test"], domains=["http://self.test"]))
    c.run()
    assert c.add_seeds_df(spark.createDataFrame([(raw,)], "url string")) == 1
    rows = c.run().resources.filter(F.col("url") == raw).collect()
    assert len(rows) == 1
    assert rows[0]["status"] == 200 and rows[0]["error"] is None


def test_streamed_fetch_keys_stay_on_executors(spark):
    """https and www urls streamed in with add_seeds_df are fetched under
    their normal forms; their fetch keys stay in a DataFrame, and are
    dropped by the next add_seeds_df once those urls have left the
    queue."""
    from walk_spark.plans.crawl import Crawler
    raws = ["https://www.self.test/a.html", "https://self.test/b.html/"]
    c = Crawler(spark, self_linking_pages(spark), CrawlConfig(
        seeds=["http://self.test"], domains=["http://self.test"]))
    c.run()
    assert c.add_seeds_df(spark.createDataFrame(
        [(u,) for u in raws], "url string")) == 2
    assert dict(tuple(r) for r in c._seed_norm_df.collect()) == {
        raws[0]: "http://self.test/a.html",
        raws[1]: "http://self.test/b.html"}
    rows = c.run().resources.filter(F.col("url").isin(raws)).collect()
    assert sorted((x["url"], x["status"], x["error"]) for x in rows) == [
        (u, 200, None) for u in sorted(raws)]
    c.add_seeds_df(spark.createDataFrame(
        [("http://self.test/new.html",)], "url string"))
    assert c._seed_norm_df is None
    c.close()


def test_forgotten_raw_seed_refetched_once(spark):
    """forget_urls drops a raw seed's fetch key, so re-adding the seed
    leaves one key for it: the next run fetches it exactly once."""
    from walk_spark.plans.crawl import Crawler
    raw = "HTTP://WWW.Self.test/a.html"
    c = Crawler(spark, self_linking_pages(spark), CrawlConfig(
        seeds=[raw], domains=["http://self.test"]))
    c.run()
    assert c.forget_urls([raw]) == 1
    c.add_seeds([raw])
    rows = c.run().resources.filter(F.col("url") == raw).collect()
    assert [(x["status"], x["error"]) for x in rows] == [(200, None)] * 2
    c.close()


def _outer_plan(df) -> list[str]:
    """``df``'s executed plan lines outside cached relations (the corpus
    prep ran when it was cached)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    outer, cached_at = [], None
    for ln in plan.splitlines():
        col = re.search(r"[A-Za-z]", ln).start()
        if cached_at is not None and col > cached_at:
            continue
        cached_at = col if "InMemoryRelation" in ln else None
        outer.append(ln)
    return outer


def test_add_seeds_df_normalized_urls_fetch_without_udf(spark):
    """Streamed urls that are already normalized add no fetch key: the
    fetch plan's only Python pass is the extraction."""
    from walk_spark.plans.crawl import Crawler
    c = Crawler(spark, self_linking_pages(spark), CrawlConfig(
        seeds=["http://self.test"], domains=["http://self.test"]))
    c.run()
    assert c.add_seeds_df(spark.createDataFrame(
        [("http://self.test/new.html",)], "url string")) == 1
    assert c._seed_norm_df is None
    outer = _outer_plan(c._fetch(c._pick_batch(c._queued)))
    evals = [ln for ln in outer if "ArrowEvalPython" in ln]
    assert len(evals) == 1 and "_extract_batch" in evals[0], outer
    c.close()


def test_run_restores_caller_job_description(spark):
    """run() labels its jobs ss<k>:<phase> but hands the caller's own job
    description back when it returns."""
    sc = spark.sparkContext
    sc.setJobDescription("caller-label")
    try:
        crawl(spark, self_linking_pages(spark), CrawlConfig(
            seeds=["http://self.test"], domains=["http://self.test"],
            use_bloom=True, bloom_num_bits=65536, seen_partitions=4))
        assert sc.getLocalProperty("spark.job.description") == "caller-label"
    finally:
        sc.setJobDescription(None)


def test_ignore_patterns(spark):
    cfg = CrawlConfig(
        seeds=["http://self.test"],
        domains=["http://self.test"],
        ignore_patterns=["b.html"],
    )
    r = crawl(spark, self_linking_pages(spark), cfg)
    urls = {x["url"] for x in r.frontier.collect()}
    assert "http://self.test/b.html" not in urls
    assert len(urls) == 3


def test_stop_after_entries(spark):
    cfg = CrawlConfig(
        seeds=["http://self.test"], domains=["http://self.test"],
        stop_after_entries=1,
    )
    r = crawl(spark, self_linking_pages(spark), cfg)
    # halts after the superstep that completed 1 entry
    assert r.metrics[-1]["superstep"] == 1
    assert r.frontier.filter(F.col("status") == "done").count() == 1


def test_stop_url(spark):
    cfg = CrawlConfig(
        seeds=["http://self.test"], domains=["http://self.test"],
        stop_url="http://self.test",
    )
    r = crawl(spark, self_linking_pages(spark), cfg)
    assert r.metrics[-1]["superstep"] == 1


def test_redirect_chain_and_cap(spark):
    cfg = CrawlConfig(
        seeds=["http://redir.test/r0", "http://redir.test/l0"],
        domains=["http://redir.test"],
        record_redirects=True,
    )
    r = crawl(spark, redirect_chain_pages(spark), cfg)
    by_url = {x["url"]: x for x in r.frontier.collect()}
    # 5-hop chain lands on /final which is recorded done
    assert by_url["http://redir.test/r0"]["status"] == "redirected"
    assert by_url["http://redir.test/final"]["status"] == "done"
    # 12-hop chain exceeds the cap of 10 -> error path -> retries -> failed
    assert by_url["http://redir.test/l0"]["status"] == "failed"
    assert "http://redir.test/never" not in by_url
    # hop rows recorded with normalized redirect edges (F6)
    hops = r.resources.filter(F.col("redirect_to").isNotNull())
    first = hops.filter(
        (F.col("url") == "http://redir.test/r0") & (F.col("superstep") == 1)
    ).first()
    assert first["redirect_to"] == "http://redir.test/r1"
    # terminal resource relabeled to the normalized final url (F7)
    finals = r.ok_resources().filter(F.col("url") == "http://redir.test/final")
    assert finals.count() == 1


def test_tree_site_full_coverage(spark):
    cfg = CrawlConfig(seeds=["http://qri.test/"], domains=["http://qri.test"])
    pages = tree_site_pages(spark)
    r = crawl(spark, pages, cfg)
    done = r.frontier.filter(F.col("status") == "done")
    # all pages reachable; css fetched via <link href>; mailto/data rejected
    urls = {x["url"] for x in done.collect()}
    assert "http://qri.test/css/site.css" in urls
    assert "http://qri.test/feed.xml" in urls
    assert not any(u.startswith("mailto:") or u.startswith("data:") for u in urls)
    # non-HTML pages yield no links (sniff gate P4)
    css = r.ok_resources().filter(
        F.col("url") == "http://qri.test/css/site.css"
    ).first()
    assert css["links"] == []
    # every reachable page got fetched exactly once (no-requeue)
    assert r.order.groupBy("url").count().filter("count > 1").count() == 0


def test_politeness_budget_same_visit_set(spark):
    """Budgeted crawl visits the same set, spread over more supersteps."""
    base = CrawlConfig(seeds=["http://qri.test/"], domains=["http://qri.test"])
    budget = CrawlConfig(
        seeds=["http://qri.test/"], domains=["http://qri.test"],
        host_budget_per_superstep=3,
    )
    pages = tree_site_pages(spark)
    r1 = crawl(spark, pages, base)
    r2 = crawl(spark, pages, budget)
    s1 = {x["url"] for x in r1.frontier.collect()}
    s2 = {x["url"] for x in r2.frontier.collect()}
    assert s1 == s2
    assert len(r2.metrics) > len(r1.metrics)
    # budget respected per superstep
    per = r2.order.groupBy("superstep").count().collect()
    assert all(x["count"] <= 3 for x in per)


def test_duplicate_normalized_corpus_urls_fetch_once(spark):
    """Two corpus rows normalizing to the same url (e.g. with/without
    default port) must not fan out the fetch join: latest capture wins,
    metrics count each url once, the crawl still terminates cleanly."""
    import datetime as dt
    from walk_spark.sources.pages import PAGES_SCHEMA, _page_html
    ts = dt.datetime(2000, 1, 1)
    mk = lambda url, sec, title: (
        url, ts + dt.timedelta(seconds=sec),
        _page_html(title, [("a.html", "a")], [title]),
        None, "en", 200, "text/html; charset=utf-8", None,
    )
    rows = [
        mk("http://dup.test/", 0, "old"),
        mk("http://dup.test:80/", 5, "new"),   # same normalized url, later
        mk("http://dup.test/a.html", 1, "a"),
    ]
    pages = spark.createDataFrame(rows, PAGES_SCHEMA)
    cfg = CrawlConfig(seeds=["http://dup.test/"], domains=["http://dup.test"],
                      record_redirects=False)
    r = crawl(spark, pages, cfg)
    root = [x for x in r.resources.collect() if x["url"] == "http://dup.test/"]
    assert len(root) == 1
    assert root[0]["title"] == "new"          # latest warc_ts won
    assert sum(m["batch"] for m in r.metrics) == r.order.count()


def test_add_seeds_in_batch_duplicates_idempotent(spark):
    """A micro-batch carrying duplicate urls enqueues one frontier row."""
    from walk_spark.plans.crawl import Crawler
    pages = self_linking_pages(spark)
    cfg = CrawlConfig(seeds=["http://self.test"],
                      domains=["http://self.test"], crawl=False)
    c = Crawler(spark, pages, cfg)
    c.add_seeds(["http://self.test/a.html", "http://self.test/a.html",
                 "http://self.test/b.html"])
    front = c.frontier.filter(F.col("status") == "queued").collect()
    urls = sorted(x["url"] for x in front)
    assert urls == ["http://self.test", "http://self.test/a.html",
                    "http://self.test/b.html"]
    r = c.run()
    assert sum(m["batch"] for m in r.metrics) == 3


def test_record_headers_flatten_and_map_view(spark):
    """P6/P12: headers array recorded when record_headers, NULL otherwise;
    map view pairs the flattened [k1,v1,...] slots (lib/resource.go:41-67)."""
    from walk_spark.operators.queries import headers_map
    cfg = CrawlConfig(seeds=["http://self.test"], domains=["http://self.test"],
                      record_headers=True)
    r = crawl(spark, self_linking_pages(spark), cfg)
    rows = r.ok_resources().select("url", "headers").collect()
    assert rows and all(x["headers"] == ["Content-Type",
                                         "text/html; charset=utf-8"]
                        for x in rows)
    m = headers_map(r.ok_resources()).select("headers_map").first()
    assert m["headers_map"] == {"Content-Type": "text/html; charset=utf-8"}
    # off by default: column exists, values NULL (config is honored)
    cfg2 = CrawlConfig(seeds=["http://self.test"], domains=["http://self.test"])
    r2 = crawl(spark, self_linking_pages(spark), cfg2)
    assert all(x["headers"] is None
               for x in r2.ok_resources().select("headers").collect())
    # odd-length arrays drop the dangling key; NULL stays NULL
    df = spark.createDataFrame([(["a", "1", "b"],), (None,)],
                               "headers array<string>")
    got = [x["headers_map"] for x in headers_map(df).collect()]
    assert got == [{"a": "1"}, None]


def test_long_crawl_terminal_compaction_bounds_state(spark):
    """Frontier split at depth (SURVEY F17 scale shape): a chain-shaped
    corpus forces one url per superstep; after ≥ 3×_TERM_COMPACT
    supersteps the terminal parts must have been compacted (bounded plan
    width) and the per-superstep active set stays O(1) — superstep state
    cost must not grow with crawl depth."""
    import datetime as dt
    from walk_spark.config import CrawlConfig
    from walk_spark.plans.crawl import Crawler
    from walk_spark.sources.pages import PAGES_SCHEMA, _page_html

    n = 3 * Crawler._TERM_COMPACT + 4  # 28 supersteps of 1 url each
    rows = []
    for i in range(n):
        nxt = f"http://chain.test/p{i+1}" if i + 1 < n else None
        hrefs = [(nxt, "next")] if nxt else []
        rows.append((
            f"http://chain.test/p{i}", dt.datetime(2020, 1, 1, 0, 0, i),
            _page_html(f"p{i}", hrefs, [f"page {i}"]),
            "", "en", 200, "text/html; charset=utf-8", None,
        ))
    pages = spark.createDataFrame(rows, PAGES_SCHEMA)
    cfg = CrawlConfig(seeds=["http://chain.test/p0"],
                      domains=["http://chain.test"],
                      max_supersteps=n + 2)
    c = Crawler(spark, pages, cfg)
    r = c.run()
    assert len(r.metrics) == n
    assert sum(m["done"] for m in r.metrics) == n
    # compaction bound: never more than _TERM_COMPACT+2 live branches
    assert len(c._term_parts) <= Crawler._TERM_COMPACT + 2
    # every url visited exactly once, in chain order
    order = r.order.orderBy("discovery_seq").select("url").collect()
    assert [x["url"] for x in order] == [
        f"http://chain.test/p{i}" for i in range(n)
    ]
    # state stays O(active): the queued set the loop re-pins is ≤ 1 row
    assert c._queued.count() == 0


def test_invalid_corpus_url_does_not_crash_crawl(spark):
    """Spark 4's ANSI-mode parse_url THROWS on urls java.net.URI rejects;
    every call site uses try_parse_url / substring derivation so one
    malformed url (raw space, bad bracket) in a page or link can't kill a
    crawl stage. The malformed link must simply fail its fetch."""
    import datetime as dt
    from walk_spark.config import CrawlConfig
    from walk_spark.plans.crawl import crawl
    from walk_spark.sources.pages import PAGES_SCHEMA, _page_html

    rows = [
        (
            "http://inv.test/", dt.datetime(2020, 1, 1),
            _page_html("root", [
                ("http://inv.test/a b.html", "space link"),
                ("http://inv.test/[bad", "bracket link"),
                ("http://inv.test/ok.html", "good link"),
            ], ["root page"]),
            "", "en", 200, "text/html; charset=utf-8", None,
        ),
        (
            "http://inv.test/ok.html", dt.datetime(2020, 1, 2),
            _page_html("ok", [], ["fine"]),
            "", "en", 200, "text/html; charset=utf-8", None,
        ),
    ]
    pages = spark.createDataFrame(rows, PAGES_SCHEMA)
    cfg = CrawlConfig(seeds=["http://inv.test/"],
                      domains=["http://inv.test"], max_attempts=1)
    r = crawl(spark, pages, cfg)  # must not raise
    ok = {x["url"] for x in r.ok_resources().select("url").collect()}
    assert "http://inv.test/ok.html" in ok
    # the malformed candidates were enqueued (their authority matches the
    # domain — Go url.Parse parity) and failed their fetch without error
    statuses = {x["url"]: x["status"]
                for x in r.frontier.select("url", "status").collect()}
    assert statuses.get("http://inv.test/a b.html") == "failed"


def test_crawl_order_identical_across_pin_widths(spark):
    """Crawl ordering depends only on the (depth, discovery_seq, url) sort,
    never on partition layout: the same job at an explicit narrow width and
    at the level-proportional auto width (plans.crawl.PIN_WIDTH_FACTOR) must
    produce identical order, frontier and sequence numbers. This is the
    determinism contract behind making the width scale with cluster size."""
    def run(**width_kw):
        cfg = CrawlConfig(
            seeds=["http://qri.test/"], domains=["http://qri.test"],
            use_bloom=True, bloom_num_bits=65536, seen_partitions=4,
            **width_kw,
        )
        r = crawl(spark, tree_site_pages(spark), cfg)
        order = [(x["superstep"], x["discovery_seq"], x["url"])
                 for x in r.order.orderBy("superstep", "discovery_seq",
                                          "url").collect()]
        front = sorted((x["url"], x["status"], x["depth"], x["discovery_seq"])
                       for x in r.frontier.collect())
        return order, front

    narrow = run(pin_partitions=4)
    wide = run(pin_partitions=48)
    auto = run()  # default: data-aware auto width
    assert narrow == wide == auto


def test_fetch_extracts_hits_only(spark):
    """The fetch is one left join of the batch onto the persisted corpus
    and one extraction pass: a miss keeps its batch row with no body, and
    parse_page(url, None) gives its extraction columns. The plan holds one
    Python pass, one corpus scan and no misses branch. The missing seed's
    resources rows keep their values."""
    from walk_spark.plans.crawl import Crawler
    missing = "http://self.test/nopage"
    cfg = CrawlConfig(seeds=["http://self.test", missing],
                      domains=["http://self.test"])
    c = Crawler(spark, self_linking_pages(spark), cfg)
    c.warm()
    c._ensure_state()
    assert c._seed_norm_df is None  # fixed-point seeds: no fetch keys
    outer = _outer_plan(c._fetch(c._pick_batch(c._queued)))
    evals = [ln for ln in outer if "ArrowEvalPython" in ln]
    assert len(evals) == 1 and "_extract_batch" in evals[0], outer
    assert not any("LeftAnti" in ln or "Union" in ln for ln in outer), outer
    assert sum("InMemoryTableScan" in ln for ln in outer) == 1, outer
    assert any("ShuffledHashJoin" in ln and "LeftOuter" in ln
               and "BuildLeft" in ln for ln in outer), outer

    r = c.run()
    rows = r.resources.filter(F.col("url") == missing).collect()
    assert len(rows) == 1 + cfg.max_attempts
    for x in rows:
        assert (x["status"], x["error"], x["content_type"]) == (
            0, "fetch error: not found", None)
        assert (x["title"], x["links"], x["text"], x["hash"]) == ("", [], "", "")
        assert x["content_sniff"] == "text/plain; charset=utf-8"
        assert x["content_length"] == 0
    by_url = {x["url"]: x["status"] for x in r.frontier.collect()}
    assert by_url[missing] == "failed"
    assert by_url["http://self.test/a.html"] == "done"


@pytest.mark.parametrize("host,via", [
    ("[::1]:8080", "seeds"),
    ("[::1]:8080", "add_seeds"),
    ("[::1]:8080", "add_seeds_df"),
    ("[2001:db8::1]", "seeds"),
])
def test_ipv6_literal_seed_fetched_once(spark, host, via):
    """A bracketed IPv6 seed and the links back to it get the same host
    key (and so the same seen-set partition) whichever way the seed was
    enqueued, so the seen anti-join drops the link: no url is fetched
    twice."""
    from walk_spark.plans.crawl import Crawler
    seed = f"http://{host}/a.html"
    cfg = CrawlConfig(seeds=[seed] if via == "seeds" else [],
                      domains=[f"http://{host}"])
    c = Crawler(spark, self_linking_pages(spark, host), cfg)
    if via == "add_seeds":
        c.add_seeds([seed])
    elif via == "add_seeds_df":
        assert c.add_seeds_df(
            spark.createDataFrame([(seed,)], "url string")) == 1
    urls = [x["url"] for x in c.run().order.collect()]
    assert len(urls) == len(set(urls)) == 4, urls


def test_superstep_phase_labels(spark):
    """Every superstep labels its jobs with exactly one set of
    ss<k>:<phase> descriptions — the contract the benchmark's per-phase
    metrics parse."""
    from walk_spark.plans.crawl import Crawler
    cfg = CrawlConfig(seeds=["http://self.test"], domains=["http://self.test"],
                      use_bloom=True, bloom_num_bits=65536, seen_partitions=4)
    c = Crawler(spark, self_linking_pages(spark), cfg)
    labels, jd = [], c._jd

    def record(label):
        labels.append(label)
        jd(label)

    c._jd = record
    r = c.run()
    assert len(r.metrics) == 2
    phases: dict[str, set] = {}
    for label in labels:
        k, phase = label.split(":", 1)
        phases.setdefault(k, set()).add(phase)
    want = {"bloom_merge", "fetch_extract", "metrics_agg", "expand_build",
            "seq_assign", "checkpoint"}
    assert phases == {"ss1": want, "ss2": want}
