"""Scale machinery: bloom prefilter equivalence, sequence assignment,
politeness strategies, skewed-corpus crawl with all scale paths on."""

import pytest
from pyspark.sql import functions as F

from walk_spark.config import CrawlConfig
from walk_spark.operators import dedup as D
from walk_spark.operators import politeness as P
from walk_spark.operators.frontier import with_global_seq
from walk_spark.plans.crawl import crawl
from walk_spark.sources.pages import skewed_corpus


def test_bloom_prefilter_equivalence(spark):
    """anti_join_seen with blooms must equal the exact anti-join."""
    seen = spark.range(0, 5000).select(
        F.concat(F.lit("http://h"), (F.col("id") % 7).cast("string"),
                 F.lit(".test/p/"), F.col("id").cast("string")).alias("url"),
        (F.col("id") % 8).cast("int").alias("part_id"),
    )
    cands = spark.range(2500, 7500).select(
        F.concat(F.lit("http://h"), (F.col("id") % 7).cast("string"),
                 F.lit(".test/p/"), F.col("id").cast("string")).alias("url"),
        (F.col("id") % 8).cast("int").alias("part_id"),
    )
    exact = {r["url"] for r in D.anti_join_seen(cands, seen).collect()}
    blooms = D.build_bloom_partitions(seen, expected_items=1000,
                                      num_bits=65536)
    with_bloom = {
        r["url"] for r in D.anti_join_seen(cands, seen, blooms).collect()
    }
    assert with_bloom == exact
    assert len(exact) == 2500


def test_with_global_seq_dense_and_ordered(spark):
    df = spark.range(0, 1000).select(
        (F.col("id") % 13).cast("int").alias("parent_depth"),
        (999 - F.col("id")).alias("parent_seq"),
        F.lit(0).alias("ordinal"),
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("url"),
    )
    out = with_global_seq(
        df, ["parent_depth", "parent_seq", "ordinal", "url"],
        seq_col="seq", start=42,
    )
    rows = out.orderBy("seq").collect()
    assert [r["seq"] for r in rows] == list(range(42, 42 + 1000))
    keys = [(r["parent_depth"], r["parent_seq"], r["ordinal"], r["url"])
            for r in rows]
    assert keys == sorted(keys)


def test_with_global_seq_partition_invariance(spark):
    """Same input in different physical layouts -> same sequence values."""
    base = spark.range(0, 500).select(
        F.lit(0).alias("parent_depth"),
        F.col("id").alias("parent_seq"),
        F.lit(0).alias("ordinal"),
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("url"),
    )
    a = with_global_seq(base.repartition(3),
                        ["parent_depth", "parent_seq", "ordinal", "url"],
                        seq_col="seq")
    b = with_global_seq(base.repartition(17),
                        ["parent_depth", "parent_seq", "ordinal", "url"],
                        seq_col="seq")
    ka = {(r["url"], r["seq"]) for r in a.collect()}
    kb = {(r["url"], r["seq"]) for r in b.collect()}
    assert ka == kb


def test_politeness_strategies_agree(spark):
    queued = spark.range(0, 300).select(
        F.concat(F.lit("http://h"), (F.col("id") % 3).cast("string"),
                 F.lit(".test/"), F.col("id").cast("string")).alias("url"),
        F.concat(F.lit("h"), (F.col("id") % 3).cast("string")).alias("host"),
        F.lit(1).alias("depth"),
        F.col("id").alias("discovery_seq"),
    )
    w = {(r["host"], r["url"]) for r in
         P.pick_budget_window(queued, 10).collect()}
    p = {(r["host"], r["url"]) for r in
         P.pick_budget_pandas(queued, 10).collect()}
    assert w == p
    assert len(w) == 30  # 3 hosts × budget 10
    # both respect canonical order: picks are the lowest seq per host
    picked_seqs = sorted(
        int(u.rsplit("/", 1)[1]) for _, u in w
    )
    assert picked_seqs == sorted(range(30))


def test_cap_batch(spark):
    queued = spark.range(0, 100).select(
        F.concat(F.lit("u"), F.lpad(F.col("id").cast("string"), 3, "0"))
        .alias("url"),
        F.lit(1).alias("depth"),
        F.col("id").alias("discovery_seq"),
    )
    got = P.cap_batch(queued, 7).collect()
    assert sorted(r["discovery_seq"] for r in got) == list(range(7))


def test_hot_host_salting_equivalence(spark):
    """Salting hot hosts changes only the seen-set partition layout, never
    the crawl result; the hot host's urls spread across partitions."""
    n = 600
    pages = skewed_corpus(spark, n_urls=n, n_hosts=8, out_degree=6)
    base = dict(
        seeds=["http://host0.test/p/0.html"],
        domains=[f"http://host{h}.test" for h in range(8)],
        record_redirects=False, seen_partitions=8,
    )
    plain = crawl(spark, pages, CrawlConfig(**base))
    salted = crawl(
        spark, pages,
        CrawlConfig(**base, hot_hosts=["host0.test"]),
    )
    a = [(x["superstep"], x["discovery_seq"], x["url"]) for x in
         plain.order.orderBy("superstep", "discovery_seq", "url").collect()]
    b = [(x["superstep"], x["discovery_seq"], x["url"]) for x in
         salted.order.orderBy("superstep", "discovery_seq", "url").collect()]
    assert a == b  # identical crawl, different partitioning only
    # hot host pinned one partition before; salted it spreads over all
    hot_parts_plain = (
        plain.frontier.filter(F.col("host") == "host0.test")
        .select("part_id").distinct().count()
    )
    hot_parts_salted = (
        salted.frontier.filter(F.col("host") == "host0.test")
        .select("part_id").distinct().count()
    )
    assert hot_parts_plain == 1
    assert hot_parts_salted >= 6


def test_hot_host_autodetect(spark):
    """hot_host_threshold derives the hot list from corpus page counts."""
    from walk_spark.plans.crawl import Crawler
    pages = skewed_corpus(spark, n_urls=400, n_hosts=8, out_degree=4)
    c = Crawler(
        spark, pages,
        CrawlConfig(
            seeds=["http://host0.test/p/0.html"],
            domains=["http://host0.test"],
            hot_host_threshold=100,  # host0 holds ~200 of 400 pages
        ),
    )
    assert c._hot_hosts == ["host0.test"]


@pytest.mark.slow
def test_skewed_crawl_all_scale_paths(spark):
    """Full crawl of the skewed corpus with bloom + politeness + caps on:
    every url visited exactly once, hot host throttled per superstep."""
    n = 2000
    pages = skewed_corpus(spark, n_urls=n, n_hosts=16, out_degree=6)
    cfg = CrawlConfig(
        seeds=["http://host0.test/p/0.html"],
        domains=[f"http://host{h}.test" for h in range(16)],
        record_redirects=False,
        use_bloom=True,
        bloom_expected_items=100_000,
        bloom_num_bits=1 << 20,
        host_budget_per_superstep=200,
        max_batch_size=1500,
        seen_partitions=8,
    )
    r = crawl(spark, pages, cfg)
    assert r.frontier.filter(F.col("status") == "done").count() == n
    assert r.order.groupBy("url").count().filter("count > 1").count() == 0
    per_host = (
        r.order.withColumn(
            "host", F.regexp_extract("url", r"http://([^/]+)/", 1)
        )
        .groupBy("superstep", "host").count().collect()
    )
    assert all(x["count"] <= 200 for x in per_host)


def test_bloom_misaligned_num_bits_equivalence(spark):
    """Regression: num_bits not a multiple of 8 must still probe with the
    build-side modulus (byte-aligned up front) — no false negatives."""
    seen = spark.range(0, 3000).select(
        F.concat(F.lit("http://h"), (F.col("id") % 5).cast("string"),
                 F.lit(".test/x/"), F.col("id").cast("string")).alias("url"),
        (F.col("id") % 4).cast("int").alias("part_id"),
    )
    cands = spark.range(0, 6000).select(
        F.concat(F.lit("http://h"), (F.col("id") % 5).cast("string"),
                 F.lit(".test/x/"), F.col("id").cast("string")).alias("url"),
        (F.col("id") % 4).cast("int").alias("part_id"),
    )
    blooms = D.build_bloom_partitions(seen, expected_items=1000,
                                      num_bits=65537)  # deliberately odd
    got = {r["url"] for r in D.anti_join_seen(cands, seen, blooms).collect()}
    exact = {r["url"] for r in D.anti_join_seen(cands, seen).collect()}
    assert got == exact
    assert len(exact) == 3000


def test_bloom_incremental_merge(spark):
    """merge_filters(build(old), build(delta)) ≡ build over the union."""
    a = spark.range(0, 1000).select(
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("url"),
        (F.col("id") % 4).cast("int").alias("part_id"),
    )
    b = spark.range(1000, 2000).select(
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("url"),
        (F.col("id") % 4).cast("int").alias("part_id"),
    )
    merged = D.merge_filters(
        D.collect_filters(D.build_bloom_partitions(a, 1000, 32768)),
        D.collect_filters(D.build_bloom_partitions(b, 1000, 32768)),
    )
    full = D.collect_filters(
        D.build_bloom_partitions(a.unionByName(b), 1000, 32768))
    assert merged == full


def test_bloom_delta_merge_matches_two_pass(spark):
    """The crawl's driver-side merge of a delta build into the standing
    filter map ≡ one build over the union, bit for bit — including
    partitions the standing map has no filter for yet (4 and 5)."""
    a = spark.range(0, 1000).select(
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("url"),
        (F.col("id") % 4).cast("int").alias("part_id"),
    )
    b = spark.range(1000, 2000).select(
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("url"),
        # parts 4 and 5 have no standing filter — the merge must add them
        (F.col("id") % 6).cast("int").alias("part_id"),
    )
    standing = D.collect_filters(D.build_bloom_partitions(a, 0, 32768))
    merged = D.merge_filters(
        standing, D.collect_filters(D.build_bloom_partitions(b, 0, 32768)))
    full = D.collect_filters(
        D.build_bloom_partitions(a.unionByName(b), 0, 32768))
    assert sorted(merged) == list(range(6))
    assert merged == full
    assert sorted(standing) == list(range(4))  # inputs are not modified


def test_with_global_seq_bucket_path_matches_range_path(spark):
    """The monotone-bucket fast path must assign the same sequence values
    as the range-repartition path (the crawl loop uses the bucket form)."""
    df = spark.range(0, 2000).select(
        (F.col("id") % 3).cast("int").alias("parent_depth"),
        F.pmod(F.col("id") * 7919, F.lit(5000)).alias("parent_seq"),
        (F.col("id") % 5).cast("int").alias("ordinal"),
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("url"),
    )
    cols = ["parent_depth", "parent_seq", "ordinal", "url"]
    nb, g = 64, 5000 // 64 + 1
    bucket = (F.col("parent_depth").cast("long") * F.lit(nb)
              + F.floor(F.col("parent_seq") / F.lit(g)).cast("long"))
    a = with_global_seq(df, cols, seq_col="seq", start=7)
    b = with_global_seq(df, cols, seq_col="seq", start=7, bucket=bucket)
    ka = {(r["url"], r["seq"]) for r in a.collect()}
    kb = {(r["url"], r["seq"]) for r in b.collect()}
    assert ka == kb
    assert sorted(s for (_u, s) in kb) == list(range(7, 7 + 2000))


def test_bloom_incremental_crawl_equivalence(spark):
    """use_bloom on/off must produce identical crawls — including with
    recorded redirects (terminals enter the seen set mid-superstep and must
    merge into the standing filters immediately) across multiple supersteps
    (incremental delta merges)."""
    from walk_spark.sources.pages import redirect_chain_pages, tree_site_pages

    def run(pages, seeds, domains, use_bloom):
        cfg = CrawlConfig(
            seeds=seeds, domains=domains, record_redirects=True,
            use_bloom=use_bloom, bloom_num_bits=65536, seen_partitions=4,
        )
        r = crawl(spark, pages, cfg)
        order = [(x["superstep"], x["discovery_seq"], x["url"])
                 for x in r.order.orderBy("superstep", "discovery_seq",
                                          "url").collect()]
        front = sorted(
            (x["url"], x["status"], x["depth"]) for x in r.frontier.collect()
        )
        return order, front

    for pages, seeds, domains in [
        (tree_site_pages(spark), ["http://qri.test/"], ["http://qri.test"]),
        (redirect_chain_pages(spark),
         ["http://redir.test/r0", "http://redir.test/l0"],
         ["http://redir.test"]),
    ]:
        a = run(pages, seeds, domains, use_bloom=False)
        b = run(pages, seeds, domains, use_bloom=True)
        assert a == b


def test_bloom_probe_rejects_over_budget_filters(spark):
    """The one probe plan (broadcast filter map) equals the exact
    anti-join; a filter size over the broadcast budget raises up front
    instead of planning a probe."""
    seen = spark.range(0, 4000).select(
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("url"),
        (F.col("id") % 8).cast("int").alias("part_id"),
    )
    cands = spark.range(2000, 8000).select(
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("url"),
        (F.col("id") % 8).cast("int").alias("part_id"),
    )
    blooms = D.build_bloom_partitions(seen, 1000, 65536)
    exact = {r["url"] for r in D.anti_join_seen(cands, seen).collect()}
    probed = {r["url"] for r in D.anti_join_seen(
        cands, seen, blooms, filters_bytes=8 * 65536 // 8).collect()}
    assert probed == exact
    assert len(exact) == 4000
    with pytest.raises(ValueError, match="broadcast budget"):
        D.anti_join_seen(cands, seen, blooms,
                         filters_bytes=D.BLOOM_BROADCAST_MAX_BYTES + 1)
