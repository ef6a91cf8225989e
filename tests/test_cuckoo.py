"""Cuckoo-filter URL-seen prefilter (operators.cuckoo) — the north rule's
"bloom/cuckoo" second filter kind: kernel contracts (no false negatives,
merge, delete, bounded stash), anti_join_seen equivalence, and
byte-identical crawls vs the bloom path."""

import warnings

import numpy as np
import pytest
from pyspark.sql import functions as F

from walk_spark.config import CrawlConfig
from walk_spark.operators import cuckoo as C
from walk_spark.operators import dedup as D
from walk_spark.plans.crawl import crawl


def test_cuckoo_kernel_contracts():
    urls = [f"http://h{i % 7}.test/p/{i}" for i in range(5000)]
    buf = C.build_cuckoo_bytes(urls, 65536 * 8)
    assert C.probe_cuckoo_bytes(buf, urls).all(), "false negative"
    fresh = [f"http://new{i}.test/x/{i}" for i in range(20000)]
    assert C.probe_cuckoo_bytes(buf, fresh).mean() < 0.01
    # merge: filter(A) ∪ filter(B) answers "maybe" for all of A ∪ B
    a = C.build_cuckoo_bytes(urls[:2500], 65536 * 8)
    b = C.build_cuckoo_bytes(urls[2500:], 65536 * 8)
    assert C.probe_cuckoo_bytes(C.merge_cuckoo_bytes(a, b), urls).all()


def test_cuckoo_delete_removes_only_target():
    """Deletion (the capability bloom lacks): deleted urls stop matching,
    every other inserted url still has its no-false-negative guarantee."""
    urls = [f"http://d.test/{i}" for i in range(2000)]
    buf = C.build_cuckoo_bytes(urls, 65536 * 8)
    out = C.delete_cuckoo_bytes(buf, urls[:200])
    assert not C.probe_cuckoo_bytes(out, urls[:200]).any()
    assert C.probe_cuckoo_bytes(out, urls[200:]).all()


def test_cuckoo_delete_then_merge_keeps_residents():
    """Regression (round-5 advice): deletion leaves HOLES in bucket slot
    rows, so a later merge's placement rounds must target actual zero slots
    — the old occ+rank placement overwrote resident fingerprints and turned
    ~8% of retained urls into false negatives after delete-then-merge
    (exactly the forget_urls -> next-superstep incremental-merge path)."""
    nb = 65536 * 8
    kept = [f"http://keep.test/{i}" for i in range(1700)]
    gone = [f"http://gone.test/{i}" for i in range(400)]
    buf = C.build_cuckoo_bytes(kept + gone, nb)
    buf = C.delete_cuckoo_bytes(buf, gone)
    delta = C.build_cuckoo_bytes(
        [f"http://new.test/{i}" for i in range(2000)], nb)
    merged = C.merge_cuckoo_bytes(buf, delta)
    assert C.probe_cuckoo_bytes(merged, kept).all(), (
        "delete-then-merge lost resident fingerprints (false negatives)")
    # the delta's own entries survive too, and repeated merge cycles
    # (delete -> merge -> delete -> merge) never drop a retained url
    assert C.probe_cuckoo_bytes(
        merged, [f"http://new.test/{i}" for i in range(2000)]).all()
    buf2 = C.delete_cuckoo_bytes(merged, kept[:500])
    merged2 = C.merge_cuckoo_bytes(
        buf2, C.build_cuckoo_bytes([f"http://n2.test/{i}"
                                    for i in range(1500)], nb))
    assert C.probe_cuckoo_bytes(merged2, kept[500:]).all()


def test_cuckoo_stash_bounded_at_sized_load():
    """At the sizing the crawl uses (≤ ~0.7 table load) the greedy
    two-choice build places essentially everything in the table; the stash
    — which exists to keep the no-false-negative contract at ANY load —
    stays a vanishing fraction. Also: a deliberately overloaded filter
    still has zero false negatives (everything that misses the table is
    stashed)."""
    nb = 8192 * 8  # 8 KiB -> 1024 buckets x 4 slots = 4096 slot capacity
    sized = [f"u{i}" for i in range(2800)]  # 0.68 load
    buf = C.build_cuckoo_bytes(sized, nb)
    load, stash = C.filter_load(buf)
    assert stash <= len(sized) * 0.005
    assert C.probe_cuckoo_bytes(buf, sized).all()
    overloaded = [f"v{i}" for i in range(5000)]  # 1.22x capacity
    buf2 = C.build_cuckoo_bytes(overloaded, nb)
    assert C.probe_cuckoo_bytes(buf2, overloaded).all()


def test_cuckoo_prefilter_equivalence(spark):
    """anti_join_seen with cuckoo filters equals the exact anti-join; an
    over-budget filter size raises before any probe is planned."""
    seen = spark.range(0, 4000).select(
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("url"),
        (F.col("id") % 8).cast("int").alias("part_id"),
    )
    cands = spark.range(2000, 8000).select(
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("url"),
        (F.col("id") % 8).cast("int").alias("part_id"),
    )
    filters = C.build_cuckoo_partitions(seen, 1000, 65536)
    exact = {r["url"] for r in D.anti_join_seen(cands, seen).collect()}
    bc = {r["url"] for r in D.anti_join_seen(
        cands, seen, filters, filters_bytes=8 * 65536 // 8,
        filter_kind="cuckoo").collect()}
    assert bc == exact
    assert len(exact) == 4000
    with pytest.raises(ValueError, match="broadcast budget"):
        D.anti_join_seen(cands, seen, filters,
                         filters_bytes=D.BLOOM_BROADCAST_MAX_BYTES + 1,
                         filter_kind="cuckoo")


def test_cuckoo_crawl_equivalence(spark):
    """seen_filter='cuckoo' must crawl byte-identically to 'bloom' and to
    no prefilter — including with recorded redirects (terminals merge into
    the standing filters mid-superstep) across incremental supersteps."""
    from walk_spark.sources.pages import redirect_chain_pages, tree_site_pages

    def run(pages, seeds, domains, use_bloom, kind):
        cfg = CrawlConfig(
            seeds=seeds, domains=domains, record_redirects=True,
            use_bloom=use_bloom, seen_filter=kind,
            bloom_num_bits=65536, seen_partitions=4,
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
        off = run(pages, seeds, domains, False, "bloom")
        ck = run(pages, seeds, domains, True, "cuckoo")
        bl = run(pages, seeds, domains, True, "bloom")
        assert ck == off == bl


@pytest.mark.parametrize("build", [D.build_bloom_partitions,
                                   C.build_cuckoo_partitions])
def test_filter_build_has_inferable_type_hints(spark, build):
    """Both per-partition filter builds give applyInPandas type hints it
    can infer an eval type from: no "Cannot infer" UserWarning."""
    seen = spark.range(0, 100).select(
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("url"),
        (F.col("id") % 4).cast("int").alias("part_id"),
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        filters = D.collect_filters(build(seen, 0, 65536))
    assert not [w for w in caught if "Cannot infer" in str(w.message)]
    assert sorted(filters) == [0, 1, 2, 3]
