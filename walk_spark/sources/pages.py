"""Synthetic pages-table generators (FIXTURES.md §1, §4).

The authoritative input shape (BASELINE.json input_hint) is a table of
Common-Crawl-style pages ``(url string, warc_ts timestamp, html binary,
text string, lang string)`` plus fixture columns ``status int``,
``content_type string``, ``redirect_to string`` used by the redirect/error
paths. The simulated fetch is a left join of the frontier batch against this
table (SURVEY.md J4) — replacing the reference's HTTP GET
(lib/worker.go:138-171).

All generation is deterministic: fixed timestamps (no wall clock), fixed
arithmetic link graphs, no RNG state shared across rows. Small fixtures are
built driver-side; the bench-scale skewed corpus is generated DISTRIBUTED
from ``spark.range`` via a pandas UDF so no driver materialization happens
(the 100 TB-scale discipline: the corpus never exists in one place).
"""

from __future__ import annotations

import datetime as dt

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    BinaryType, IntegerType, StringType, StructField, StructType,
    TimestampType,
)

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
        StructField("status", IntegerType(), False),
        StructField("content_type", StringType(), False),
        StructField("redirect_to", StringType(), True),
    ]
)

_EPOCH = dt.datetime(2000, 1, 1, 0, 0, 0)
_HTML_CT = "text/html; charset=utf-8"


def _page_html(title: str, hrefs: list[tuple[str, str]], paragraphs: list[str]) -> bytes:
    """Deterministic page body. ``hrefs`` = [(href, anchor_text)]."""
    links = "\n".join(f'    <a href="{h}">{t}</a>' for h, t in hrefs)
    paras = "\n".join(f"    <p>{p}</p>" for p in paragraphs)
    return (
        "<!DOCTYPE html>\n<html>\n<head>\n  <title>{}</title>\n</head>\n"
        "<body>\n{}\n{}\n</body>\n</html>".format(title, links, paras)
    ).encode("utf-8")


def _page_text(hrefs: list[tuple[str, str]], paragraphs: list[str]) -> str:
    """The text-extraction golden: anchor texts then paragraphs, document
    order, single-space joined (matches walk_spark.functions.extract spec)."""
    return " ".join([t for _, t in hrefs] + list(paragraphs))


def _row(url, i, title, hrefs, paragraphs, status=200, redirect_to=None):
    return (
        url,
        _EPOCH + dt.timedelta(seconds=i),
        _page_html(title, hrefs, paragraphs),
        _page_text(hrefs, paragraphs),
        "en",
        status,
        _HTML_CT,
        redirect_to,
    )


def self_linking_pages(spark: SparkSession, host: str = "self.test") -> DataFrame:
    """The reference's minimal dedup/cycle fixture
    (lib/testdata/self_linking/site): 4 pages each linking `./, a.html,
    b.html, c.html`."""
    base = f"http://{host}"
    hrefs = [
        ("./", "Link to Self"),
        ("a.html", "Link to A"),
        ("b.html", "Link to B"),
        ("c.html", "Link to C"),
    ]
    rows = [
        _row(f"{base}/", 0, "Self-Linking Test", hrefs, ["index page"]),
        _row(f"{base}/a.html", 1, "Page A", hrefs, ["page a"]),
        _row(f"{base}/b.html", 2, "Page B", hrefs, ["page b"]),
        _row(f"{base}/c.html", 3, "Page C", hrefs, ["page c"]),
    ]
    return spark.createDataFrame(rows, PAGES_SCHEMA)


def two_page_pages(spark: SparkSession) -> DataFrame:
    """The sitemap-golden fixture (lib/resource_test.go:7-28 +
    lib/sitemap_test.go:52-76): https://www.a.com links /a and /b; /a links
    back; /b does not exist (fetch-error path)."""
    rows = [
        _row(
            "https://www.a.com", 0, "",
            [("https://www.a.com/a", "a"), ("https://www.a.com/b", "b")], [],
        ),
        _row("https://www.a.com/a", 1, "", [("https://www.a.com", "home")], []),
    ]
    return spark.createDataFrame(rows, PAGES_SCHEMA)


def tree_site_pages(
    spark: SparkSession,
    host: str = "qri.test",
    breadth: int = 4,
    depth: int = 3,
) -> DataFrame:
    """A qri_io-shaped directory tree (FIXTURES.md §4.3): index pages with
    child links, cross-links, non-anchor <link href> resources, a CSS and an
    XML non-HTML page (sniff gate), and data:/mailto: hrefs (candidate-filter
    rejects)."""
    base = f"http://{host}"
    rows = []
    i = 0
    dirs = [""]
    for d in range(depth):
        nxt = []
        for parent in dirs:
            for b in range(breadth):
                nxt.append(f"{parent}/d{d}_{b}")
        dirs = nxt
        all_dirs_at_level = dirs
        for j, cur in enumerate(all_dirs_at_level):
            hrefs = [("../", "up"), ("./", "here")]
            if d + 1 < depth:
                hrefs += [(f"d{d+1}_{b}/", f"child {b}") for b in range(breadth)]
            # cross-link to a sibling
            sib = all_dirs_at_level[(j + 1) % len(all_dirs_at_level)]
            hrefs.append((f"{base}{sib}/", "sibling"))
            hrefs.append(("/css/site.css", ""))  # <link>-style resource
            hrefs.append(("mailto:a@b.c", "mail"))
            hrefs.append(("data:text/plain;base64,aGk=", "inline"))
            rows.append(
                _row(f"{base}{cur}/", i, f"dir {cur}", hrefs, [f"page {cur}"])
            )
            i += 1
    # root index
    hrefs = [(f"d0_{b}/", f"top {b}") for b in range(breadth)]
    hrefs.append(("/css/site.css", ""))
    hrefs.append(("/feed.xml", "feed"))
    rows.append(_row(f"{base}/", i, "root", hrefs, ["root page"]))
    i += 1
    # non-HTML resources: CSS (text/plain sniff, no hrefs) and XML
    css = b"body { color: #333; }"
    rows.append(
        (f"{base}/css/site.css", _EPOCH + dt.timedelta(seconds=i), css,
         "body { color: #333; }", "en", 200, "text/css", None)
    )
    i += 1
    xml = b'<?xml version="1.0"?><feed><entry>hi</entry></feed>'
    rows.append(
        (f"{base}/feed.xml", _EPOCH + dt.timedelta(seconds=i), xml,
         "", "en", 200, "application/xml", None)
    )
    return spark.createDataFrame(rows, PAGES_SCHEMA)


def redirect_chain_pages(spark: SparkSession, host: str = "redir.test") -> DataFrame:
    """Redirect fixtures from the disabled reference test
    (lib/worker_test.go:40-79): a 5-hop chain ending 200, and a 12-hop chain
    exceeding the 10-redirect cap (lib/worker.go:222-224)."""
    base = f"http://{host}"
    rows = []
    # short chain: /r0 -> /r1 -> ... -> /r4 -> /final
    for k in range(5):
        nxt = f"{base}/final" if k == 4 else f"{base}/r{k+1}"
        rows.append(
            (f"{base}/r{k}", _EPOCH + dt.timedelta(seconds=k), b"", "", "en",
             301, _HTML_CT, nxt)
        )
    rows.append(_row(f"{base}/final", 5, "Final", [], ["arrived"]))
    # long chain: /l0 .. /l11 (12 hops) -> /never
    for k in range(12):
        nxt = f"{base}/never" if k == 11 else f"{base}/l{k+1}"
        rows.append(
            (f"{base}/l{k}", _EPOCH + dt.timedelta(seconds=10 + k), b"", "",
             "en", 301, _HTML_CT, nxt)
        )
    rows.append(_row(f"{base}/never", 30, "Never", [], ["unreachable by cap"]))
    return spark.createDataFrame(rows, PAGES_SCHEMA)


# ---------------------------------------------------------------------------
# bench-scale skewed corpus — generated distributed, never driver-resident
# ---------------------------------------------------------------------------

def skewed_host(i: int, n_hosts: int = 64, hot_host_share: int = 2) -> int:
    """Host id of page ``i`` in the skewed corpus (host 0 is hot)."""
    if i % hot_host_share == 0:
        return 0
    return 1 + (i * 2654435761 % (2**32)) % (n_hosts - 1)


def skewed_url(i: int, n_hosts: int = 64, hot_host_share: int = 2) -> str:
    """URL of page ``i`` in the skewed corpus — the seed-list helper."""
    return f"http://host{skewed_host(i, n_hosts, hot_host_share)}.test/p/{i}.html"

def skewed_corpus(
    spark: SparkSession,
    n_urls: int,
    n_hosts: int = 64,
    out_degree: int = 8,
    hot_host_share: int = 2,  # 1/hot_host_share of urls land on host 0
    partitions: int = 32,
) -> DataFrame:
    """Scale-free-ish corpus over ``n_hosts`` hosts where host 0 holds
    ~1/hot_host_share of all URLs (the hot-host salting exercise,
    FIXTURES.md §4.5). Link graph: page ``i`` links to
    ``(i*out_degree + j + 1) % n`` — a spanning expansion so a crawl seeded
    at page 0 reaches every page breadth-first.

    Generated with ``spark.range`` + one Arrow UDF: scales to any n without
    touching the driver.
    """
    K, N, H, S = out_degree, n_urls, n_hosts, hot_host_share

    def _host(i: int) -> int:
        return skewed_host(i, H, S)

    def _url(i: int) -> str:
        return skewed_url(i, H, S)

    gen_schema = StructType(
        [
            StructField("url", StringType(), False),
            StructField("html", BinaryType(), True),
            StructField("text", StringType(), True),
        ]
    )

    def _gen(ids: pd.Series) -> pd.DataFrame:
        urls, htmls, texts = [], [], []
        for i in ids:
            i = int(i)
            hrefs = [(_url((i * K + j + 1) % N), f"out {j}") for j in range(K)]
            paras = [f"synthetic page {i} on host {_host(i)}"]
            urls.append(_url(i))
            htmls.append(_page_html(f"page {i}", hrefs, paras))
            texts.append(_page_text(hrefs, paras))
        return pd.DataFrame({"url": urls, "html": htmls, "text": texts})

    gen = F.pandas_udf(_gen, returnType=gen_schema)
    base = spark.range(0, n_urls, 1, partitions)
    df = base.withColumn("_g", gen(F.col("id"))).select(
        F.col("_g.url").alias("url"),
        (F.lit(_EPOCH) + F.make_interval(secs=F.col("id"))).alias("warc_ts"),
        F.col("_g.html").alias("html"),
        F.col("_g.text").alias("text"),
        F.lit("en").alias("lang"),
        F.lit(200).alias("status"),
        F.lit(_HTML_CT).alias("content_type"),
        F.lit(None).cast("string").alias("redirect_to"),
    )
    return df
