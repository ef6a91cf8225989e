"""Vectorized page extraction — html binary -> (title, links, text, sniff, hash).

The Spark re-expression of the reference's response handling
(``Resource.HandleResponse`` lib/resource.go:90-134 + ``ExtractDocLinks``
lib/resource.go:161-189): one Arrow-batched pandas UDF produces all derived
columns in a single pass over the ``html`` column, so the binary bytes cross
the JVM<->Python boundary exactly once and are never shuffled.

Link semantics (from reference behavior):
- ALL elements carrying an ``href`` attribute are link sources — including
  ``<link rel=stylesheet>`` / RSS / favicons, not just ``<a>``
  (lib/resource.go:168 ``doc.Find("[href]")``; verified against the vendored
  qri.io fixture site).
- hrefs are resolved against the page URL and canonicalized
  (lib/resource.go:171-177 -> urlnorm.resolve_and_normalize).
- per-page dedup preserves FIRST-SEEN document order (lib/resource.go:178-184).
- Only bodies sniffed as html/plain text are parsed (lib/resource.go:117-131).

Text extraction contract (the byte-identical per-url invariant): UTF-8 decode
(replacement on error), concatenate stripped text nodes outside
script/style/head in document order, joined by a single space.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, StringType, StructField, StructType,
)

from walk_spark.functions.hashing import multihash_sha256_b58
from walk_spark.functions.sniff import HTML_PARSEABLE, detect_content_type
from walk_spark.functions.urlnorm import resolve_and_normalize

EXTRACT_SCHEMA = StructType(
    [
        StructField("title", StringType()),
        StructField("links", ArrayType(StringType())),
        StructField("text", StringType()),
        StructField("content_sniff", StringType()),
        StructField("hash", StringType()),
    ]
)

_SKIP_TEXT_TAGS = frozenset({"script", "style", "head", "title"})


class _PageParser(HTMLParser):
    """Single-pass collector of hrefs (document order), title, body text."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.hrefs: list[str] = []
        self.title_parts: list[str] = []
        self.text_parts: list[str] = []
        self._in_title = False
        self._skip_depth = 0

    def handle_starttag(self, tag: str, attrs) -> None:
        for k, v in attrs:
            if k == "href" and v is not None:
                self.hrefs.append(v)
        if tag == "title":
            self._in_title = True
        if tag in ("script", "style"):
            self._skip_depth += 1

    def handle_startendtag(self, tag: str, attrs) -> None:
        for k, v in attrs:
            if k == "href" and v is not None:
                self.hrefs.append(v)

    def handle_endtag(self, tag: str) -> None:
        if tag == "title":
            self._in_title = False
        if tag in ("script", "style") and self._skip_depth > 0:
            self._skip_depth -= 1

    def handle_data(self, data: str) -> None:
        if self._in_title:
            self.title_parts.append(data)
        elif self._skip_depth == 0:
            s = data.strip()
            if s:
                self.text_parts.append(s)


# ---------------------------------------------------------------------------
# fast scanner — a regex tokenizer replicating _PageParser's observable
# outputs (hrefs in document order from any tag, title text, stripped body
# text chunks outside script/style) on well-formed markup, at ~2-3x the
# throughput of html.parser's state machine. Any construct whose
# html.parser behavior is quirky (bogus comments, unterminated tags, bare
# '<' in text, attr-bearing </script>) returns None and the page falls
# back to _PageParser — so the byte-identical text contract holds
# unconditionally while typical pages take the fast path. Equivalence is
# fuzzed in tests/test_extract.py over generated + mutated markup.
# ---------------------------------------------------------------------------

from html import unescape as _unescape

_RX_START = re.compile(
    r"<([a-zA-Z][-.a-zA-Z0-9:_]*)"
    r"((?:\s+[^\s/=>]+(?:\s*=\s*(?:\"[^\"]*\"|'[^']*'|[^>\s]*))?)*)"
    r"\s*(/?)>"
)
_RX_END = re.compile(r"</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>")
_RX_ATTR = re.compile(
    r"([^\s/=>]+)(\s*=\s*(?:\"([^\"]*)\"|'([^']*)'|([^>\s]*)))?"
)
#: strict whole-block validation: attr names and unquoted values must be
#: quote-free, quoted values end at their own quote — anything else (a
#: stray quote mid-value, html.parser's tolerant re-sync) -> fallback
_RX_ATTRS_OK = re.compile(
    r"(?:\s+[^\s/=>\"']+(?:\s*=\s*(?:\"[^\"]*\"|'[^']*'|[^>\s\"']*))?)*\s*"
)
_RX_CDATA_END = {
    t: re.compile(r"</\s*%s\s*>" % t, re.IGNORECASE)
    for t in ("script", "style")
}


def _scan_page(html: str):
    """(hrefs, title_parts, text_parts) or None → use _PageParser."""
    hrefs: list[str] = []
    title_parts: list[str] = []
    text_parts: list[str] = []
    in_title = False
    i, n = 0, len(html)
    while i < n:
        lt = html.find("<", i)
        end = n if lt == -1 else lt
        if end > i:
            data = html[i:end]
            if "&" in data:
                data = _unescape(data)
            if in_title:
                title_parts.append(data)
            else:
                s = data.strip()
                if s:
                    text_parts.append(s)
        if lt == -1:
            break
        nxt = html[lt + 1:lt + 2]
        if nxt == "!":
            if html.startswith("<!--", lt):
                c = html.find("-->", lt + 4)
                if c == -1:
                    return None  # unterminated comment: parser-quirk zone
                i = c + 3
            elif html.startswith("<![", lt):
                return None  # CDATA-section / marked-section quirks
            else:
                c = html.find(">", lt + 2)
                if c == -1:
                    return None
                i = c + 1  # <!DOCTYPE ...> and friends
        elif nxt == "?":
            c = html.find(">", lt + 2)
            if c == -1:
                return None
            i = c + 1  # processing instruction: ends at first '>'
        elif nxt == "/":
            m = _RX_END.match(html, lt)
            if not m:
                return None  # bogus end tag
            if m.group(1).lower() == "title":
                in_title = False
            i = m.end()
        elif nxt.isalpha():
            m = _RX_START.match(html, lt)
            if not m:
                return None  # malformed start tag
            tag = m.group(1).lower()
            attrs, selfclosing = m.group(2), bool(m.group(3))
            if attrs:
                if not _RX_ATTRS_OK.fullmatch(attrs):
                    return None  # ambiguous quoting: parser re-syncs oddly
                for am in _RX_ATTR.finditer(attrs):
                    if am.group(1).lower() == "href" and am.group(2):
                        v = (am.group(3) if am.group(3) is not None
                             else am.group(4) if am.group(4) is not None
                             else am.group(5))
                        hrefs.append(_unescape(v) if "&" in v else v)
            i = m.end()
            if selfclosing:
                continue  # startendtag: hrefs only, no mode changes
            if tag == "title":
                in_title = True
            elif tag in ("script", "style"):
                if in_title:
                    # parser's title capture takes precedence over CDATA
                    # skipping (script inside an unclosed <title>) — quirk
                    return None
                # CDATA content mode: everything to the matching clean
                # close tag is (skipped) data; html.parser's handling of
                # attr-bearing close tags here is quirky -> fallback
                mc = _RX_CDATA_END[tag].search(html, i)
                if not mc:
                    return None
                between = html[i:mc.start()]
                if "</" in between.lower() and re.search(
                    r"</\s*%s" % tag, between, re.IGNORECASE
                ):
                    return None  # a '</script'-ish prefix without clean '>'
                i = mc.end()
        else:
            return None  # literal '<' in text: parser emits it alone
    return hrefs, title_parts, text_parts


def parse_page(url: str, body: bytes | None) -> tuple[str, list[str], str, str, str]:
    """Extract (title, links, text, content_sniff, hash) from one page."""
    sniff = detect_content_type(body)
    chash = multihash_sha256_b58(body) if body is not None else ""
    if body is None or sniff not in HTML_PARSEABLE:
        return "", [], "", sniff, chash
    html = bytes(body).decode("utf-8", errors="replace")
    scanned = _scan_page(html)
    if scanned is None:
        p = _PageParser()
        try:
            p.feed(html)
            p.close()
        except Exception:
            pass
        scanned = p.hrefs, p.title_parts, p.text_parts
    hrefs, title_parts, text_parts = scanned
    # resolve + normalize + first-seen-order dedup (lib/resource.go:171-184)
    links: list[str] = []
    seen: set[str] = set()
    for href in hrefs:
        n = resolve_and_normalize(url or "", href)
        if n and n not in seen:
            seen.add(n)
            links.append(n)
    title = "".join(title_parts).strip()
    text = " ".join(text_parts)
    return title, links, text, sniff, chash


def _extract_batch(url: pd.Series, html: pd.Series) -> pd.DataFrame:
    rows = [parse_page(u, b) for u, b in zip(url, html)]
    return pd.DataFrame(
        rows, columns=["title", "links", "text", "content_sniff", "hash"]
    )


def extract_udf():
    """Arrow-batched pandas UDF: (url string, html binary) -> EXTRACT_SCHEMA."""
    return F.pandas_udf(_extract_batch, returnType=EXTRACT_SCHEMA)


def with_extraction(df, url_col: str = "url", html_col: str = "html"):
    """Append extraction columns to a pages DataFrame.

    Produces flat columns title/links/text/content_sniff/hash. Column pruning
    still applies to everything else; only (url, html) feed the UDF.
    """
    ex = extract_udf()(F.col(url_col), F.col(html_col)).alias("_ex")
    return df.withColumn("_ex", ex).select("*", "_ex.*").drop("_ex")
