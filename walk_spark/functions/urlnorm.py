"""URL canonicalization — the single most correctness-critical kernel.

Reimplements (from observed behavior, not code) the reference's
``NormalizeURL`` (lib/resource.go:136-148), which applies purell's
``FlagsUnsafeGreedy`` normalization set. Observable oracle: the sitemap
golden test (lib/sitemap_test.go:52-76) maps ``https://www.a.com`` ->
``http://a.com`` and ``https://www.a.com/a`` -> ``http://a.com/a``.

FlagsUnsafeGreedy =
  lowercase scheme + host, uppercase remaining %-escapes, decode unnecessary
  %-escapes, remove default port, remove trailing slash, remove dot segments,
  remove directory index (index.*/default.*), remove fragment, force http,
  remove duplicate slashes, remove www, sort query, remove empty query
  separator.

All functions are pure Python on strings, wrapped in pandas-vectorized
variants for Arrow UDF use. Also provides SURT keys (the CDXJ index sort
order, reference lib/resource_handler.go:157-175 / lib/walk.go:21-22) and
canonical hosts for politeness grouping / seen-set partitioning —
``url_parts_col`` is the JVM-side one every frontier row's host comes from.
"""

from __future__ import annotations

import re
from urllib.parse import urlsplit, urlunsplit, urljoin

import pandas as pd
from pyspark.sql import Column, functions as F

_RX_DIR_INDEX = re.compile(r"(^|/)((?:default|index)\.\w{1,4})$")
_RX_DUP_SLASH = re.compile(r"/{2,}")
_RX_WWW = re.compile(r"^www\.")
_RX_PCT = re.compile(r"%([0-9A-Fa-f]{2})")

_DEFAULT_PORTS = {"http": "80", "https": "443", "ftp": "21"}

# RFC 3986 unreserved characters — %-escapes of these are always decoded.
_UNRESERVED = set(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-._~"
)


def _fix_escapes(s: str) -> str:
    """Uppercase %-escapes; decode escapes of unreserved characters."""

    def repl(m: re.Match) -> str:
        hexpair = m.group(1)
        ch = chr(int(hexpair, 16))
        if ch in _UNRESERVED:
            return ch
        return "%" + hexpair.upper()

    return _RX_PCT.sub(repl, s)


def _remove_dot_segments(path: str) -> str:
    """RFC 3986 §5.2.4 remove_dot_segments."""
    if not path:
        return path
    out: list[str] = []
    for seg in path.split("/"):
        if seg == ".":
            continue
        if seg == "..":
            if out and out[-1] != "":
                out.pop()
                if not out:
                    out = [""]
            continue
        out.append(seg)
    # preserve a trailing slash implied by trailing '.' or '..'
    if path.endswith(("/.", "/..")) and out and out[-1] != "":
        out.append("")
    res = "/".join(out)
    if path.startswith("/") and not res.startswith("/"):
        res = "/" + res
    return res


def _sort_query(query: str) -> str:
    """Sort query parameters by full ``k=v`` term (byte order), dropping
    empty terms — matches purell's sort-query semantics closely enough for
    our canonical contract (our goldens define the engine's contract)."""
    if not query:
        return ""
    terms = [t for t in query.split("&") if t]
    terms.sort()
    return "&".join(terms)


def normalize_url(raw: str) -> str:
    """Canonicalize one URL string. Returns "" for unparseable input
    (mirrors the reference dropping bad urls, lib/sitemap.go:71-77)."""
    if raw is None:
        return ""
    raw = raw.strip()
    if not raw:
        return ""
    try:
        parts = urlsplit(raw)
    except ValueError:
        return ""
    if not parts.scheme:
        # Go's url.Parse rejects a ':' in the first path segment when no
        # valid scheme was parsed ("missing protocol scheme") — e.g. ":::::"
        first_seg = parts.path.split("/", 1)[0]
        if ":" in first_seg:
            return ""
    scheme = parts.scheme.lower()
    netloc = parts.netloc
    path = parts.path
    query = parts.query

    # split credentials / host / port
    userinfo, _, hostport = netloc.rpartition("@")
    host, colon, port = hostport.partition(":")
    host = host.lower()

    # remove default port (BEFORE force-http, matching purell flag order:
    # https://a.com:443 -> https://a.com -> http://a.com)
    if colon and port == _DEFAULT_PORTS.get(scheme, ""):
        colon, port = "", ""
    # ...and AFTER force-http as well — deliberate deviation from purell,
    # which leaves "https://h:80" as "http://h:80" (non-idempotent: a second
    # pass strips the now-default port, fracturing seen-set keys). Found by
    # hypothesis (tests/test_urlnorm_properties.py::test_idempotent).
    if colon and scheme == "https" and port == _DEFAULT_PORTS["http"]:
        colon, port = "", ""

    # Each step below is guarded by a cheap substring test that is TRUE
    # whenever the step could change anything (and harmlessly true a bit
    # more often) — the guards skip ~all regex/loop work on the typical
    # already-clean url, which doubled the whole extract kernel's
    # throughput (this function runs once per extracted link; equivalence
    # fuzzed over 200k urls).
    # remove directory index (purell: (^|/)(default|index).ext{1,4}$ -> $1)
    if "index." in path or "default." in path:
        path = _RX_DIR_INDEX.sub(r"\1", path)
    # remove dot segments (a '.' segment needs a leading '.' or a '/.')
    if path.startswith(".") or "/." in path:
        path = _remove_dot_segments(path)
    # force http
    if scheme == "https":
        scheme = "http"
    # remove duplicate slashes
    if "//" in path:
        path = _RX_DUP_SLASH.sub("/", path)
    # remove www
    if host.startswith("www."):
        host = host[4:]
    # escape normalization
    if "%" in path:
        path = _fix_escapes(path)
    if query:
        if "%" in query:
            query = _fix_escapes(query)
        # sort query
        query = _sort_query(query)
    # remove trailing slash (greedy)
    if path.endswith("/"):
        path = path[:-1]

    netloc = host + (colon + port if port else "")
    if userinfo:
        netloc = userinfo + "@" + netloc
    # fragment removed by omission
    return urlunsplit((scheme, netloc, path, query, ""))


def resolve_and_normalize(base_url: str, href: str) -> str:
    """Resolve a (possibly relative) href against the page URL, then
    canonicalize — the link pipeline of ExtractDocLinks
    (reference lib/resource.go:161-189).

    Fast path: an absolute http(s) href with a real netloc start and no
    space/tab/semicolon skips ``urljoin`` entirely — urljoin is ~half the
    whole parse kernel's CPU, and for such hrefs its parse/unparse
    round-trip is the identity (fuzzed byte-equivalent over 300k
    adversarial cases; the excluded characters mark the only divergences:
    empty-netloc inheritance, whitespace re-stripping, and urlparse
    dropping a ';' with empty params)."""
    href = href.strip()
    if href.startswith("http://"):
        rest = href[7:]
    elif href.startswith("https://"):
        rest = href[8:]
    else:
        rest = None
    if (
        rest and rest[0] not in "/?#"
        and " " not in href and "\t" not in href and ";" not in href
    ):
        return normalize_url(href)
    try:
        absu = urljoin(base_url, href)
    except ValueError:
        return ""
    if not absu:
        return ""
    # data:/mailto:/javascript: etc resolve to themselves; keep them — the
    # candidate filter rejects them downstream by host mismatch (reference
    # passes them through extraction too, lib/resource.go:168-177)
    return normalize_url(absu)


def canonical_host(url: str) -> str:
    """Politeness / partitioning host key: lowercase host, no port, no www."""
    try:
        host = urlsplit(url).hostname or ""
    except ValueError:
        return ""
    return _RX_WWW.sub("", host.lower())


_MAX_LEN = 2147483647


def _cut(s: Column, delims: str) -> Column:
    """``s`` up to the first of any character in ``delims``."""
    for d in delims:
        s = F.substring_index(s, d, 1)
    return s


def url_parts_col(url: Column) -> tuple[Column, Column, Column]:
    """JVM-side (authority, host, path) of a url column by string slicing —
    the crawl's one host key: seeds, late seeds, redirect terminals,
    hot-host detection and candidates all take ``host`` (and so their
    seen-set partition) from here, so equal urls always land in the same
    partition.

    The authority is the lowercased text between "://" and the first "/",
    "?" or "#" ("" without "://"). The host is the authority after its
    last "@", a bracketed IPv6 literal kept whole (``[::1]``) or else cut
    at the port's ":", with a leading "www." stripped. The path runs from
    the authority to the first "?" or "#". No java.net.URI parse (a
    ``parse_url`` costs a URI construction per call): a url whose path URI
    rejects still keeps its host, as with Go's url.Parse."""
    sep = F.locate("://", url)
    rest = F.when(sep > 0, F.substring(url, sep + 3, _MAX_LEN)).otherwise("")
    raw_auth = _cut(rest, "/?#")
    auth = F.lower(raw_auth)
    hp = F.substring_index(auth, "@", -1)
    host = F.when(
        hp.startswith("["), F.substring(hp, 1, F.instr(hp, "]"))
    ).otherwise(F.substring_index(hp, ":", 1))
    path = _cut(F.substring(rest, F.length(raw_auth) + 1, _MAX_LEN), "?#")
    return auth, F.regexp_replace(host, r"^www\.", ""), path


def surt(url: str) -> str:
    """SURT (Sort-friendly URI Reordering Transform) key, the CDXJ index
    ordering (reference lib/walk.go:21-22, resource_handler.go:157-175):
    ``http://www.example.com/path?b=2&a=1`` -> ``com,example)/path?a=1&b=2``.
    Computed on the canonicalized URL."""
    n = normalize_url(url)
    if not n:
        return ""
    parts = urlsplit(n)
    host = parts.hostname or ""
    rev = ",".join(reversed(host.split("."))) if host else ""
    port = f":{parts.port}" if parts.port else ""
    key = rev + port + ")" + (parts.path or "")
    if parts.query:
        key += "?" + parts.query
    return key


#: P9 — defined but never called in the reference (lib/resource.go:212-234;
#: no call sites); exposed here as an optional candidate filter.
_NON_PAGE_SCHEMES = frozenset({"data", "mailto", "ftp", "javascript", "tel"})
_NON_HTML_EXTENSIONS = frozenset({
    ".css", ".js", ".png", ".jpg", ".jpeg", ".gif", ".ico", ".svg",
    ".pdf", ".zip", ".gz", ".mp3", ".mp4", ".avi", ".mov", ".woff",
    ".woff2", ".ttf", ".xml", ".json", ".txt",
})


def is_webpage_url(url: str) -> bool:
    """Heuristic 'is this a crawlable HTML page' predicate."""
    try:
        parts = urlsplit(url)
    except ValueError:
        return False
    if parts.scheme and parts.scheme.lower() in _NON_PAGE_SCHEMES:
        return False
    path = parts.path.lower()
    dot = path.rfind(".")
    if dot != -1 and path[dot:] in _NON_HTML_EXTENSIONS:
        return False
    return True


def url_path(url: str) -> str:
    try:
        return urlsplit(url).path
    except ValueError:
        return ""


# ---------------------------------------------------------------------------
# pandas-vectorized wrappers (for use inside Arrow/pandas UDFs)
# ---------------------------------------------------------------------------

def normalize_url_series(s: pd.Series) -> pd.Series:
    # None propagates (NULL in, NULL out) so nullable columns like
    # redirect_to keep their is-null semantics through normalization
    return s.map(lambda x: None if x is None else normalize_url(x))


def surt_series(s: pd.Series) -> pd.Series:
    return s.map(lambda x: surt(x) if x is not None else "")
