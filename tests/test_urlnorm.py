"""URL canonicalization goldens.

Oracle pairs come from the reference's observable behavior: the sitemap
golden test (lib/sitemap_test.go:52-76) and purell FlagsUnsafeGreedy
semantics exercised by `walk normalize-url` (cmd/normalize_url.go:12-30).
"""

import pandas as pd
import pytest

from walk_spark.functions.urlnorm import (
    canonical_host, normalize_url, normalize_url_series,
    resolve_and_normalize, surt, url_parts_col,
)

GOLDEN = [
    # the reference's own golden (sitemap_test.go:52-76)
    ("https://www.a.com", "http://a.com"),
    ("https://www.a.com/a", "http://a.com/a"),
    # force http + lowercase
    ("HTTPS://WWW.Example.COM/Path", "http://example.com/Path"),
    # default port removal (before force-http: :443 on https is default)
    ("https://a.com:443/x", "http://a.com/x"),
    ("http://a.com:80/x", "http://a.com/x"),
    ("http://a.com:8080/x", "http://a.com:8080/x"),
    # trailing slash
    ("http://a.com/", "http://a.com"),
    ("http://a.com/b/", "http://a.com/b"),
    # directory index
    ("http://a.com/index.html", "http://a.com"),
    ("http://a.com/sub/index.html", "http://a.com/sub"),
    ("http://a.com/sub/default.aspx", "http://a.com/sub"),
    ("http://a.com/indexes.html", "http://a.com/indexes.html"),
    # dot segments
    ("http://a.com/a/b/../c/./d", "http://a.com/a/c/d"),
    # duplicate slashes
    ("http://a.com//a///b", "http://a.com/a/b"),
    # fragment
    ("http://a.com/a#frag", "http://a.com/a"),
    # query sort + empty separator
    ("http://a.com/p?b=2&a=1", "http://a.com/p?a=1&b=2"),
    ("http://a.com/p?", "http://a.com/p"),
    # escapes: unreserved decoded, others uppercased
    ("http://a.com/%7euser", "http://a.com/~user"),
    ("http://a.com/a%2fb", "http://a.com/a%2Fb"),
    # www stripping only as prefix
    ("http://www.www2.com", "http://www2.com"),
    ("http://awww.com", "http://awww.com"),
]


@pytest.mark.parametrize("raw,expect", GOLDEN)
def test_normalize_golden(raw, expect):
    assert normalize_url(raw) == expect


def test_normalize_idempotent():
    for raw, expect in GOLDEN:
        assert normalize_url(expect) == expect


def test_bad_urls():
    assert normalize_url(":::::") == ""
    assert normalize_url("") == ""
    assert normalize_url(None) == ""


def test_resolve_relative():
    base = "http://self.test/sub/index.html"
    assert resolve_and_normalize(base, "./") == "http://self.test/sub"
    assert resolve_and_normalize(base, "a.html") == "http://self.test/sub/a.html"
    assert resolve_and_normalize(base, "../up.html") == "http://self.test/up.html"
    assert resolve_and_normalize(base, "//other.test/x") == "http://other.test/x"
    assert (
        resolve_and_normalize(base, "https://www.abs.test/y#f")
        == "http://abs.test/y"
    )


def test_canonical_host():
    assert canonical_host("https://WWW.Example.com:8443/p") == "example.com"
    assert canonical_host("http://a.b.c.test/x") == "a.b.c.test"
    assert canonical_host(":::") == ""


URL_PARTS = [
    # url -> (authority, host, path)
    ("http://[::1]:8080/a.html", ("[::1]:8080", "[::1]", "/a.html")),
    ("http://[2001:DB8::1]/x", ("[2001:db8::1]", "[2001:db8::1]", "/x")),
    ("http://user@[::1]:443", ("user@[::1]:443", "[::1]", "")),
    ("http://u:p@WWW.A.com:80/p?q#f", ("u:p@www.a.com:80", "a.com", "/p")),
    ("http://a.com#f/g", ("a.com", "a.com", "")),
    ("http://www.a.com/x#frag", ("www.a.com", "a.com", "/x")),
    ("http://a.com?u=http://b.com/", ("a.com", "a.com", "")),
    ("HTTP://WWW.A.COM", ("www.a.com", "a.com", "")),
    ("http://wwwx.test:8080/", ("wwwx.test:8080", "wwwx.test", "/")),
    ("mailto:x@y.com", ("", "", "")),
]


def test_url_parts_col(spark):
    df = spark.createDataFrame([(u,) for u, _ in URL_PARTS], "url string")
    auth, host, path = url_parts_col(df["url"])
    got = {r["url"]: (r["a"], r["h"], r["p"]) for r in df.select(
        "url", auth.alias("a"), host.alias("h"), path.alias("p")).collect()}
    assert got == dict(URL_PARTS)


def test_surt():
    assert surt("https://www.example.com/path?b=2&a=1") == "com,example)/path?a=1&b=2"
    assert surt("http://a.com") == "com,a)"
    # SURT order groups hosts by domain suffix
    assert surt("http://b.example.com/x") > surt("http://example.com/x")


def test_series_wrapper():
    s = pd.Series(["https://www.a.com", None, ":::::"])
    out = normalize_url_series(s)
    # NULL propagates (so nullable columns keep is-null semantics);
    # unparseable urls become ""
    assert list(out) == ["http://a.com", None, ""]
