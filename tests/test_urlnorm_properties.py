"""Property-based canonicalization tests (SURVEY §7 risk: purell parity
sharp edges). Hypothesis fuzzes url shapes; the invariants are the contract:
idempotence, scheme forcing, no fragments, no trailing slash, SURT totality.
"""

import string

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from walk_spark.functions.urlnorm import (
    canonical_host, normalize_url, resolve_and_normalize, surt, url_parts_col,
)

_host_label = st.text(
    alphabet=string.ascii_lowercase + string.digits + "-", min_size=1,
    max_size=8,
).filter(lambda s: not s.startswith("-") and not s.endswith("-"))

hosts = st.lists(_host_label, min_size=1, max_size=3).map(".".join)
paths = st.lists(
    st.text(alphabet=string.ascii_letters + string.digits + "._-~%", min_size=0,
            max_size=6),
    min_size=0, max_size=4,
).map(lambda segs: "/" + "/".join(segs) if segs else "")
queries = st.lists(
    st.tuples(
        st.text(alphabet=string.ascii_lowercase, min_size=1, max_size=4),
        st.text(alphabet=string.ascii_letters + string.digits, min_size=0,
                max_size=4),
    ),
    min_size=0, max_size=3,
).map(lambda kvs: "&".join(f"{k}={v}" for k, v in kvs))


@st.composite
def urls(draw):
    scheme = draw(st.sampled_from(["http", "https", "HTTP", "Https"]))
    host = draw(hosts)
    www = draw(st.sampled_from(["", "www."]))
    port = draw(st.sampled_from(["", ":80", ":443", ":8080"]))
    path = draw(paths)
    q = draw(queries)
    frag = draw(st.sampled_from(["", "#x", "#frag"]))
    u = f"{scheme}://{www}{host}{port}{path}"
    if q:
        u += "?" + q
    return u + frag


@settings(max_examples=300, deadline=None)
@given(urls())
def test_idempotent(u):
    n = normalize_url(u)
    assert normalize_url(n) == n


@settings(max_examples=300, deadline=None)
@given(urls())
def test_canonical_invariants(u):
    n = normalize_url(u)
    assert n.startswith("http://")          # force-http
    assert "#" not in n                      # no fragments
    assert not n.endswith("/")               # greedy trailing slash
    assert "://www." not in n                # www stripped
    host_part = (
        n.split("://", 1)[1].split("/", 1)[0].split("?", 1)[0]
    )
    assert host_part == host_part.lower()    # lowercase host


@settings(max_examples=200, deadline=None)
@given(urls())
def test_query_sorted(u):
    n = normalize_url(u)
    if "?" in n:
        terms = n.split("?", 1)[1].split("&")
        assert terms == sorted(terms)


@settings(max_examples=200, deadline=None)
@given(urls())
def test_surt_total_and_stable(u):
    s1 = surt(u)
    s2 = surt(normalize_url(u))
    assert s1 == s2                          # SURT of canonical form is fixed
    assert ")" in s1


@settings(max_examples=200, deadline=None)
@given(urls(), st.text(alphabet=string.ascii_lowercase + "./", max_size=10))
def test_resolve_never_raises(base, href):
    out = resolve_and_normalize(base, href)
    assert isinstance(out, str)


@settings(max_examples=200, deadline=None)
@given(urls())
def test_canonical_host_matches_normalized(u):
    # host grouping key must agree between raw and canonical url forms
    assert canonical_host(u) == canonical_host(normalize_url(u))


def _parse_url_host(url):
    """The java.net.URI-based host key that url_parts_col replaced:
    parse_url HOST, lowercased, www-stripped."""
    h = F.lower(F.try_parse_url(url, F.lit("HOST")))
    return F.coalesce(F.regexp_replace(h, r"^www\.", ""), F.lit(""))


@settings(max_examples=15, deadline=None)
@given(st.lists(urls(), min_size=1, max_size=100))
def test_url_parts_col_matches_parse_url(spark, us):
    # one Spark job per example: a list of urls, not one url
    df = spark.createDataFrame([(u,) for u in us], "url string").filter(
        F.try_parse_url("url", F.lit("HOST")).isNotNull())
    auth, host, path = url_parts_col(F.col("url"))
    bad = df.filter(
        (host != _parse_url_host(F.col("url")))
        | (auth != F.lower(F.try_parse_url("url", F.lit("AUTHORITY"))))
        | (path != F.try_parse_url("url", F.lit("PATH")))
    ).collect()
    assert not bad
