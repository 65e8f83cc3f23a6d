"""Canonicalizer: pinned-rule cases + pure↔vectorized↔Spark parity."""

import pandas as pd
import pyspark.sql.functions as F
from hypothesis import given, settings, strategies as st

from gigaspark.functions.urls import (
    canonicalize_series, canonicalize_url, host_col, path_col,
    py_firstip, py_host, py_path, with_url_columns,
)
from gigaspark.xxh import urlhash48

CASES = {
    "HTTP://Host1.EXAMPLE:80/a/./b/../c//d?x=1&PHPSESSID=abc&y=2#frag":
        "http://host1.example/a/c/d?x=1&y=2",
    "host2.example/p/3": "http://host2.example/p/3",
    "https://Host.example.:443/%41%2Fb?sid=9": "https://host.example/A%2Fb",
    "http://h.example": "http://h.example/",
    "http://h.example/p/?jsessionid=1": "http://h.example/p/",
    "http://h.example/a/b/../../..//c": "http://h.example/c",
    "http://WWW.Host3.example/p/0": "http://www.host3.example/p/0",
    "http://h.example:8080/x": "http://h.example:8080/x",
    "http://h.example/?&": "http://h.example/",
}


def test_pinned_cases():
    for raw, want in CASES.items():
        assert canonicalize_url(raw) == want, raw


def test_idempotent():
    for want in CASES.values():
        assert canonicalize_url(want) == want


_url_chars = st.text(
    alphabet="abcXYZ019-._~/%?#&=:@ .", min_size=0, max_size=40)


@settings(max_examples=300, deadline=None)
@given(host=st.from_regex(r"[A-Za-z][A-Za-z0-9.\-]{0,20}", fullmatch=True),
       rest=_url_chars,
       scheme=st.sampled_from(["http", "HTTP", "https", ""]))
def test_vectorized_matches_pure(host, rest, scheme):
    raw = (f"{scheme}://{host}/{rest}" if scheme else f"{host}/{rest}")
    got = canonicalize_series(pd.Series([raw])).iloc[0]
    assert got == canonicalize_url(raw)


def test_spark_udf_and_derived_columns(spark):
    raws = list(CASES.keys())
    df = spark.createDataFrame([(r,) for r in raws], ["url"])
    out = {r["orig"]: r for r in
           with_url_columns(df.withColumn("orig", F.col("url"))).collect()}
    for raw, want in CASES.items():
        row = out[raw]
        assert row["url"] == want
        assert row["host"] == py_host(want)
        assert row["path"] == py_path(want)
        assert row["urlhash48"] == urlhash48(want)
        assert row["firstip"] == py_firstip(py_host(want))


def test_host_path_parse_url_parity(spark):
    """Spark parse_url must agree with the pure py_host/py_path mirrors
    on canonical URLs (the only place they are applied)."""
    urls = ["http://host1.example/p/7", "http://www.host3.example/p/0",
            "https://h.example:8080/a/b?x=1", "http://h.example/"]
    rows = (
        spark.createDataFrame([(u,) for u in urls], ["url"])
        .select("url", host_col(F.col("url")).alias("h"),
                path_col(F.col("url")).alias("p"))
        .collect()
    )
    for r in rows:
        assert r["h"] == py_host(r["url"])
        assert r["p"] == py_path(r["url"])


# --- punycode (IDNA) + registered-domain extraction (C1/C3 round 2) ---------

IDN_CASES = {
    "http://bücher.example/x": "http://xn--bcher-kva.example/x",
    "http://BÜCHER.example/x": "http://xn--bcher-kva.example/x",
    "http://münchen.de/straße": "http://xn--mnchen-3ya.de/stra%C3%9Fe",
    "http://例え.jp/": "http://xn--r8jz45g.jp/",
    "http://ascii.example/ok": "http://ascii.example/ok",
}


def test_idna_host_pinned_cases():
    from gigaspark.functions.urls import canonicalize_url
    for raw, want in IDN_CASES.items():
        got = canonicalize_url(raw)
        assert got.split("/")[2] == want.split("/")[2], (raw, got)


def test_idna_vectorized_matches_pure():
    from gigaspark.functions.urls import canonicalize_series, canonicalize_url
    raws = list(IDN_CASES) + ["http://plain.example/", "no-scheme-idn-ü.example"]
    vec = canonicalize_series(pd.Series(raws)).tolist()
    assert vec == [canonicalize_url(r) for r in raws]


DOMAIN_CASES = {
    "www.example.co.uk": "example.co.uk",
    "a.b.shop.com.au": "shop.com.au",
    "example.com": "example.com",
    "www.example.com": "example.com",
    "deep.sub.host.org": "host.org",
    "localhost": "localhost",
    "co.uk": "co.uk",          # bare suffix: <3 labels → last-2 rule
    "x.co.il": "x.co.il",
    "news.example.de": "example.de",
}


def test_py_domain_pinned_cases():
    from gigaspark.functions.urls import py_domain
    for host, want in DOMAIN_CASES.items():
        assert py_domain(host) == want, host


def test_domain_col_matches_py(spark):
    from gigaspark.functions.urls import domain_col, py_domain
    hosts = list(DOMAIN_CASES)
    rows = (
        spark.createDataFrame([(h,) for h in hosts], ["host"])
        .select("host", domain_col(F.col("host")).alias("d")).collect())
    for r in rows:
        assert r["d"] == py_domain(r["host"]) == DOMAIN_CASES[r["host"]]


@given(st.lists(
    st.text(alphabet="abcdefghijklmnopqrstuvwxyz0123456789-", min_size=1,
            max_size=8),
    min_size=1, max_size=5))
@settings(max_examples=60, deadline=None)
def test_domain_property_suffix_of_host(labels):
    from gigaspark.functions.urls import py_domain
    host = ".".join(labels)
    d = py_domain(host)
    assert host == d or host.endswith("." + d)
    assert 1 <= len(d.split(".")) <= 3


def test_surt_key_edges(spark):
    """SURT pinned subset: case fold, www/wwwN strip, port + userinfo
    strip, fragment drop, query-param sort, empty path → '/'."""
    from gigaspark.functions.urls import surt_col
    from pyspark.sql import functions as F

    cases = {
        "HTTP://WWW.Example.COM:80/A/B?z=1&a=2#frag":
            "com,example)/a/b?a=2&z=1",
        "http://www3.example.com": "com,example)/",
        "https://u:p@sub.example.com/x": "com,example,sub)/x",
        "http://example.com/x?": "com,example)/x",
        "http://example.com/x?&&b=1&a=1": "com,example)/x?a=1&b=1",
        # '?' ONLY inside the fragment must NOT be misread as a query
        "http://example.com/x#a?b": "com,example)/x",
        "http://example.com/#q?y=1&x=2": "com,example)/",
    }
    df = spark.createDataFrame([(u,) for u in cases], "url string")
    got = {r["url"]: r["surt"]
           for r in df.select("url", surt_col(F.col("url")).alias("surt"))
                      .collect()}
    for u, want in cases.items():
        assert got[u] == want, (u, got[u])


def test_surt_prefix_groups_site(spark):
    """All URLs of one host share a SURT prefix that sorts contiguously
    (the range-pruning property the CDX index relies on)."""
    from gigaspark.functions.urls import surt_col
    from pyspark.sql import functions as F

    urls = ([f"http://a.example.com/p/{i}" for i in range(5)]
            + [f"http://b.example.com/p/{i}" for i in range(5)])
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    keys = sorted(r["surt"] for r in
                  df.select(surt_col(F.col("url")).alias("surt")).collect())
    # sorted keys cluster: first 5 all a, last 5 all b
    assert all(k.startswith("com,example,a)") for k in keys[:5])
    assert all(k.startswith("com,example,b)") for k in keys[5:])


# -- already-canonical fast path (skips the Python round-trip) ---------------

_FAST_HOST = st.from_regex(r"[a-z0-9-]{1,8}(\.[a-z0-9-]{1,6}){0,3}",
                           fullmatch=True)
_FAST_SEG = st.from_regex(r"[a-zA-Z0-9_\-~.!$&'()*+,;=:@]{1,8}",
                          fullmatch=True)


@given(host=_FAST_HOST,
       segs=st.lists(_FAST_SEG, min_size=0, max_size=4),
       trail=st.booleans(),
       scheme=st.sampled_from(["http", "https"]))
@settings(max_examples=300, deadline=None)
def test_fastpath_is_identity(host, segs, trail, scheme):
    """Every URL the JVM fast-path regex accepts must be a fixed point
    of the pinned canonicalizer — the invariant that lets
    with_url_columns null-mask those rows out of the pandas UDF."""
    import re

    from gigaspark.functions.urls import _CANONICAL_FAST_RE

    url = f"{scheme}://{host}/" + "/".join(segs) + ("/" if segs and trail else "")
    if re.fullmatch(_CANONICAL_FAST_RE, url):
        assert canonicalize_url(url) == url, url


def test_fastpath_rejects_noncanonical():
    """URLs the canonicalizer would REWRITE must be rejected by the
    fast-path regex (they need the Python pass)."""
    import re

    from gigaspark.functions.urls import _CANONICAL_FAST_RE

    def fast(u):
        return re.fullmatch(_CANONICAL_FAST_RE, u) is not None

    for raw, want in CASES.items():
        if raw != want:
            assert not fast(raw), raw
    for u in ["http://H.example/x", "HTTP://h.example/x",
              "http://h.example", "http://h.example./x",
              "http://h.example:80/x", "http://u@h.example/x",
              "http://h.example//x", "http://h.example/a/./b",
              "http://h.example/a/../b", "http://h.example/%41",
              "http://h.example/x?q=1", "http://h.example/x#f",
              "http://héte.example/x", "ftp://h.example/x",
              " http://h.example/x", "http://h.example/a b"]:
        assert not fast(u), u
    for u in ["http://h.example/", "http://h.example/x",
              "https://a-b.c0.example/p/1/", "http://h.example/a:b@c"]:
        assert fast(u), u


def test_with_url_columns_fastpath_parity(spark):
    """The split fast/slow plan must produce byte-identical canonical URLs
    to the pure canonicalizer for a mixed fast/slow batch (including a
    NULL url, whose behavior must not change)."""
    raws = list(CASES) + list(CASES.values()) + [None]
    df = spark.createDataFrame(list(enumerate(raws)), "i long, url string")
    got = {r["i"]: r["url"]
           for r in with_url_columns(df).select("i", "url").collect()}
    want = {i: (canonicalize_url(u) if u is not None else
                canonicalize_series(pd.Series([None], dtype="object")).iloc[0])
            for i, u in enumerate(raws)}
    assert got == want


def test_fastpath_rlike_rejects_line_terminators(spark):
    """The JVM-side predicate itself (not a Python re mirror) must
    reject URLs with trailing/embedded line terminators: Java find()
    semantics let ^/$ match around a final newline, so the pattern is
    anchored with \\A/\\z — this pins that anchoring (ADVICE r4)."""
    from gigaspark.functions.urls import canonical_fastpath_col

    bad = ["http://h.example/x\n", "http://h.example/x\r\n",
           "http://h.example/x\r", "http://h.example/x\njunk",
           "\nhttp://h.example/x", "http://h.example/a\nb"]
    good = ["http://h.example/x", "https://a-b.c0.example/p/1/"]
    df = spark.createDataFrame([(u,) for u in bad + good], "url string")
    rows = df.select(
        "url", canonical_fastpath_col(F.col("url")).alias("fast")).collect()
    got = {r["url"]: r["fast"] for r in rows}
    for u in bad:
        assert not got[u], repr(u)
    for u in good:
        assert got[u], repr(u)
    # and the rewrite is correct end-to-end: the newline row must take
    # the slow path and come out canonicalized, not pass through
    out = {r["url"] for r in with_url_columns(
        spark.createDataFrame([("http://h.example/x\n",)], "url string")
    ).collect()}
    assert out == {"http://h.example/x"}

