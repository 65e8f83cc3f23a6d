"""URL canonicalization, host/path extraction, and hash columns.

Reference capability: ``Url.cpp::set`` + ``Spiderdb::getUrlHash48`` [U][H]
(SURVEY.md §2.8 C1–C3) — Gigablast normalizes every URL before hashing it
into a Spiderdb key.  We re-specify canonicalization as the PINNED rules
below (the graft's executable spec), implemented once as a pure-Python
function (used by tests/oracle_sim.py) and once as a pandas-vectorized
transform (used by the Spark pipeline through an Arrow pandas UDF).
A hypothesis property test asserts the two agree byte-for-byte.

PINNED canonicalization rules (deviations from Gigablast are deliberate
and documented; the fixture goldens are derived from THESE rules):
  1. trim ASCII whitespace; prepend ``http://`` when no ``://`` present
  2. lowercase scheme and host; strip a single trailing dot on host;
     non-ASCII host labels → IDNA/punycode ``xn--`` form (RFC 3490/3492
     via Python's built-in idna codec — ``Punycode.cpp`` [U][M]);
     unencodable hosts keep their lowercased form
  3. drop default ports (http:80, https:443)
  4. collapse ``//+`` in the path to ``/``; resolve ``.``/``..`` segments
     (RFC 3986 remove_dot_segments); empty path → ``/``
  5. drop the fragment
  6. percent-decode unreserved chars in path+query; uppercase remaining
     escapes' hex digits
  7. delete session-id query params (phpsessid, sid, oscsid, jsessionid —
     case-insensitive keys, same list as Gigablast's stripSessionId
     behavior [U][M]); drop ``?`` if query becomes empty
  8. query param ORDER IS PRESERVED (no sort)
  9. host ``www.`` prefix is KEPT (Gigablast keeps it; iswww is a filter
     predicate, not a rewrite)

firstip rule (SURVEY §3.3, pinned): ``xxhash64(host) & 0x7FFFFFFF`` —
Gigablast's fakeFirstIp-until-DNS [U] made permanent (deterministic,
network-free); a hostmap table can override via broadcast join (J2).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import StringType

from gigaspark.xxh import URLHASH48_MASK, urlhash48 as _py_urlhash48, xxh64

FIRSTIP_MASK = 0x7FFFFFFF

_URL_RE = re.compile(
    r"^(?P<scheme>[A-Za-z][A-Za-z0-9+.\-]*)://(?P<auth>[^/?#]*)"
    r"(?P<path>[^?#]*)(?:\?(?P<query>[^#]*))?(?:#.*)?$"
)
_AUTH_RE = re.compile(r"^(?P<userinfo>[^@]*@)?(?P<host>[^:]*)(?::(?P<port>[0-9]*))?$")
_MULTI_SLASH_RE = re.compile(r"/{2,}")
_DOTSEG_RE = re.compile(r"(?:^|/)\.{1,2}(?:/|$)")
_SESSION_RE = re.compile(r"(?:^|&)(?:phpsessid|sid|oscsid|jsessionid)=[^&]*", re.IGNORECASE)
_PCT_RE = re.compile(r"%([0-9A-Fa-f]{2})")
_UNRESERVED = set(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-._~"
)
_DEFAULT_PORT = {"http": "80", "https": "443"}


def _idna_host(host: str) -> str:
    """Punycode a non-ASCII host (already lowercased), per label.

    Uses the stdlib ``idna`` codec (IDNA 2003 — a pinned deviation from
    UTS#46; Gigablast's ``Punycode.cpp`` is its own RFC 3492 impl [U]).
    Labels that fail to encode (overlong, bare dots) pass through.
    """
    try:
        return host.encode("idna").decode("ascii")
    except (UnicodeError, UnicodeDecodeError):
        return host


def _remove_dot_segments(path: str) -> str:
    """RFC 3986 §5.2.4."""
    out: list[str] = []
    buf = path
    while buf:
        if buf.startswith("../"):
            buf = buf[3:]
        elif buf.startswith("./"):
            buf = buf[2:]
        elif buf.startswith("/./"):
            buf = "/" + buf[3:]
        elif buf == "/.":
            buf = "/"
        elif buf.startswith("/../"):
            buf = "/" + buf[4:]
            if out:
                out.pop()
        elif buf == "/..":
            buf = "/"
            if out:
                out.pop()
        elif buf in (".", ".."):
            buf = ""
        else:
            i = buf.find("/", 1) if buf.startswith("/") else buf.find("/")
            if i == -1:
                out.append(buf)
                buf = ""
            else:
                out.append(buf[:i])
                buf = buf[i:]
    return "".join(out)


def _decode_pct_match(m: re.Match) -> str:
    ch = chr(int(m.group(1), 16))
    return ch if ch in _UNRESERVED else "%" + m.group(1).upper()


def _decode_unreserved(s: str) -> str:
    return _PCT_RE.sub(_decode_pct_match, s)


def _clean_query(q: str) -> str:
    q = _SESSION_RE.sub("", q)
    return q.lstrip("&")


def canonicalize_url(url: str) -> str:
    """Pure-Python canonicalizer — THE spec; oracle_sim calls this."""
    if url is None:
        return None
    u = url.strip()
    if "://" not in u:
        u = "http://" + u
    m = _URL_RE.match(u)
    if not m:
        return u  # unparseable: pass through verbatim (pinned)
    scheme = m.group("scheme").lower()
    am = _AUTH_RE.match(m.group("auth") or "")
    userinfo = am.group("userinfo") or ""
    host = (am.group("host") or "").lower().rstrip(".")
    if not host.isascii():
        host = _idna_host(host)
    port = am.group("port")
    portpart = "" if (not port or port == _DEFAULT_PORT.get(scheme)) else ":" + port
    path = m.group("path") or ""
    path = _MULTI_SLASH_RE.sub("/", path)
    if _DOTSEG_RE.search(path):
        path = _remove_dot_segments(path)
    if not path:
        path = "/"
    if "%" in path:
        path = _decode_unreserved(path)
    query = m.group("query")
    qpart = ""
    if query:
        query = _clean_query(query)
        if "%" in query:
            query = _decode_unreserved(query)
        if query:
            qpart = "?" + query
    return f"{scheme}://{userinfo}{host}{portpart}{path}{qpart}"


def canonicalize_series(s: pd.Series) -> pd.Series:
    """Pandas-vectorized canonicalizer: same PINNED rules as
    :func:`canonicalize_url`, bulk regex/str ops on the whole Arrow batch;
    scalar fallbacks only on masked rare rows (dot-segments, %-escapes).
    """
    # null rows short-circuit to null (the canonicalize_url(None) → None
    # spec).  This is also the fast-path exit: with_url_columns null-masks
    # already-canonical rows out of the UDF input, so a typical crawl
    # batch is mostly nulls here and must not pay the regex machinery.
    namask = s.isna()
    if namask.any():
        out = pd.Series([None] * len(s), dtype="object", index=s.index)
        live = ~namask
        if live.any():
            out[live] = canonicalize_series(s[live]).astype("object")
        return out
    s = s.astype("object").astype(str)
    s = pd.Series(s, dtype="object").str.strip()
    noscheme = ~s.str.contains("://", regex=False)
    if noscheme.any():
        s = s.where(~noscheme, "http://" + s)
    parts = s.str.extract(_URL_RE)
    parseable = parts["scheme"].notna()
    scheme = parts["scheme"].str.lower()
    auth = parts["auth"].fillna("").str.extract(_AUTH_RE)
    userinfo = auth["userinfo"].fillna("")
    host = auth["host"].fillna("").str.lower().str.rstrip(".")
    nonascii = ~host.map(str.isascii)
    if nonascii.any():
        host = host.mask(nonascii, host[nonascii].map(_idna_host))
    port = auth["port"]
    default_port = scheme.map(_DEFAULT_PORT)
    keep_port = port.notna() & (port != "") & (port != default_port)
    portpart = (":" + port).where(keep_port, "")

    path = parts["path"].fillna("").str.replace(_MULTI_SLASH_RE, "/", regex=True)
    dotmask = path.str.contains(_DOTSEG_RE, regex=True)
    if dotmask.any():
        path = path.mask(dotmask, path[dotmask].map(_remove_dot_segments))
    path = path.where(path != "", "/")
    pctmask = path.str.contains("%", regex=False)
    if pctmask.any():
        path = path.mask(pctmask, path[pctmask].map(_decode_unreserved))

    query = parts["query"]
    qfilled = query.fillna("")
    qclean = qfilled.str.replace(_SESSION_RE, "", regex=True).str.lstrip("&")
    qpct = qclean.str.contains("%", regex=False)
    if qpct.any():
        qclean = qclean.mask(qpct, qclean[qpct].map(_decode_unreserved))
    qpart = ("?" + qclean).where(query.notna() & (qfilled != "") & (qclean != ""), "")

    out = scheme + "://" + userinfo + host + portpart + path + qpart
    return out.where(parseable, s).astype(str)


@F.pandas_udf(StringType())
def canonicalize_udf(s: pd.Series) -> pd.Series:  # pragma: no cover (Spark-side)
    return canonicalize_series(s)


# ---------------------------------------------------------------------------
# Registered-domain extraction (C3 — Domains.cpp TLD table [U][M])
# ---------------------------------------------------------------------------
# Gigablast ships its own TLD table; the public equivalent is the Mozilla
# Public Suffix List.  No network in this sandbox, so we vendor a PINNED
# SUBSET of the most common multi-label public suffixes (documented
# deviation: unknown ccTLD second-level suffixes fall back to the
# last-two-labels rule).  The rule, identical in all three backends
# (Column expr / pure Python / DuckDB oracle SQL):
#   last2 ∈ TWO_LEVEL_SUFFIXES and host has ≥3 labels → last 3 labels
#   host has ≥2 labels                               → last 2 labels
#   else                                             → host verbatim
TWO_LEVEL_SUFFIXES = (
    "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk", "net.uk", "ltd.uk",
    "plc.uk", "sch.uk", "nhs.uk",
    "com.au", "net.au", "org.au", "edu.au", "gov.au", "id.au", "asn.au",
    "co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp", "ad.jp", "ed.jp", "lg.jp",
    "co.nz", "net.nz", "org.nz", "govt.nz", "ac.nz",
    "com.br", "net.br", "org.br", "gov.br", "edu.br",
    "com.cn", "net.cn", "org.cn", "gov.cn", "edu.cn", "ac.cn",
    "com.mx", "org.mx", "gob.mx", "edu.mx", "net.mx",
    "co.in", "net.in", "org.in", "gen.in", "firm.in", "ind.in", "ac.in",
    "gov.in", "edu.in", "res.in",
    "co.kr", "ne.kr", "or.kr", "re.kr", "go.kr", "ac.kr", "pe.kr",
    "com.tr", "net.tr", "org.tr", "gov.tr", "edu.tr",
    "com.ar", "net.ar", "org.ar", "gob.ar", "edu.ar",
    "co.za", "net.za", "org.za", "gov.za", "ac.za", "web.za",
    "com.sg", "net.sg", "org.sg", "edu.sg", "gov.sg",
    "com.hk", "net.hk", "org.hk", "edu.hk", "gov.hk",
    "com.tw", "net.tw", "org.tw", "edu.tw", "gov.tw",
    "com.my", "net.my", "org.my", "edu.my", "gov.my",
    "co.th", "in.th", "or.th", "ac.th", "go.th",
    "co.id", "or.id", "ac.id", "go.id", "web.id",
    "com.ph", "net.ph", "org.ph", "edu.ph", "gov.ph",
    "com.vn", "net.vn", "org.vn", "edu.vn", "gov.vn",
    "com.eg", "com.sa", "com.ua", "com.pl", "com.ru", "com.gr", "com.pt",
    "com.es", "com.co", "com.pe", "com.ve", "com.uy", "com.ec", "com.bo",
    "co.il", "org.il", "ac.il", "gov.il", "muni.il", "net.il",
)

DOMHASH32_MASK = 0xFFFFFFFF


def py_domain(host: str) -> str:
    """Registered domain of an (already canonical) host — pure-Python
    mirror for the oracle sim and property tests."""
    if not host:
        return host
    labels = host.split(".")
    if len(labels) >= 3 and ".".join(labels[-2:]) in TWO_LEVEL_SUFFIXES:
        return ".".join(labels[-3:])
    if len(labels) >= 2:
        return ".".join(labels[-2:])
    return host


def domain_col(host: Column) -> Column:
    """Registered domain as a pure Column expr (JVM-side, codegen): the
    suffix-set membership is a constant-folded isin over the vendored
    table; label slicing is substring_index with negative counts."""
    last2 = F.substring_index(host, ".", -2)
    n_labels = F.size(F.split(host, r"\."))
    return (
        F.when((n_labels >= 3) & last2.isin(*TWO_LEVEL_SUFFIXES),
               F.substring_index(host, ".", -3))
        .when(n_labels >= 2, last2)
        .otherwise(host)
    )


def domhash32_col(domain: Column) -> Column:
    """``hash32`` of the registered domain (Url.cpp getDomHash32 shape
    [U][M], our pinned xxhash64-truncation rule per C2)."""
    return F.xxhash64(domain).bitwiseAND(F.lit(DOMHASH32_MASK)).alias("domhash32")


# ---------------------------------------------------------------------------
# Spark column helpers — pure built-ins (JVM-side, codegen-friendly)
# ---------------------------------------------------------------------------

def urlhash48_col(url: Column) -> Column:
    """``xxhash64(url) & ((1<<48)-1)`` as a long (C2; BASELINE.json:6)."""
    return F.xxhash64(url).bitwiseAND(F.lit(URLHASH48_MASK)).alias("urlhash48")

def host_col(url: Column) -> Column:
    return F.parse_url(url, F.lit("HOST"))

def path_col(url: Column) -> Column:
    return F.coalesce(F.parse_url(url, F.lit("PATH")), F.lit("/"))

def firstip_col(host: Column) -> Column:
    """Pinned fakeFirstIp rule: ``xxhash64(host) & 0x7FFFFFFF`` → int."""
    return F.xxhash64(host).bitwiseAND(F.lit(FIRSTIP_MASK)).cast("int")


# already-canonical fast path: URLs whose canonical form IS the input,
# decidable by one JVM regex — lowercase http(s) scheme, lowercase
# ascii host with no userinfo/port/trailing-dot, a mandatory "/" then
# a path with no empty segment ("//"), no '%', and no query/fragment;
# a second find-regex excludes "." / ".." segments.  For such URLs
# canonicalize_url() is the identity (property-pinned by
# tests/test_urls.py::test_fastpath_is_identity), so they can skip the
# Python round-trip entirely.  At crawl scale the overwhelming
# majority of discovered URLs are in this class, so the Arrow transfer
# only pays for the rare messy rows — the null-masked input column
# ships as a validity bitmap (~1 bit/row) instead of string bytes.
#
# Both engine forms derive from ONE template so they cannot drift.
# The JVM form MUST anchor with \A and \z: Java's rlike runs find()
# semantics where ^/$ would match before a trailing line terminator,
# accepting "http://h/x\n" as canonical and skipping the UDF (wrong
# url/urlhash48, missed dedup).  Python's re has no \z before 3.14,
# so the spec form keeps ^/$ — harmless there because the tests use
# re.fullmatch, which requires the entire string to be consumed.
_CANONICAL_FAST_TEMPLATE = (
    r"https?://[a-z0-9-]+(\.[a-z0-9-]+)*/"
    r"((?!\.\.?/)[^/?#%\s]+/)*(?!\.\.?{end})[^/?#%\s]*{end}")
_CANONICAL_FAST_RE = "^" + _CANONICAL_FAST_TEMPLATE.format(end="$")
_CANONICAL_FAST_RE_JVM = r"\A" + _CANONICAL_FAST_TEMPLATE.format(end=r"\z")


def canonical_fastpath_col(url: Column) -> Column:
    return url.rlike(_CANONICAL_FAST_RE_JVM)


def with_url_columns(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Canonicalize + derive (url, host, path, firstip, urlhash48).

    One Arrow-batched pandas UDF for canonicalization — but only the
    NON-fast-path rows ever reach the Python node: the plan SPLITS into
    a fast branch (pure JVM, stays in whole-stage codegen, no Arrow
    round-trip at all) and a slow branch (the rare messy rows through
    the UDF), unioned back.  A null-masked single-pass variant was
    tried first and still paid the full per-row Python pipe framing;
    the split avoids the ArrowEvalPython node for the dominant branch
    entirely.  Downstream consumers aggregate or key-dedup, so union
    order is immaterial.  Everything else is JVM built-ins.

    REQUIREMENT: ``df`` must be re-evaluation-stable — the two branches
    each re-evaluate the source, so a nondeterministic upstream (e.g. a
    ``rand()``-derived url column, or a source mutating between stage
    launches) could classify a row differently per branch, duplicating
    or dropping it in the union.  Every in-repo caller feeds parquet /
    checkpointed-state scans (deterministic by construction).  For a
    nondeterministic input, cache or checkpoint it first.
    """
    c = F.col(url_col)
    fast = F.coalesce(canonical_fastpath_col(c), F.lit(False))
    fast_df = df.where(fast)
    slow_df = df.where(~fast).withColumn(url_col, canonicalize_udf(c))
    df = fast_df.unionByName(slow_df)
    df = df.withColumn("host", host_col(F.col(url_col)))
    return (
        df.withColumn("path", path_col(F.col(url_col)))
        .withColumn("firstip", firstip_col(F.col("host")))
        .withColumn("urlhash48", urlhash48_col(F.col(url_col)))
    )


# Pure-Python mirrors for the oracle simulator --------------------------------

def py_host(url: str) -> str:
    m = _URL_RE.match(url)
    if not m:
        return ""
    am = _AUTH_RE.match(m.group("auth") or "")
    return am.group("host") or ""


def py_path(url: str) -> str:
    m = _URL_RE.match(url)
    p = (m.group("path") or "") if m else ""
    return p if p else "/"


def py_firstip(host: str) -> int:
    return xxh64(host.encode("utf-8")) & FIRSTIP_MASK


py_urlhash48 = _py_urlhash48


def surt_col(url: Column) -> Column:
    """SURT key (Sort-friendly URI Reordering Transform — the Internet
    Archive's CDX index key, public): same-site URLs become PREFIX
    RANGES of one sorted key space, so a 10^10-row URL index answers
    host/domain scans with parquet min-max range pruning instead of a
    host join.

    Pinned canonicalization subset (documented deviations from IA's
    full canonicalizer: no %-decode, no session-id strip — those live
    in `canonicalize_url` upstream):

      * lowercase the whole URL;
      * host: strip userinfo, one leading ``www[0-9]*.`` label, and any
        explicit port; reverse dot-labels joined by commas;
      * key = ``revhost)/path`` (empty path → ``/``);
      * query: split on ``&``, drop empties, SORT (byte order), rejoin
        — appended as ``?sorted`` when non-empty; fragments dropped.

    Pure Column ops, mirrored verbatim in DuckDB SQL by the
    `surt_cdx_index` oracle.
    """
    lo = F.lower(url)
    host = F.regexp_extract(lo, r"^[a-z]+://(?:[^@/?#]*@)?([^/?#]+)", 1)
    host = F.regexp_replace(host, r":[0-9]*$", "")
    host = F.regexp_replace(host, r"^www[0-9]*\.", "")
    revhost = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    path = F.regexp_extract(lo, r"^[a-z]+://[^/?#]+([^?#]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    # strip the fragment FIRST, then take the query from the remainder —
    # an unanchored \?([^#]*) over the whole URL would misread a '?'
    # that appears only inside the fragment (e.g. /x#a?b) as a query
    nofrag = F.regexp_replace(lo, r"#.*", "")
    q = F.regexp_extract(nofrag, r"\?(.*)", 1)
    qsorted = F.array_join(
        F.array_sort(F.filter(F.split(q, "&"), lambda x: x != "")), "&")
    return F.concat(
        revhost, F.lit(")"), path,
        F.when(qsorted == "", F.lit("")).otherwise(
            F.concat(F.lit("?"), qsorted)))
