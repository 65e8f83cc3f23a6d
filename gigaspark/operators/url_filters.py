"""URL-filter rule engine (SURVEY §2.2 F1).

Reference: ``Spider.cpp::getUrlFilterNum`` [U][H] — an ordered table of
ANDed predicates; the FIRST matching row assigns (ufn, priority,
spider_freq_days, max_spiders_per_ip, same_ip_wait_ms, harvest_links,
force_delete).  Negative priority (FILTERED=-3, BANNED=-2) drops the URL.

Spark-first design: the rule table is COMPILED into a single nested
``F.when(...).otherwise(...)`` struct column — Catalyst constant-folds and
code-generates the whole chain; no UDF, no shuffle, first-match semantics
= when-chain order.  A pure-Python backend evaluates the same parsed rules
for the oracle simulator; both backends parse the same mini-language so
they cannot drift structurally.

Mini-language (conjunctions with ``&&``):
    default | ismedia | iswww | isseed | isindexed | islinkspam | hastmperror
    hopcount>=N (also <=,==,>,<) | errorcount>=N | percentchangedperday>=N
    tld==STR | urlmatch~=REGEX  (keep regexes Java/Python-common)

``hastmperror``/``errorcount`` mirror Gigablast's retry predicates
(``SpiderReply::m_errCode`` + per-request error counter [U][M]): a failed
fetch re-enters the frontier with errorcount+1 and rules decide whether
to retry (and at what priority) or give up (``errorcount>=N`` → -3).

``islinkspam`` is the F4 slice (``linkspam.cpp::isLinkSpam`` /
``Url.cpp::isSpam`` [U][M]) — PINNED deterministic heuristics, identical
in the Column/py/SQL backends (see :func:`link_spam_col`): subdomain
depth, path depth/length, consecutive triple-repeated path segment,
spam-word list, query-param flood.

``isindexed`` (Gigablast's isindexed predicate: the URL already has a
SpiderReply — it's a respider candidate) and ``percentchangedperday``
(``SpiderReply::m_percentChangedPerDay`` [U][M]) exist so respider rules
can assign adaptive re-crawl intervals (SURVEY §2.5 W4): e.g.
``isindexed && percentchangedperday>=50`` → short spider_freq_days.
Never-fetched URLs evaluate with is_indexed=false, percentchangedperday=0.
"""

from __future__ import annotations

import functools
import re
from dataclasses import dataclass

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame, functions as F

PRIORITY_FILTERED = -3
PRIORITY_BANNED = -2

MEDIA_EXT_RE = r"\.(jpg|jpeg|png|gif|bmp|ico|css|js|svg|woff|ttf|mp3|mp4|avi|mov|pdf|zip)$"

# F4 link-spam heuristics (pinned thresholds; RE2-safe — no backrefs, so
# the DuckDB oracle can reproduce every branch)
SPAM_WORD_RE = r"(casino|viagra|poker|roulette|xxx|warez)"
SPAM_MAX_HOST_LABELS = 6     # deeper subdomain chains are link farms
SPAM_MAX_PATH_DEPTH = 12
SPAM_MAX_PATH_LEN = 160
SPAM_MAX_QUERY_PARAMS = 8


def link_spam_col(host: Column, path: Column, url: Column) -> Column:
    """F4 — boolean Column: is this outlink spam?  Pure built-in exprs
    (split/size/exists/rlike), no UDF; every branch mirrors
    :func:`py_link_spam` and the DuckDB SQL in the contract query."""
    segs = F.split(path, "/")
    n_segs = F.size(segs)
    # consecutive triple-repeated non-empty segment (/a/a/a — the classic
    # crawler-trap loop).  Shifted-slice zip_with, NOT exists(sequence,
    # i -> element_at(segs, i)...): a non-lambda expression inside a
    # higher-order-function body re-evaluates per element, so the
    # element_at form re-runs the path split 3× per window per URL —
    # this form splits a constant 3× per URL (see functions/text.py::
    # shingles for the measured blow-up on long arrays).
    m = F.greatest(n_segs - 3, F.lit(0))
    s1 = F.slice(segs, 2, m)
    s2 = F.slice(segs, 3, m)
    s3 = F.slice(segs, 4, m)
    pair = F.zip_with(s1, s2,
                      lambda a, b: F.when((a == b) & (a != ""), a))
    trip = F.when(
        n_segs >= 4,
        F.exists(F.zip_with(pair, s3,
                            lambda ab, c: ab.isNotNull() & (ab == c)),
                 lambda hit: hit),
    ).otherwise(F.lit(False))
    n_params = F.when(
        url.contains("?"),
        F.size(F.split(F.substring_index(url, "?", -1), "&"))).otherwise(F.lit(0))
    return (
        (F.size(F.split(host, r"\.")) > SPAM_MAX_HOST_LABELS)
        | (n_segs - 1 > SPAM_MAX_PATH_DEPTH)
        | (F.length(path) > SPAM_MAX_PATH_LEN)
        | trip
        | F.lower(url).rlike(SPAM_WORD_RE)
        | (n_params > SPAM_MAX_QUERY_PARAMS)
    )


def py_link_spam(host: str, path: str, url: str) -> bool:
    """Pure-Python mirror of :func:`link_spam_col` (oracle sim/tests)."""
    segs = path.split("/")
    trip = any(
        segs[i] != "" and segs[i] == segs[i + 1] == segs[i + 2]
        for i in range(1, len(segs) - 2)
    )
    n_params = len(url.split("?", 1)[1].split("&")) if "?" in url else 0
    return (
        len(host.split(".")) > SPAM_MAX_HOST_LABELS
        or len(segs) - 1 > SPAM_MAX_PATH_DEPTH
        or len(path) > SPAM_MAX_PATH_LEN
        or trip
        or re.search(SPAM_WORD_RE, url.lower()) is not None
        or n_params > SPAM_MAX_QUERY_PARAMS
    )

_CMP_RE = re.compile(
    r"^(hopcount|errorcount|percentchangedperday)\s*(>=|<=|==|>|<)\s*(-?\d+)$")
_TLD_RE = re.compile(r"^tld\s*==\s*([A-Za-z0-9.\-]+)$")
_SITELIST_RE = re.compile(r"^insitelist\s*==\s*([A-Za-z0-9.\-|]+)$")
_MATCH_RE = re.compile(r"^urlmatch\s*~=\s*(.+)$")

ASSIGN_FIELDS = (
    "ufn",
    "priority",
    "spider_freq_days",
    "max_spiders_per_ip",
    "same_ip_wait_ms",
    "harvest_links",
    "force_delete",
)


@dataclass(frozen=True)
class Pred:
    kind: str  # default|ismedia|iswww|isseed|cmp|tld|match
    field: str = ""
    op: str = ""
    value: object = None


@dataclass(frozen=True)
class Rule:
    rule_idx: int
    preds: tuple[Pred, ...]
    priority: int
    spider_freq_days: float
    max_spiders_per_ip: int
    same_ip_wait_ms: int
    harvest_links: bool
    force_delete: bool


def parse_expression(expr: str) -> tuple[Pred, ...]:
    preds = []
    for term in (t.strip() for t in expr.split("&&")):
        if term == "default":
            preds.append(Pred("default"))
        elif term in ("ismedia", "iswww", "isseed", "isindexed", "islinkspam",
                      "hastmperror"):
            preds.append(Pred(term))
        elif m := _CMP_RE.match(term):
            preds.append(Pred("cmp", field=m.group(1), op=m.group(2), value=int(m.group(3))))
        elif m := _TLD_RE.match(term):
            preds.append(Pred("tld", value=m.group(1)))
        elif m := _SITELIST_RE.match(term):
            # Gigablast custom-crawl site list (getUrlFilterNum insitelist
            # [U][M]): "a.com|b.org" matches the host itself or any
            # subdomain.  The list is embedded in the expression (pinned
            # config, like tld==); a 10^6-site production list would be a
            # broadcast semi-join instead — documented deviation.
            preds.append(Pred("sitelist",
                              value=tuple(sorted(m.group(1).split("|")))))
        elif m := _MATCH_RE.match(term):
            preds.append(Pred("match", value=m.group(1).strip()))
        else:
            raise ValueError(f"unparseable url_filter term: {term!r}")
    return tuple(preds)


def rules_from_rows(rows) -> list[Rule]:
    """rows: iterable of dicts/Rows with the FIXTURES.md §5 columns."""
    out = []
    for r in rows:
        d = r.asDict() if hasattr(r, "asDict") else dict(r)
        out.append(
            Rule(
                rule_idx=int(d["rule_idx"]),
                preds=parse_expression(d["expression"]),
                priority=int(d["priority"]),
                spider_freq_days=float(d["spider_freq_days"]),
                max_spiders_per_ip=int(d["max_spiders_per_ip"]),
                same_ip_wait_ms=int(d["same_ip_wait_ms"]),
                harvest_links=bool(d["harvest_links"]),
                force_delete=bool(d["force_delete"]),
            )
        )
    return sorted(out, key=lambda r: r.rule_idx)


# --- Spark backend -----------------------------------------------------------

def _pred_col(p: Pred) -> Column:
    if p.kind == "default":
        return F.lit(True)
    if p.kind == "ismedia":
        return F.lower(F.col("path")).rlike(MEDIA_EXT_RE)
    if p.kind == "iswww":
        return F.col("host").startswith("www.")
    if p.kind == "isseed":
        return F.coalesce(F.col("is_seed"), F.lit(False))
    if p.kind == "isindexed":
        return F.coalesce(F.col("is_indexed"), F.lit(False))
    if p.kind == "islinkspam":
        return link_spam_col(F.col("host"), F.col("path"), F.col("url"))
    if p.kind == "hastmperror":
        return F.coalesce(F.col("errorcount"), F.lit(0)) > 0
    if p.kind == "cmp":
        c, v = F.col(p.field), F.lit(p.value)
        if p.field == "percentchangedperday":
            c = F.coalesce(c, F.lit(0))
        return {"<": c < v, "<=": c <= v, "==": c == v, ">": c > v, ">=": c >= v}[p.op]
    if p.kind == "tld":
        return F.substring_index(F.col("host"), ".", -1) == F.lit(p.value)
    if p.kind == "sitelist":
        host = F.col("host")
        cond = host.isin(*p.value)  # constant-folds to INSET
        for site in p.value:
            cond = cond | host.endswith("." + site)
        return cond
    if p.kind == "match":
        return F.col("url").rlike(p.value)
    raise ValueError(p.kind)


def _rule_struct(rule: Rule) -> Column:
    return F.struct(
        F.lit(rule.rule_idx).cast("int").alias("ufn"),
        F.lit(rule.priority).cast("int").alias("priority"),
        F.lit(rule.spider_freq_days).cast("double").alias("spider_freq_days"),
        F.lit(rule.max_spiders_per_ip).cast("int").alias("max_spiders_per_ip"),
        F.lit(rule.same_ip_wait_ms).cast("long").alias("same_ip_wait_ms"),
        F.lit(rule.harvest_links).alias("harvest_links"),
        F.lit(rule.force_delete).alias("force_delete"),
    )


def compile_rules_column(rules: list[Rule]) -> Column:
    """Rule table → one struct-valued when-chain column (first match wins).

    Memoized per rule table and SparkContext: the chain costs several
    py4j calls per literal (~0.4 s of driver time for an 8-rule table),
    and the crawl loop applies the same table on every enqueue."""
    return _compile_rules(tuple(rules), SparkContext._active_spark_context)


@functools.lru_cache(maxsize=16)
def _compile_rules(rules: tuple[Rule, ...], _sc: SparkContext | None) -> Column:
    expr: Column | None = None
    for rule in rules:
        cond = F.lit(True)
        for p in rule.preds:
            cond = cond & _pred_col(p)
        expr = F.when(cond, _rule_struct(rule)) if expr is None else expr.when(cond, _rule_struct(rule))
    if expr is None:
        raise ValueError("empty rule table")
    # no-match → UNDEFINED(-1): dropped like Gigablast's unmatched URLs [M]
    none = F.struct(
        F.lit(-1).cast("int").alias("ufn"),
        F.lit(-1).cast("int").alias("priority"),
        F.lit(30.0).cast("double").alias("spider_freq_days"),
        F.lit(1).cast("int").alias("max_spiders_per_ip"),
        F.lit(0).cast("long").alias("same_ip_wait_ms"),
        F.lit(False).alias("harvest_links"),
        F.lit(False).alias("force_delete"),
    )
    return expr.otherwise(none)


def apply_url_filters(df: DataFrame, rules: list[Rule]) -> DataFrame:
    """Attach the assigned-fields columns; requires url/host/path/hopcount/
    errorcount/is_seed columns to exist."""
    return df.withColumn("_uf", compile_rules_column(rules)).select(
        "*", *[F.col(f"_uf.{f}").alias(f) for f in ASSIGN_FIELDS]
    ).drop("_uf")


# --- Pure-Python backend (oracle simulator) ----------------------------------

def _pred_py(p: Pred, row: dict) -> bool:
    if p.kind == "default":
        return True
    if p.kind == "ismedia":
        return re.search(MEDIA_EXT_RE, row["path"].lower()) is not None
    if p.kind == "iswww":
        return row["host"].startswith("www.")
    if p.kind == "isseed":
        return bool(row.get("is_seed"))
    if p.kind == "isindexed":
        return bool(row.get("is_indexed"))
    if p.kind == "islinkspam":
        return py_link_spam(row["host"], row["path"], row["url"])
    if p.kind == "hastmperror":
        return int(row.get("errorcount") or 0) > 0
    if p.kind == "cmp":
        v = row.get(p.field, 0)
        return {"<": v < p.value, "<=": v <= p.value, "==": v == p.value,
                ">": v > p.value, ">=": v >= p.value}[p.op]
    if p.kind == "tld":
        return row["host"].rsplit(".", 1)[-1] == p.value
    if p.kind == "sitelist":
        h = row["host"]
        return any(h == s or h.endswith("." + s) for s in p.value)
    if p.kind == "match":
        return re.search(p.value, row["url"]) is not None
    raise ValueError(p.kind)


def eval_rules_py(rules: list[Rule], row: dict) -> dict:
    for rule in rules:
        if all(_pred_py(p, row) for p in rule.preds):
            return {
                "ufn": rule.rule_idx,
                "priority": rule.priority,
                "spider_freq_days": rule.spider_freq_days,
                "max_spiders_per_ip": rule.max_spiders_per_ip,
                "same_ip_wait_ms": rule.same_ip_wait_ms,
                "harvest_links": rule.harvest_links,
                "force_delete": rule.force_delete,
            }
    return {
        "ufn": -1, "priority": -1, "spider_freq_days": 30.0,
        "max_spiders_per_ip": 1, "same_ip_wait_ms": 0,
        "harvest_links": False, "force_delete": False,
    }


# ---------------------------------------------------------------------------
# Corpus-level crawl-trap detection (template explosion)
# ---------------------------------------------------------------------------

TRAP_MIN_URLS = 50
TRAP_MAX_DEPTH = 6


def trap_templates(urls: DataFrame, min_urls: int = TRAP_MIN_URLS,
                   max_depth: int = TRAP_MAX_DEPTH) -> DataFrame:
    """Per-host URL-template explosion detector → (host, template,
    depth, n_urls, is_trap).

    F4/``islinkspam`` judges each URL in isolation; real crawler traps
    (calendars, faceted navigation, session paths) only show up in the
    AGGREGATE: one path template expanding into unbounded distinct URLs
    on one host (``Spiderdb``'s loop/trap guards are per-URL [U][M];
    the corpus-level template view is the standard scale-path
    complement, cf. IRLbot's SPAM/BEAST budgeting, public).

    Pinned template law (identical in the DuckDB oracle):

      * path = URL minus scheme://host and any ?query/#fragment;
      * split on ``/``, drop empty segments, keep the first
        ``max_depth`` (deeper segments don't refine a trap verdict);
      * every segment containing a digit becomes ``*``;
      * template = ``/`` + segments rejoined with ``/``;
      * a (host, template) group is a trap iff it covers
        ``>= min_urls`` distinct URLs AND the template has a ``*``
        (a fully static template can't expand).

    Scale shape: two narrow projections + ONE map-side-combinable
    groupBy on (host, template) — no join, no window; the input URL
    set is assumed pre-deduped (frontier/URL-seen upstream).  The trap
    table is small (templates, not URLs) and broadcast-joins back into
    the frontier as a suppression dim.
    """
    host = F.regexp_extract("url", r"^[a-z]+://([^/?#]+)", 1)
    path = F.regexp_extract("url", r"^[a-z]+://[^/?#]+([^?#]*)", 1)
    segs = F.slice(
        F.filter(F.split(path, "/"), lambda s: s != ""), 1, max_depth)
    tpl = F.concat(
        F.lit("/"),
        F.array_join(
            F.transform(segs, lambda s: F.when(s.rlike("[0-9]"), "*")
                        .otherwise(s)), "/"))
    return (urls
            .select(host.alias("host"), tpl.alias("template"),
                    F.size(segs).alias("depth"))
            .groupBy("host", "template", "depth")
            .agg(F.count("*").alias("n_urls"))
            .select("host", "template", "depth", "n_urls",
                    ((F.col("n_urls") >= min_urls) &
                     F.col("template").contains("*")).alias("is_trap")))
