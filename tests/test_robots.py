"""robots.txt: Spark longest-match join ≡ pure-Python RobotsOracle."""

import pyspark.sql.functions as F

from gigaspark.operators.robots import (RobotsOracle, eval_allowed, group_rules,
                                        host_delays, prep_rules)
from gigaspark.xxh import urlhash48

RULES = [
    dict(host="a.example", user_agent="*", rule_type="disallow",
         path_prefix="/private", crawl_delay_ms=500),
    dict(host="a.example", user_agent="*", rule_type="disallow",
         path_prefix="/p/9", crawl_delay_ms=500),
    dict(host="a.example", user_agent="*", rule_type="allow",
         path_prefix="/p/90", crawl_delay_ms=500),
    dict(host="b.example", user_agent="*", rule_type="disallow",
         path_prefix="/p/*7$", crawl_delay_ms=0),
    dict(host="c.example", user_agent="*", rule_type="disallow",
         path_prefix="/", crawl_delay_ms=1000),
    dict(host="c.example", user_agent="GigablastOpenSource",
         rule_type="disallow", path_prefix="/only", crawl_delay_ms=200),
]

PATHS = [
    ("a.example", "/p/1"), ("a.example", "/private/x"), ("a.example", "/p/9"),
    ("a.example", "/p/91"), ("a.example", "/p/90"), ("a.example", "/p/901"),
    ("b.example", "/p/17"), ("b.example", "/p/170"), ("b.example", "/x7"),
    ("c.example", "/anything"), ("c.example", "/only/x"),
    ("nobody.example", "/p/1"),
]


def test_spark_matches_oracle(spark):
    oracle = RobotsOracle(RULES)
    rules_df = prep_rules(spark.createDataFrame(RULES))
    urls = spark.createDataFrame(
        [dict(host=h, path=p, urlhash48=urlhash48(h + p)) for h, p in PATHS])
    got = {(r["host"], r["path"]): r["robots_allowed"]
           for r in eval_allowed(urls, group_rules(rules_df)).collect()}
    for h, p in PATHS:
        assert got[(h, p)] == oracle.allowed(h, p), (h, p)
    # pinned semantics spot checks
    assert got[("a.example", "/p/90")] is True      # allow /p/90 longest
    assert got[("a.example", "/p/9")] is False
    assert got[("b.example", "/p/17")] is False     # wildcard+anchor
    assert got[("b.example", "/p/170")] is True     # $ anchor blocks
    assert got[("c.example", "/anything")] is True  # UA group override
    assert got[("c.example", "/only/x")] is False
    assert got[("nobody.example", "/p/1")] is True


def test_crawl_delays(spark):
    oracle = RobotsOracle(RULES)
    delays = {r["host"]: r["crawl_delay_ms"] for r in
              host_delays(prep_rules(spark.createDataFrame(RULES))).collect()}
    assert delays["a.example"] == 500 == oracle.crawl_delay_ms("a.example")
    assert delays["c.example"] == 200 == oracle.crawl_delay_ms("c.example")
    assert oracle.crawl_delay_ms("nobody.example") == 0
