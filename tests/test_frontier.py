"""Golden crawl-order end-to-end test (SURVEY §5.2.1 — the qa.cpp analogue).

Runs the pure-Python oracle simulator (the executable spec for Gigablast's
``SpiderLoop``/``populateDoledbFromWaitingTree`` semantics [U][H]) and the
Spark ``CrawlScheduler`` on the SAME synthesized universe and asserts:

  * emitted crawl order matches EXACTLY, seq by seq (north_rule contract);
  * the URL-seen set matches exactly (firstip, urlhash48, min_hopcount);
  * politeness invariant: consecutive fetches on one firstip are separated
    by >= FETCH_MS + max(same_ip_wait, crawl_delay) (§5.2.5 property);
  * at most max_spiders_per_ip in flight per (round, firstip);
  * no URL emitted twice;
  * per-round metrics (clock/accepted/dup_seen/filtered/robots_denied) agree.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gigaspark.operators.frontier import FETCH_MS, CrawlScheduler
from tests.conftest import load_fixtures
from tests.oracle_sim import OracleSim

MAX_ROUNDS = 200


@pytest.fixture(scope="module")
def micro_run(spark, micro_dir):
    sim = OracleSim(micro_dir)
    sim_res = sim.run(max_rounds=MAX_ROUNDS)
    sched = CrawlScheduler(spark, load_fixtures(spark, micro_dir))
    sched.run(max_rounds=MAX_ROUNDS, seeds=spark.read.parquet(f"{micro_dir}/seeds.parquet"))
    return sim, sim_res, sched


def test_emitted_order_matches_oracle(micro_run):
    _, sim_res, sched = micro_run
    got = [
        (r["seq"], r["urlhash48"], r["url"], r["firstip"], r["priority"],
         r["scheduled_time_ms"], r["hopcount"])
        for r in sched.emitted_df().orderBy("seq").collect()
    ]
    want = [
        (e.seq, e.urlhash48, e.url, e.firstip, e.priority,
         e.scheduled_time_ms, e.hopcount)
        for e in sim_res.emitted
    ]
    assert len(got) == len(want), f"emitted {len(got)} vs oracle {len(want)}"
    for g, w in zip(got, want):
        assert g == w, f"first divergence at seq={w[0]}: spark={g} oracle={w}"


def test_url_seen_matches_oracle(micro_run):
    _, sim_res, sched = micro_run
    got = {
        (r["firstip"], r["urlhash48"]): (r["min_hopcount"], r["round_enqueued"])
        for r in sched.seen.collect()
    }
    assert got == sim_res.seen


def test_politeness_gaps(micro_run, spark, micro_dir):
    _, _, sched = micro_run
    em = sched.emitted_df()
    delays = sched.host_delays
    w = F.expr(
        "lag(scheduled_time_ms) over (partition by firstip order by scheduled_time_ms)")
    gaps = (
        em.join(delays, "host", "left")
        .withColumn("prev_ms", w)
        .where(F.col("prev_ms").isNotNull())
        .withColumn("gap", F.col("scheduled_time_ms") - F.col("prev_ms"))
        .withColumn("min_gap",
                    F.lit(FETCH_MS) + F.coalesce("crawl_delay_ms", F.lit(0)))
    )
    bad = gaps.where(F.col("gap") < F.col("min_gap")).count()
    assert bad == 0


def test_no_duplicate_emission(micro_run):
    _, _, sched = micro_run
    em = sched.emitted_df()
    assert em.count() == em.select("firstip", "urlhash48").distinct().count()


def test_metrics_match_oracle(micro_run):
    _, sim_res, sched = micro_run
    keys = ("clock_ms", "emitted", "accepted", "dup_seen", "filtered",
            "robots_denied", "tombstoned")
    got = [{k: m.get(k, 0) for k in keys} for m in sched.metrics]
    want = [{k: m.get(k, 0) for k in keys} for m in sim_res.metrics]
    assert got == want


def test_tiny_universe_order(spark, tiny_dir):
    """Larger universe incl. megahost skew — full golden-order equality."""
    sim_res = OracleSim(tiny_dir).run(max_rounds=MAX_ROUNDS)
    sched = CrawlScheduler(spark, load_fixtures(spark, tiny_dir))
    sched.run(max_rounds=MAX_ROUNDS,
              seeds=spark.read.parquet(f"{tiny_dir}/seeds.parquet"))
    got = [(r["seq"], r["urlhash48"]) for r in
           sched.emitted_df().select("seq", "urlhash48").orderBy("seq").collect()]
    want = [(e.seq, e.urlhash48) for e in sim_res.emitted]
    assert got == want
    got_seen = {(r["firstip"], r["urlhash48"]) for r in
                sched.seen.select("firstip", "urlhash48").collect()}
    assert got_seen == set(sim_res.seen)


def test_copartitioned_plan_equivalence(micro_run, spark, micro_dir,
                                        monkeypatch):
    """The co-partitioned fallback joins (host_state and tombstones past
    their broadcast ceilings, the plan a 10^10-URL frontier takes) must
    emit the IDENTICAL (seq, urlhash48) schedule as the default
    broadcast plan.  Forcing both ceilings to -1 makes every round take
    the fallback on the golden micro-universe; running it at a second
    shuffle-partition count also pins layout-independence."""
    import gigaspark.operators.frontier as fr

    def schedule(sched):
        return [(r["seq"], r["urlhash48"])
                for r in sched.emitted_df().orderBy("seq").collect()]

    default_order = schedule(micro_run[2])
    monkeypatch.setattr(fr, "BROADCAST_HOSTS_MAX", -1)
    monkeypatch.setattr(fr, "BROADCAST_KEYS_MAX", -1)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        sched = CrawlScheduler(spark, load_fixtures(spark, micro_dir))
        sched.run(max_rounds=MAX_ROUNDS,
                  seeds=spark.read.parquet(f"{micro_dir}/seeds.parquet"))
        fallback_order_p3 = schedule(sched)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert fallback_order_p3 == default_order


# synth's rule table with per-rule fetch slots 0–3 instead of all 1: a
# host whose top URL is a seed gets one slot even though its other rows
# allow three, so the per-host bound differs from k_max
MIXED_K_FILTERS = [
    (0, "ismedia", -3, 30.0, 1, 0, False, False),
    (1, "hopcount>=7", -3, 30.0, 1, 0, False, False),
    (2, "urlmatch~=banned", -2, 30.0, 1, 0, False, False),
    (3, "urlmatch~=killme", 60, 30.0, 1, 0, False, True),
    (4, "isseed", 80, 30.0, 1, 150, True, False),
    (5, "iswww && hopcount>=2", 25, 30.0, 2, 250, True, False),
    (6, "hopcount>=3", 35, 30.0, 0, 100, False, False),
    (7, "default", 55, 30.0, 3, 100, True, False),
]


def test_mixed_per_host_limits_match_oracle(spark, micro_dir, tmp_path):
    """The winner window's literal ``row_number() <= k_max`` bound must
    drop no winner when hosts' own bounds (their top URL's
    max_spiders_per_ip, 0 read as 1) are below k_max."""
    import shutil

    from tests.test_errors_quota import _write_rules

    d = str(tmp_path / "mixed_k")
    shutil.copytree(micro_dir, d)
    _write_rules(d, MIXED_K_FILTERS)

    rounds = 8
    sim_res = OracleSim(d).run(max_rounds=rounds)
    sched = CrawlScheduler(spark, load_fixtures(spark, d))
    assert sched.k_max == 3
    sched.run(max_rounds=rounds, seeds=spark.read.parquet(f"{d}/seeds.parquet"))
    got = [(r["seq"], r["urlhash48"], r["scheduled_time_ms"]) for r in
           sched.emitted_df().orderBy("seq").collect()]
    want = [(e.seq, e.urlhash48, e.scheduled_time_ms) for e in sim_res.emitted]
    assert got == want
