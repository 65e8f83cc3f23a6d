"""Error-retry + site-quota golden tests (oracle steps 9/10).

Gigablast retries failed fetches with an error-count-aware filter
re-evaluation (``SpiderReply::m_errCode`` + hastmperror/errorcount
predicates [U][M]) and enforces a per-site page quota (Tagdb sitepages
[U][L]).  The Spark scheduler and the pure-Python oracle run the same
universe with a deterministic failure signal (urlhash48 % err_mod == 0)
and must emit bit-identical schedules and metrics.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from gigaspark.operators.frontier import CrawlConfig, CrawlScheduler
from gigaspark.synth import SynthParams, gen_all
from tests.conftest import load_fixtures
from tests.oracle_sim import OracleSim

ROUNDS = 12
ERR_MOD = 5           # ~20% of fetches fail
RETRY_WAIT = 700      # short backoff so retries land inside the test window
QUOTA = 3

# retry ladder: first two errors retry at high priority, third gives up
ERROR_FILTERS = [
    (0, "errorcount>=3", -3, 30.0, 1, 0, False, False),
    (1, "hastmperror", 70, 30.0, 1, 50, False, False),
    (2, "isseed", 80, 30.0, 1, 150, True, False),
    (3, "default", 55, 30.0, 1, 100, True, False),
]


def _write_rules(d, rows):
    cols = list(zip(*rows))
    pq.write_table(pa.table({
        "rule_idx": pa.array(cols[0], pa.int32()),
        "expression": pa.array(cols[1], pa.string()),
        "priority": pa.array(cols[2], pa.int32()),
        "spider_freq_days": pa.array(cols[3], pa.float64()),
        "max_spiders_per_ip": pa.array(cols[4], pa.int32()),
        "same_ip_wait_ms": pa.array(cols[5], pa.int64()),
        "harvest_links": pa.array(cols[6], pa.bool_()),
        "force_delete": pa.array(cols[7], pa.bool_()),
    }), f"{d}/url_filters.parquet")


@pytest.fixture(scope="module")
def err_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("errq")
    gen_all(str(d), SynthParams(n_hosts=14, pages_lo=3, pages_hi=6, mega_hosts=0,
                                n_seed_hosts=9, n_images=30, out_degree_hi=3))
    _write_rules(str(d), ERROR_FILTERS)
    return str(d)


def _run_pair(spark, fix_dir, **kw):
    sim = OracleSim(fix_dir, **kw)
    sim.seed()
    while sim.rnd < ROUNDS and (sim.frontier or sim.rnd == 0):
        sim.run_round()
    cfg = CrawlConfig(
        err_mod=kw.get("err_mod", 0), retry_wait_ms=kw.get("retry_wait_ms", 60_000),
        site_quota=kw.get("site_quota", 0))
    sched = CrawlScheduler(spark, load_fixtures(spark, fix_dir), cfg)
    sched.seed(spark.read.parquet(f"{fix_dir}/seeds.parquet"))
    rounds = sim.rnd
    for _ in range(rounds):
        sched.run_round()
    return sim, sched


def _emits(sched):
    return [(r["seq"], r["urlhash48"], r["url"], r["firstip"], r["priority"],
             r["scheduled_time_ms"], r["hopcount"])
            for r in sched.emitted_df().orderBy("seq").collect()]


def _sim_emits(sim):
    return [(e.seq, e.urlhash48, e.url, e.firstip, e.priority,
             e.scheduled_time_ms, e.hopcount) for e in sim.emitted]


def test_error_retry_order_matches_oracle(spark, err_dir):
    sim, sched = _run_pair(spark, err_dir,
                           err_mod=ERR_MOD, retry_wait_ms=RETRY_WAIT)
    got, want = _emits(sched), _sim_emits(sim)
    assert len(got) == len(want), (len(got), len(want))
    for g, w in zip(got, want):
        assert g == w, f"divergence at seq={w[0]}: spark={g} oracle={w}"
    # the failure signal actually fired and retries actually happened
    errs = sum(m.get("errors", 0) for m in sim.metrics)
    rets = sum(m.get("retried", 0) for m in sim.metrics)
    assert errs > 0 and rets > 0
    spark_errs = sum(m.get("errors", 0) for m in sched.metrics)
    spark_rets = sum(m.get("retried", 0) for m in sched.metrics)
    assert (spark_errs, spark_rets) == (errs, rets)


def test_failed_urls_retried_then_dropped(spark, err_dir):
    """A failing URL appears ≥2 times (retries) but ≤3 (errorcount>=3
    gives up), each retry ≥ retry_wait after the failed slot end."""
    sim, _ = _run_pair(spark, err_dir, err_mod=ERR_MOD, retry_wait_ms=RETRY_WAIT)
    by_hash: dict[int, list[int]] = {}
    for e in sim.emitted:
        by_hash.setdefault(e.urlhash48, []).append(e.scheduled_time_ms)
    failing = {h: ts for h, ts in by_hash.items() if h % ERR_MOD == 0}
    assert failing, "no failing URL ever scheduled"
    retried = {h: ts for h, ts in failing.items() if len(ts) > 1}
    assert retried, "no failed URL was retried"
    for h, ts in failing.items():
        assert len(ts) <= 3  # errorcount>=3 → -3 (give up)
        for t1, t2 in zip(ts, ts[1:]):
            assert t2 >= t1 + 100 + RETRY_WAIT
    # successes never repeat (no respider in this config)
    for h, ts in by_hash.items():
        if h % ERR_MOD != 0:
            assert len(ts) == 1


def test_site_quota_matches_oracle(spark, err_dir):
    sim, sched = _run_pair(spark, err_dir, site_quota=QUOTA)
    got, want = _emits(sched), _sim_emits(sim)
    assert got == want
    # quota enforced: no host exceeds QUOTA emissions
    per_ip: dict[int, int] = {}
    for e in sim.emitted:
        per_ip[e.firstip] = per_ip.get(e.firstip, 0) + 1
    assert per_ip and max(per_ip.values()) <= QUOTA
    # and the purge actually dropped something (universe has >QUOTA pages/host)
    dropped = sum(m.get("quota_dropped", 0) for m in sim.metrics)
    spark_dropped = sum(m.get("quota_dropped", 0) for m in sched.metrics)
    assert dropped > 0 and spark_dropped == dropped


def test_respider_with_errors_matches_oracle(spark, err_dir):
    """All three lifecycle paths at once — success→respider re-entry,
    failure→retry re-entry, filter give-up — stay bit-identical."""
    rules = [
        (0, "errorcount>=2", -3, 30.0, 1, 0, False, False),
        (1, "hastmperror", 70, 30.0, 1, 50, False, False),
        (2, "isindexed", 60, 1.5e-5, 1, 50, False, False),
        (3, "isseed", 80, 30.0, 1, 150, True, False),
        (4, "default", 55, 30.0, 1, 100, True, False),
    ]
    _write_rules(err_dir, rules)
    try:
        sim = OracleSim(err_dir, respider=True, err_mod=ERR_MOD,
                        retry_wait_ms=RETRY_WAIT)
        sim.seed()
        while sim.rnd < ROUNDS:
            sim.run_round()
        sched = CrawlScheduler(
            spark, load_fixtures(spark, err_dir),
            CrawlConfig(respider=True, err_mod=ERR_MOD,
                        retry_wait_ms=RETRY_WAIT))
        sched.seed(spark.read.parquet(f"{err_dir}/seeds.parquet"))
        for _ in range(ROUNDS):
            sched.run_round()
        got, want = _emits(sched), _sim_emits(sim)
        assert len(got) == len(want)
        for g, w in zip(got, want):
            assert g == w, f"divergence at seq={w[0]}: spark={g} oracle={w}"
        assert sum(m.get("errors", 0) for m in sim.metrics) > 0
        assert sum(m.get("respidered", 0) for m in sim.metrics) > 0
        # per-round metrics: every key the oracle emits except the raw
        # pre-dedup `candidates` count, which the scheduler does not take
        assert len(sched.metrics) == len(sim.metrics)
        for got_m, want_m in zip(sched.metrics, sim.metrics):
            want_m = {k: v for k, v in want_m.items() if k != "candidates"}
            assert {k: got_m.get(k) for k in want_m} == want_m, \
                f"round {want_m['round']}"
        # both re-entry kinds came out of the same round at least once
        assert any(m["retried"] and m["respidered"] for m in sim.metrics)
    finally:
        _write_rules(err_dir, ERROR_FILTERS)  # restore for other tests


def test_quota_with_errors_counts_successes_only(spark, err_dir):
    """Error slots consume politeness time but not quota: with errors on,
    hosts still reach exactly QUOTA successful emissions where supply
    allows, and the engines stay bit-identical."""
    sim, sched = _run_pair(spark, err_dir, err_mod=ERR_MOD,
                           retry_wait_ms=RETRY_WAIT, site_quota=QUOTA)
    assert _emits(sched) == _sim_emits(sim)
    ok_per_ip: dict[int, int] = {}
    for e in sim.emitted:
        if e.urlhash48 % ERR_MOD != 0:
            ok_per_ip[e.firstip] = ok_per_ip.get(e.firstip, 0) + 1
    assert ok_per_ip and max(ok_per_ip.values()) <= QUOTA
