"""Long-run driver-plan boundedness: per-round wall time stays flat.

Round 1 left the emitted/fetched logs growing one plan leaf per round
(never compacted until emitted_df()); a 10^4-round crawl would
accumulate an unbounded driver-side union and per-round time would creep
as Catalyst re-analyzes an ever-deeper plan.  `_maybe_compact` now folds
them every 16 rounds.  This test runs enough rounds to cross several
compaction cycles of EVERY parts list and asserts late rounds are no
slower than early ones.
"""

import time

from pyspark.sql import functions as F

from gigaspark.operators.frontier import CrawlConfig, CrawlScheduler


def _one_per_round_universe(spark):
    """1 host, k=1, no links: every round emits exactly 1 URL."""
    n = 90
    seeds = spark.createDataFrame(
        [(f"http://onehost.example/p/{i}", i, True) for i in range(n)],
        "url string, added_time_ms long, is_seed boolean")
    fixtures = {
        "seeds": seeds,
        "url_filters": spark.createDataFrame(
            [(0, "default", 50, 0.0, 1, 100_000, False, False)],
            "rule_idx int, expression string, priority int,"
            " spider_freq_days double, max_spiders_per_ip int,"
            " same_ip_wait_ms long, harvest_links boolean,"
            " force_delete boolean"),
        "robots": spark.createDataFrame(
            [], "host string, user_agent string, rule_type string,"
                " path_prefix string, crawl_delay_ms long"),
        "hostmap": spark.createDataFrame(
            [("onehost.example", 7)], "host string, firstip int"),
        "link_graph": spark.createDataFrame(
            [], "src_url string, dst_urls array<string>"),
    }
    return seeds, fixtures, n


def test_per_round_time_flat_over_many_rounds(spark):
    seeds, fixtures, n = _one_per_round_universe(spark)
    sched = CrawlScheduler(spark, fixtures)
    sched.seed(seeds)

    times = []
    rounds = 64  # crosses 4 emitted-log compactions and 8+ hp compactions
    for _ in range(rounds):
        t0 = time.time()
        got = sched.run_round()
        times.append(time.time() - t0)
        assert got == 1
    # every parts list must have been folded, not grown round-count deep
    assert len(sched.emitted_parts) < 32
    assert len(sched.frontier_parts) < 8
    assert len(sched.removed_parts) < 8
    assert len(sched.hp_parts) < 16

    # flatness: late-window mean no worse than 2x early-window mean
    # (generous bound — the round-1 pathology was superlinear growth,
    # ~100s/round by round 40; warm-up rounds 0-7 excluded)
    early = sum(times[8:24]) / 16
    late = sum(times[-16:]) / 16
    assert late <= 2.0 * early + 0.5, (early, late, times)

    out = sched.emitted_df()
    assert out.count() == rounds
    # schedule is the seed order (one host, FIFO by added_ms)
    rows = out.orderBy("seq").select("url").collect()
    assert [r.url for r in rows] == [
        f"http://onehost.example/p/{i}" for i in range(rounds)]
    # politeness spacing preserved across compactions
    slots = [r.scheduled_time_ms for r in
             out.orderBy("seq").select("scheduled_time_ms").collect()]
    assert all(b - a >= 100 for a, b in zip(slots, slots[1:]))


def test_300_rounds_flat_wall_and_bounded_state_dir(spark, tmp_path):
    """ST4 at crawl-lifetime scale: 300 rounds with periodic
    checkpoints — per-round wall stays flat AND the state dir stays
    bounded (snapshot GC drops expired snapshots; without it the dir
    grows one full state copy per checkpoint)."""
    import os

    def du(path):
        total = 0
        for root, _, files in os.walk(path):
            for f in files:
                total += os.path.getsize(os.path.join(root, f))
        return total

    n = 310
    seeds = spark.createDataFrame(
        [(f"http://onehost.example/p/{i}", i, True) for i in range(n)],
        "url string, added_time_ms long, is_seed boolean")
    fixtures = {
        "url_filters": spark.createDataFrame(
            [(0, "default", 50, 0.0, 1, 100_000, False, False)],
            "rule_idx int, expression string, priority int,"
            " spider_freq_days double, max_spiders_per_ip int,"
            " same_ip_wait_ms long, harvest_links boolean,"
            " force_delete boolean"),
        "robots": spark.createDataFrame(
            [], "host string, user_agent string, rule_type string,"
                " path_prefix string, crawl_delay_ms long"),
        "link_graph": spark.createDataFrame(
            [], "src_url string, dst_urls array<string>"),
    }
    state = str(tmp_path / "state300")
    sched = CrawlScheduler(
        spark, fixtures,
        CrawlConfig(checkpoint_every=25, keep_snapshots=2),
        state_dir=state)
    sched.seed(seeds)

    times, sizes = [], []
    for _ in range(300):
        t0 = time.time()
        assert sched.run_round() == 1
        times.append(time.time() - t0)
        sizes.append(du(state))

    # wall flat: the last 50-round window no slower than 2x the
    # 50-round window after warm-up
    early = sum(times[10:60]) / 50
    late = sum(times[-50:]) / 50
    assert late <= 2.0 * early + 0.5, (early, late)

    # state dir bounded: GC leaves EXACTLY the retained generations on
    # disk — the pointer, the last 2 versioned manifests, the last 2
    # snapshot dirs; nothing from the other ~10 checkpoints survives
    # (that is the boundedness property: retained state, not history)
    ids = sched.store.snapshots()
    assert len(ids) == 2 and sched.round // 25 >= 12
    expect = {"MANIFEST.json"} \
        | {f"manifest_{i:08d}.json" for i in ids} \
        | {f"snap_{i:08d}" for i in ids}
    assert set(os.listdir(state)) == expect
    # and the retained footprint is a small multiple of live state,
    # not proportional to checkpoint count (12x would be ~unbounded)
    per_snap = max(du(sched.store._snap_dir(i)) for i in ids)
    n_ckpts = sched.round // 25
    assert sizes[-1] < (n_ckpts - 2) * per_snap, (sizes[-1], per_snap)
