"""Checkpoint/resume exactness (SURVEY ST4; north_rule requirement).

A crawl interrupted after k rounds and resumed from its StateStore
snapshot must produce EXACTLY the same emitted schedule, URL-seen set,
and per-partition lineage as an uninterrupted run.
"""

from __future__ import annotations

import json
import os

import pytest

from gigaspark.operators.frontier import CrawlConfig, CrawlScheduler
from gigaspark.operators.urlseen import BloomParams
from gigaspark.synth import SynthParams, gen_all
from tests.conftest import load_fixtures

NANO = SynthParams(n_hosts=10, pages_lo=2, pages_hi=4, mega_hosts=0,
                   n_seed_hosts=6, n_images=20, out_degree_hi=3)
MAX_ROUNDS = 80


@pytest.fixture(scope="module")
def nano_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("nano")
    gen_all(str(d), NANO)
    return str(d)


def _emitted_tuples(sched):
    return [(r["seq"], r["urlhash48"], r["scheduled_time_ms"]) for r in
            sched.emitted_df().select("seq", "urlhash48", "scheduled_time_ms")
            .orderBy("seq").collect()]


def test_resume_equals_uninterrupted(spark, nano_dir, tmp_path):
    seeds = spark.read.parquet(f"{nano_dir}/seeds.parquet")
    fx = load_fixtures(spark, nano_dir)

    full = CrawlScheduler(spark, fx)
    full.run(max_rounds=MAX_ROUNDS, seeds=seeds)
    want = _emitted_tuples(full)
    want_seen = {(r["firstip"], r["urlhash48"]) for r in full.seen.collect()}
    assert len(want) > 10

    state = str(tmp_path / "state")
    part = CrawlScheduler(spark, fx, state_dir=state)
    part.seed(seeds)
    for _ in range(3):
        part.run_round()
    manifest = part.checkpoint()
    assert manifest["snapshot_id"] == part.round
    # per-partition lineage is recorded for every state table
    for t in ("frontier", "seen", "host_state", "emitted", "bloom_segments"):
        assert t in manifest["lineage"], t
        assert all("rows" in f for f in manifest["lineage"][t])

    resumed = CrawlScheduler.resume(spark, fx, state, CrawlConfig())
    assert resumed.round == part.round
    assert resumed.clock_ms == part.clock_ms
    while resumed.round < MAX_ROUNDS:
        if resumed.run_round() == 0 and not resumed.metrics[-1]["pending"]:
            break
    got = _emitted_tuples(resumed)
    got_seen = {(r["firstip"], r["urlhash48"]) for r in resumed.seen.collect()}
    assert got == want
    assert got_seen == want_seen


def test_time_travel_and_snapshot_gc(spark, nano_dir, tmp_path):
    """Iceberg-shaped metadata: every checkpoint is a retained snapshot
    readable via at(id) (time travel), and the GC horizon bounds the
    state dir while NEVER dropping the current pointer's snapshot."""
    seeds = spark.read.parquet(f"{nano_dir}/seeds.parquet")
    fx = load_fixtures(spark, nano_dir)
    state = str(tmp_path / "state_tt")
    sched = CrawlScheduler(spark, fx, CrawlConfig(keep_snapshots=2),
                           state_dir=state)
    sched.seed(seeds)
    frontier_counts = {}
    for _ in range(4):
        sched.run_round()
        sched.checkpoint()
        frontier_counts[sched.round] = sched.pending_count
    ids = sched.store.snapshots()
    # GC horizon: only the newest 2 remain, snap dirs of expired ids gone
    assert ids == sorted(frontier_counts)[-2:]
    assert not os.path.exists(
        sched.store._snap_dir(sorted(frontier_counts)[0]))
    # time travel: the older retained snapshot reads back exactly
    old_id = ids[0]
    m = sched.store.at(old_id)
    assert m["snapshot_id"] == old_id
    tbl = sched.store.load_tables(spark, m)
    assert tbl["frontier"].count() == frontier_counts[old_id]
    # the current pointer always equals the newest retained manifest
    assert sched.store.latest()["snapshot_id"] == ids[-1]
    # resume still works after GC
    resumed = CrawlScheduler.resume(spark, fx, state, CrawlConfig())
    assert resumed.round == ids[-1]


def test_resume_rejects_other_bloom_params(spark, nano_dir, tmp_path):
    """Stored bloom segments are only readable with the segment count
    and mask they were built with: probing them with other parameters
    would pass seen keys as "definitely new", so resume refuses."""
    fx = load_fixtures(spark, nano_dir)
    state = str(tmp_path / "state_bloom")
    sched = CrawlScheduler(spark, fx, state_dir=state)
    sched.seed(spark.read.parquet(f"{nano_dir}/seeds.parquet"))
    assert "bloom_segments" in sched.checkpoint()["lineage"]
    other = CrawlConfig(bloom=BloomParams(n_segments=8, m_bits=1 << 14))
    with pytest.raises(ValueError, match="URL-seen filter"):
        CrawlScheduler.resume(spark, fx, state, other)


def test_resume_rejects_old_segment_layout(spark, nano_dir, tmp_path):
    """A snapshot whose bloom metadata carries no segment layout holds
    one whole-segment bit array per row, which the bucketed probe cannot
    read, and lacks the counts resume restores: resume refuses it."""
    fx = load_fixtures(spark, nano_dir)
    state = str(tmp_path / "state_layout")
    sched = CrawlScheduler(spark, fx, state_dir=state)
    sched.seed(spark.read.parquet(f"{nano_dir}/seeds.parquet"))
    sched.checkpoint()
    path = os.path.join(state, "MANIFEST.json")
    with open(path) as f:
        manifest = json.load(f)
    p = BloomParams()
    manifest["meta"]["bloom"] = {"n_segments": p.n_segments, "m_bits": p.m_bits}
    with open(path, "w") as f:
        json.dump(manifest, f)
    with pytest.raises(ValueError, match="URL-seen filter"):
        CrawlScheduler.resume(spark, fx, state, CrawlConfig())
