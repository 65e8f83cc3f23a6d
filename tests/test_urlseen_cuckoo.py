"""Cuckoo URL-seen segments (SURVEY §2.7, the "cuckoo" half of the
north rule's "partitioned bloom/cuckoo URL-seen set").

Beyond the bloom invariants (zero false negatives, layered filter is
EXACT), the cuckoo filter supports DELETION — Gigablast's
``force_delete`` url-filter outcome removes a URL from the seen set so
a re-discovery re-enters the frontier [U].  The crawl scheduler runs
the bloom filter; the cuckoo filter is a standalone operator."""

import numpy as np
import pyspark.sql.functions as F

from gigaspark.operators.urlseen_cuckoo import (
    CuckooParams, build_segments, delete_keys, filter_new, merge_segments,
    probe, _alt_bucket, _fingerprints, _insert_into, _lookup,
)

P = CuckooParams(n_segments=8, n_buckets=1 << 11)


def _keys(spark, lo, hi, ip_base=0):
    return spark.range(lo, hi).select(
        (F.col("id") * 2654435761 % (1 << 48)).alias("urlhash48"),
        (F.col("id") % 97 + ip_base).cast("int").alias("firstip"),
    )


# ---------------------------------------------------------------- kernel ---

def test_alt_bucket_is_involution():
    rng = np.random.default_rng(7)
    i = rng.integers(0, P.n_buckets, 1000).astype(np.int64)
    fp = rng.integers(1, 1 << 16, 1000).astype(np.uint16)
    i2 = _alt_bucket(i, fp, P)
    assert np.array_equal(_alt_bucket(i2, fp, P), i)


def test_kernel_insert_lookup_delete():
    table = np.zeros((P.n_buckets, 4), dtype=np.uint16)
    keys = (np.arange(3000, dtype=np.int64) * 2654435761) % (1 << 48)
    fp, i1 = _fingerprints(keys, P)
    assert _insert_into(table, fp, i1, P)
    assert _lookup(table, keys, P).all()            # no false negatives
    other = keys + 1
    fpp = _lookup(table, other, P).mean()
    assert fpp < 0.01                               # 16-bit fp → tiny fpp
    # delete the first 500 → they stop matching (sans fp collisions)
    from gigaspark.operators.urlseen_cuckoo import _delete_from
    removed = _delete_from(table, keys[:500], P)
    assert removed == 500
    still = _lookup(table, keys[:500], P)
    assert still.mean() < 0.02                      # only residual collisions
    assert _lookup(table, keys[500:], P).all()      # others untouched


# ------------------------------------------------------------ dataframes ---

def test_no_false_negatives(spark):
    seen = _keys(spark, 0, 5000)
    segs = build_segments(seen, P)
    probed = probe(seen, segs, P)
    assert probed.where(~F.col("maybe_seen")).count() == 0


def test_definitely_new_mostly_pass(spark):
    seen = _keys(spark, 0, 2000)
    segs = build_segments(seen, P)
    fresh = _keys(spark, 100000, 102000)
    probed = probe(fresh, segs, P)
    n_maybe = probed.where(F.col("maybe_seen")).count()
    assert n_maybe < 40  # 16-bit fingerprints: fpp ≈ 8/2^16 per probe


def test_layered_filter_is_exact(spark):
    seen = _keys(spark, 0, 3000)
    segs = build_segments(seen, P)
    cand = _keys(spark, 1500, 4500)  # half dup, half new
    with_cuckoo = filter_new(cand, seen, segs, P)
    exact = filter_new(cand, seen, None, P)
    a = {tuple(r) for r in with_cuckoo.select("firstip", "urlhash48").collect()}
    b = {tuple(r) for r in exact.select("firstip", "urlhash48").collect()}
    assert a == b
    assert len(a) == 1500


def test_merge_is_union(spark):
    s1, s2 = _keys(spark, 0, 1000), _keys(spark, 1000, 2000)
    merged = merge_segments(build_segments(s1, P), build_segments(s2, P), P)
    probed = probe(_keys(spark, 0, 2000), merged, P)
    assert probed.where(~F.col("maybe_seen")).count() == 0
    assert merged.agg(F.sum("n_inserted")).collect()[0][0] == 2000


def test_delete_reopens_urls(spark):
    """The capability bloom lacks: after delete_keys, the deleted URLs
    probe as definitely-new again (modulo fp collisions), so a
    force-deleted URL can re-enter the frontier without a full rebuild."""
    seen = _keys(spark, 0, 4000)
    segs = build_segments(seen, P)
    victims = _keys(spark, 0, 800)
    segs2 = delete_keys(segs, victims, P)
    probed = probe(victims, segs2, P)
    n_maybe = probed.where(F.col("maybe_seen")).count()
    assert n_maybe < 20                    # residual fp collisions only
    survivors = probe(_keys(spark, 800, 4000), segs2, P)
    assert survivors.where(~F.col("maybe_seen")).count() == 0
    # segment count bookkeeping
    assert segs2.agg(F.sum("n_inserted")).collect()[0][0] == 4000 - 800


def test_saturated_segment_falls_back_exact(spark):
    """Overfill a tiny table: saturated segments answer maybe_seen=True
    for everything, so filter_new stays EXACT via the anti-join."""
    tiny = CuckooParams(n_segments=2, n_buckets=8)  # capacity ~64 per seg
    seen = _keys(spark, 0, 2000)
    segs = build_segments(seen, tiny)
    assert segs.where("saturated").count() >= 1
    cand = _keys(spark, 1000, 3000)
    got = {tuple(r) for r in
           filter_new(cand, seen, segs, tiny)
           .select("firstip", "urlhash48").collect()}
    want = {tuple(r) for r in
            filter_new(cand, seen, None, tiny)
            .select("firstip", "urlhash48").collect()}
    assert got == want
