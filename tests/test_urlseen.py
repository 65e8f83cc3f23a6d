"""Bloom URL-seen segments: zero false negatives; layered filter is EXACT."""

import pyspark.sql.functions as F
import pytest

from gigaspark.operators.urlseen import (
    BloomParams, build_segments, filter_new, merge_segments, probe,
)

P = BloomParams(n_segments=8, m_bits=1 << 14)


def _keys(spark, lo, hi, ip_base=0):
    return spark.range(lo, hi).select(
        (F.col("id") * 2654435761 % (1 << 48)).alias("urlhash48"),
        (F.col("id") % 97 + ip_base).cast("int").alias("firstip"),
    )


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
    assert n_maybe < 200  # fpp well under 10% at this sizing


def test_layered_filter_is_exact(spark):
    seen = _keys(spark, 0, 3000)
    segs = build_segments(seen, P)
    cand = _keys(spark, 1500, 4500)  # half dup, half new
    with_bloom = filter_new(cand, seen, segs, P)
    exact = filter_new(cand, seen, None, P)
    a = {tuple(r) for r in with_bloom.select("firstip", "urlhash48").collect()}
    b = {tuple(r) for r in exact.select("firstip", "urlhash48").collect()}
    assert a == b
    assert len(a) == 1500


def test_merge_is_union(spark):
    s1, s2 = _keys(spark, 0, 1000), _keys(spark, 1000, 2000)
    merged = merge_segments(build_segments(s1, P), build_segments(s2, P), P)
    probed = probe(_keys(spark, 0, 2000), merged, P)
    assert probed.where(~F.col("maybe_seen")).count() == 0
    assert merged.agg(F.sum("n_inserted")).collect()[0][0] == 2000


@pytest.mark.parametrize("m_bits", [1 << 14, 1 << 15, 1 << 16, 1 << 20])
def test_bucket_edges(spark, m_bits):
    """Segments span one 32768-bit bitmap per bucket: 2^15 bits fill
    exactly one, 2^14 part of one, 2^16 and 2^20 several."""
    p = BloomParams(n_segments=8, m_bits=m_bits)
    a, b = _keys(spark, 0, 2500), _keys(spark, 2500, 5000)
    both = a.unionByName(b)
    built = build_segments(both, p)
    assert probe(both, built, p).where(~F.col("maybe_seen")).count() == 0
    assert built.agg(F.sum("n_inserted")).collect()[0][0] == 5000
    lo, hi = built.agg(F.min("bucket"), F.max("bucket")).collect()[0]
    assert 1 <= lo and hi <= max(1, m_bits >> 15)

    def bits(segs):
        return {(r["segment_id"], r["bucket"]): bytes(r["bits"])
                for r in segs.collect()}

    merged = merge_segments(build_segments(a, p), build_segments(b, p), p)
    assert bits(merged) == bits(built)
    assert merged.agg(F.sum("n_inserted")).collect()[0][0] == 5000
