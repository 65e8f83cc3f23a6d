"""Partitioned bloom-filter URL-seen set (SURVEY §2.7; north_rule-mandated).

Reference semantics: URL-seen membership in Gigablast is EXACT — Spiderdb
key identity (firstIp‖urlHash48) deduplicates at Rdb merge time
(``RdbList::merge_r`` [U][H]); an in-RAM dup cache merely short-circuits.
We mirror that layering:

  * bloom segments answer "DEFINITELY NEW" for a candidate, which then
    can never match the exact join condition;
  * "maybe seen" rows (bloom positives, incl. false positives) are
    checked by an exact left-anti join against the seen keys, so the
    final semantics stay exact = reference semantics.

Scale design: one segment per ``pmod(urlhash48, n_segments)`` partition,
``m_bits`` bits each.  Bit position i < K of a key is
``pmod(xxhash64(urlhash48, i), m_bits) + 1``; Spark's bitmap built-ins
split it into a 32768-bit bucket (``bitmap_bucket_number``) and a bit in
that bucket (``bitmap_bit_position``).  A segment is stored as rows
``(segment_id, bucket, bits, n_inserted)`` — only buckets some key
touched exist — built by ``bitmap_construct_agg``, merged by
``bitmap_or_agg`` and probed by an equi-join on ``(segment_id,
bucket)``: all JVM expressions and aggregates, no Python worker pass.
The rows are checkpointable, so a resumed crawl reloads them (ST4).  At
10^10 URLs: n_segments ~ 4096 × m_bits 2^30 ≈ 512 GiB total across
executors, fpp < 1% — sized by the standard ``m = -n ln p / (ln 2)^2``
formula; locally we default far smaller.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, functions as F

_K = 5  # hash functions


@dataclass(frozen=True)
class BloomParams:
    n_segments: int = 64
    m_bits: int = 1 << 20  # per segment


def segment_id_col(p: BloomParams, key: str = "urlhash48") -> Column:
    return F.pmod(F.col(key), F.lit(p.n_segments)).cast("int").alias("segment_id")


def _bit_rows(keys: DataFrame, p: BloomParams) -> DataFrame:
    """K rows ``(urlhash48, i, segment_id, bucket, bit)`` per key."""
    pos = F.array(*[F.pmod(F.xxhash64("urlhash48", F.lit(i)), F.lit(p.m_bits)) + 1
                    for i in range(_K)])
    return keys.select("urlhash48", segment_id_col(p),
                       F.posexplode(pos).alias("i", "pos")).select(
        "urlhash48", "i", "segment_id",
        F.bitmap_bucket_number("pos").alias("bucket"),
        F.bitmap_bit_position("pos").alias("bit"))


def build_segments(keys: DataFrame, p: BloomParams) -> DataFrame:
    """keys(urlhash48) → segment rows.  A key counts toward
    ``n_inserted`` in the bucket of its first position only, so the
    column sums to the number of keys inserted."""
    return _bit_rows(keys, p).groupBy("segment_id", "bucket").agg(
        F.bitmap_construct_agg("bit").alias("bits"),
        F.count_if(F.col("i") == 0).alias("n_inserted"))


def merge_segments(a: DataFrame, b: DataFrame, p: BloomParams) -> DataFrame:
    """OR-merge two segment sets (old state ∪ new keys' segments)."""
    return a.unionByName(b).groupBy("segment_id", "bucket").agg(
        F.bitmap_or_agg("bits").alias("bits"),
        F.sum("n_inserted").alias("n_inserted"))


def probe(candidates: DataFrame, segments: DataFrame, p: BloomParams) -> DataFrame:
    """Attach ``maybe_seen`` (all K bits set) to candidates.

    False → definitely new; True → check exactly.
    """
    byte = F.conv(F.hex(F.substring("bits", F.shiftright("bit", 3).cast("int") + 1, 1)),
                  16, 10).cast("int")
    is_set = F.call_function("shiftright", byte,
                             F.col("bit").bitwiseAND(7).cast("int")).bitwiseAND(1) == 1
    probed = (
        _bit_rows(candidates.select("urlhash48").dropDuplicates(), p)
        .join(segments.select("segment_id", "bucket", "bits"),
              ["segment_id", "bucket"], "left")
        .groupBy("urlhash48")
        .agg(F.bool_and(F.coalesce(is_set, F.lit(False))).alias("maybe_seen"))
    )
    return candidates.join(probed, "urlhash48", "left").fillna({"maybe_seen": True})


def filter_new(
    candidates: DataFrame,
    seen_keys: DataFrame,
    segments: DataFrame | None,
    p: BloomParams,
    key_cols: tuple[str, str] = ("firstip", "urlhash48"),
) -> DataFrame:
    """EXACT new-URL filter: bloom prefilter (if segments given) + left-anti
    join backstop on (firstip, urlhash48) — SURVEY F5/J5.  One anti join
    on ``maybe_seen AND keys equal``: bloom negatives can never match it,
    bloom positives get the exact key check."""
    if segments is None:
        return candidates.join(seen_keys, list(key_cols), "left_anti")
    seen = seen_keys.select(*[F.col(c).alias(f"_seen_{c}") for c in key_cols])
    cond = F.col("maybe_seen")
    for c in key_cols:
        cond = cond & (F.col(c) == F.col(f"_seen_{c}"))
    return (probe(candidates, segments, p)
            .join(seen, cond, "left_anti").drop("maybe_seen"))
