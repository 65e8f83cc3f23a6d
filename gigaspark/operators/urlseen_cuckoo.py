"""Partitioned CUCKOO-filter URL-seen set (SURVEY §2.7; the north rule
names "a partitioned bloom/cuckoo URL-seen set" — this is the cuckoo
half, the bloom half lives in :mod:`gigaspark.operators.urlseen`).

A standalone operator: the crawl scheduler's seen set runs the bloom
variant, and callers that need deletion (the ``urlseen_cuckoo`` entry
query) use this one directly.  Same layering as the bloom variant — the
filter answers "DEFINITELY NEW" with zero shuffle, "maybe seen" falls
through to the exact left-anti join — so the final semantics stay
exact.  What the cuckoo filter adds over bloom (Fan, Andersen,
Kaminsky, Mitzenmacher: "Cuckoo Filter: Practically Better Than
Bloom", CoNEXT 2014):

  * **deletion** — a force-deleted URL (Gigablast's ``force_delete``
    url-filter outcome / Spiderdb key tombstone [U][M]) can be REMOVED
    from the seen set so a later re-discovery re-enters the frontier;
    bloom bits cannot be unset;
  * bounded fpp at high load: 2 buckets x 4 slots x 16-bit fingerprints
    give fpp ~ 2*4/2^16 ~ 1.2e-4 at ~95% load factor.

Layout: one segment per ``pmod(urlhash48, n_segments)`` (the same
partitioning as the bloom segments); a segment is a (n_buckets, 4)
uint16 table stored as binary rows
``(segment_id, table, n_inserted, saturated)``.

Scale notes: inserts within a segment are inherently order-dependent
(cuckoo eviction chains), so the build vectorizes the common
first-placement path (sort by bucket, cumcount slot assignment — numpy)
and falls back to a bounded python kick loop ONLY for the residue
(<5% at realistic loads); segments build in parallel across executors.
A segment whose kick budget is exhausted is marked ``saturated`` and
answers maybe_seen=True for every probe — correctness degrades to the
exact-join backstop, never to a wrong answer.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType, BooleanType, IntegerType, LongType, StructField, StructType,
)

SLOTS = 4
MAX_KICKS = 500
_FP_BITS = 16

CUCKOO_SCHEMA = StructType(
    [
        StructField("segment_id", IntegerType(), False),
        StructField("table", BinaryType(), False),
        StructField("n_inserted", LongType(), False),
        StructField("saturated", BooleanType(), False),
    ]
)


@dataclass(frozen=True)
class CuckooParams:
    n_segments: int = 64
    n_buckets: int = 1 << 14  # per segment; power of two; capacity ~4*that*0.95

    @property
    def bucket_mask(self) -> int:
        return self.n_buckets - 1


def _mix(k: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — same mixing family as the bloom module.
    uint64 wraparound is the algorithm, not an error."""
    with np.errstate(over="ignore"):
        z = (k + np.uint64(0x9E3779B97F4A7C15)) * np.uint64(0xBF58476D1CE4E5B9)
        z ^= z >> np.uint64(27)
        z *= np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def _fingerprints(keys: np.ndarray, p: CuckooParams) -> tuple[np.ndarray, np.ndarray]:
    """keys (int64) → (fp uint16 never 0, i1 int64 primary bucket)."""
    k = keys.astype(np.uint64)
    z = _mix(k)
    fp = (z & np.uint64((1 << _FP_BITS) - 1)).astype(np.uint16)
    fp = np.where(fp == 0, np.uint16(1), fp)  # 0 marks an empty slot
    i1 = (_mix(z) & np.uint64(p.bucket_mask)).astype(np.int64)
    return fp, i1


def _alt_bucket(i: np.ndarray, fp: np.ndarray, p: CuckooParams) -> np.ndarray:
    """Partial-key cuckoo: i2 = i XOR hash(fp) — an involution, so the
    pair {i1, i2} is recoverable from EITHER bucket plus the fp."""
    with np.errstate(over="ignore"):  # uint64 wraparound is the hash
        h = _mix(fp.astype(np.uint64) * np.uint64(0xC2B2AE3D27D4EB4F))
    return (i.astype(np.uint64) ^ (h & np.uint64(p.bucket_mask))).astype(np.int64)


def segment_id_col(p: CuckooParams, key: str = "urlhash48") -> Column:
    return F.pmod(F.col(key), F.lit(p.n_segments)).cast("int").alias("segment_id")


# --------------------------------------------------------------------------- #
# single-segment numpy kernel                                                 #
# --------------------------------------------------------------------------- #

def _insert_into(table: np.ndarray, fp: np.ndarray, i1: np.ndarray,
                 p: CuckooParams, rng_seed: int = 0) -> bool:
    """Insert fingerprints; returns False iff the kick budget ran out
    (caller marks the segment saturated).  Duplicates insert as extra
    copies (bounded: ≤8 slots per pair) — lookups don't care, and
    deletes remove one copy per call, matching multiset semantics."""
    # vectorized first-placement: keys whose primary bucket has room
    order = np.argsort(i1, kind="stable")
    si, sf = i1[order], fp[order]
    # cumcount within equal buckets
    change = np.r_[True, si[1:] != si[:-1]]
    grp_start = np.flatnonzero(change)
    cum = np.arange(len(si)) - np.repeat(grp_start, np.diff(np.r_[grp_start, len(si)]))
    free0 = (table[si] == 0).sum(axis=1) if len(si) else np.empty(0, np.int64)
    # place the first (free-slot-count) arrivals of each bucket vectorized
    takeable = cum < free0
    placed_i, placed_f = si[takeable], sf[takeable]
    if len(placed_i):
        # slot index = index of nth zero; loop over the ≤4 slot columns
        done = np.zeros(len(placed_i), dtype=bool)
        rank = cum[takeable]
        seen_zero = np.zeros(len(placed_i), dtype=np.int64)
        for s in range(SLOTS):
            col_empty = table[placed_i, s] == 0
            hit = col_empty & (seen_zero == rank) & ~done
            table[placed_i[hit], s] = placed_f[hit]
            seen_zero += col_empty & ~done
            done |= hit
    # residue: python kick loop (bounded), the inherent sequential part
    rng = np.random.default_rng(rng_seed)
    for f, i in zip(sf[~takeable], si[~takeable]):
        f = np.uint16(f)
        cur_i = int(i)
        for _ in range(MAX_KICKS):
            row = table[cur_i]
            empty = np.flatnonzero(row == 0)
            if len(empty):
                row[empty[0]] = f
                break
            alt = int(_alt_bucket(np.int64(cur_i), f, p))
            row2 = table[alt]
            empty2 = np.flatnonzero(row2 == 0)
            if len(empty2):
                row2[empty2[0]] = f
                break
            # evict a deterministic-pseudo-random victim and continue
            v = int(rng.integers(0, SLOTS))
            f, row2[v] = np.uint16(row2[v]), f
            cur_i = alt
        else:
            return False
    return True


def _lookup(table: np.ndarray, keys: np.ndarray, p: CuckooParams) -> np.ndarray:
    fp, i1 = _fingerprints(keys, p)
    i2 = _alt_bucket(i1, fp, p)
    return ((table[i1] == fp[:, None]).any(axis=1)
            | (table[i2] == fp[:, None]).any(axis=1))


def _delete_from(table: np.ndarray, keys: np.ndarray, p: CuckooParams) -> int:
    """Remove ONE copy of each key's fingerprint (if present); returns
    the number actually removed."""
    fp, i1 = _fingerprints(keys, p)
    i2 = _alt_bucket(i1, fp, p)
    removed = 0
    for f, a, b in zip(fp, i1, i2):
        for bucket in (a, b):
            slot = np.flatnonzero(table[bucket] == f)
            if len(slot):
                table[bucket, slot[0]] = 0
                removed += 1
                break
    return removed


# --------------------------------------------------------------------------- #
# DataFrame operators (mirror urlseen.py's API)                               #
# --------------------------------------------------------------------------- #

def build_segments(keys: DataFrame, p: CuckooParams) -> DataFrame:
    """keys(urlhash48) → cuckoo segments; one applyInPandas pass."""

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        table = np.zeros((p.n_buckets, SLOTS), dtype=np.uint16)
        arr = pdf["urlhash48"].to_numpy(dtype=np.int64)
        fp, i1 = _fingerprints(arr, p)
        sid = int(pdf["segment_id"].iloc[0]) if len(pdf) else 0
        ok = _insert_into(table, fp, i1, p, rng_seed=sid)
        return pd.DataFrame(
            {"segment_id": [sid], "table": [table.tobytes()],
             "n_inserted": [len(arr)], "saturated": [not ok]}
        )

    return (
        keys.select("urlhash48", segment_id_col(p))
        .groupBy("segment_id")
        .applyInPandas(_build, CUCKOO_SCHEMA)
    )


def merge_segments(a: DataFrame, b: DataFrame, p: CuckooParams) -> DataFrame:
    """Merge segment sets by re-inserting every stored fingerprint of the
    smaller side — possible WITHOUT the original keys because partial-key
    cuckoo recovers the bucket pair from (bucket, fp) alone."""

    def _merge(pdf: pd.DataFrame) -> pd.DataFrame:
        sid = int(pdf["segment_id"].iloc[0])
        tables = [np.frombuffer(blob, dtype=np.uint16).reshape(p.n_buckets, SLOTS)
                  for blob in pdf["table"]]
        n = int(pdf["n_inserted"].sum())
        sat = bool(pdf["saturated"].any())
        acc = tables[0].copy()
        for t in tables[1:]:
            occ = np.nonzero(t)
            for bucket, slot in zip(*occ):
                f = t[bucket, slot]
                row = acc[bucket]
                empty = np.flatnonzero(row == 0)
                if len(empty):
                    row[empty[0]] = f
                    continue
                alt = int(_alt_bucket(np.int64(bucket), np.uint16(f), p))
                row2 = acc[alt]
                empty2 = np.flatnonzero(row2 == 0)
                if len(empty2):
                    row2[empty2[0]] = f
                else:
                    ok = _insert_into(acc, np.array([f], np.uint16),
                                      np.array([bucket], np.int64), p, sid)
                    sat = sat or not ok
        return pd.DataFrame({"segment_id": [sid], "table": [acc.tobytes()],
                             "n_inserted": [n], "saturated": [sat]})

    return a.unionByName(b).groupBy("segment_id").applyInPandas(_merge, CUCKOO_SCHEMA)


def delete_keys(segments: DataFrame, keys: DataFrame, p: CuckooParams) -> DataFrame:
    """Remove keys (e.g. force-deleted URLs) from the filter — the
    capability bloom lacks.  Cogrouped per segment; unmatched segments
    pass through unchanged."""

    def _del(seg: pd.DataFrame, cand: pd.DataFrame) -> pd.DataFrame:
        if len(seg) == 0:
            return pd.DataFrame(columns=["segment_id", "table", "n_inserted",
                                         "saturated"])
        table = np.frombuffer(seg["table"].iloc[0], dtype=np.uint16).reshape(
            p.n_buckets, SLOTS).copy()
        removed = 0
        if len(cand):
            removed = _delete_from(
                table, cand["urlhash48"].to_numpy(dtype=np.int64), p)
        return pd.DataFrame(
            {"segment_id": [int(seg["segment_id"].iloc[0])],
             "table": [table.tobytes()],
             "n_inserted": [int(seg["n_inserted"].iloc[0]) - removed],
             "saturated": [bool(seg["saturated"].iloc[0])]}
        )

    keyed = keys.select("urlhash48", segment_id_col(p)).dropDuplicates(["urlhash48"])
    return (
        segments.groupBy("segment_id")
        .cogroup(keyed.groupBy("segment_id"))
        .applyInPandas(_del, CUCKOO_SCHEMA)
    )


def probe(candidates: DataFrame, segments: DataFrame, p: CuckooParams) -> DataFrame:
    """Attach ``maybe_seen``; saturated segments answer True (exact-join
    fallback), so saturation can never produce a wrong final answer."""
    out_schema = StructType(
        [StructField("urlhash48", LongType(), False),
         StructField("maybe_seen", BooleanType(), False)]
    )

    def _probe(cand: pd.DataFrame, seg: pd.DataFrame) -> pd.DataFrame:
        arr = cand["urlhash48"].to_numpy(dtype=np.int64)
        if len(seg) == 0:
            res = np.zeros(len(arr), dtype=bool)
        elif bool(seg["saturated"].iloc[0]):
            res = np.ones(len(arr), dtype=bool)
        else:
            table = np.frombuffer(seg["table"].iloc[0], dtype=np.uint16).reshape(
                p.n_buckets, SLOTS)
            res = _lookup(table, arr, p)
        return pd.DataFrame({"urlhash48": arr, "maybe_seen": res})

    keyed = candidates.select("urlhash48", segment_id_col(p)).dropDuplicates(["urlhash48"])
    probed = (
        keyed.groupBy("segment_id")
        .cogroup(segments.groupBy("segment_id"))
        .applyInPandas(_probe, out_schema)
    )
    return candidates.join(probed, "urlhash48", "left").fillna({"maybe_seen": True})


def filter_new(
    candidates: DataFrame,
    seen_keys: DataFrame,
    segments: DataFrame | None,
    p: CuckooParams,
    key_cols: tuple[str, str] = ("firstip", "urlhash48"),
) -> DataFrame:
    """EXACT new-URL filter: cuckoo prefilter + left-anti join backstop —
    drop-in equivalent of urlseen.filter_new (F5/J5)."""
    if segments is None:
        return candidates.join(seen_keys, list(key_cols), "left_anti")
    probed = probe(candidates, segments, p)
    definitely_new = probed.where(~F.col("maybe_seen")).drop("maybe_seen")
    maybe = probed.where(F.col("maybe_seen")).drop("maybe_seen")
    checked = maybe.join(seen_keys, list(key_cols), "left_anti")
    return definitely_new.unionByName(checked)
