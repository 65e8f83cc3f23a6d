"""The crawl-frontier scheduler — Spark re-expression of Gigablast's
spider loop (SURVEY §3.1: ``SpiderLoop::spiderDoledUrls`` +
``SpiderColl::populateDoledbFromWaitingTree`` [U][H]).

Semantics are PINNED by tests/oracle_sim.py (the executable spec); this
module must reproduce its emitted crawl order and URL-seen set exactly.
Each virtual-clock round is a pure DataFrame program:

    eligible = frontier ⟕ host_state            (waiting-tree analogue)
    winners  = top-k per firstip by (priority desc, added, hop, hash)
               — the Doledb A1 drain, a row_number window
    slots    = cumulative politeness gaps within host (window sum)
    emit     → ordered schedule (golden-order contract, W1)
    fetch    → simulated via page_image/images join (S4) + PSNR/caption
               validation (J8) when payload tables are provided
    outlinks → canonicalize → hash → filters → robots → bloom+anti-join
               dedup (F5/J5/§2.7) → frontier append
    host_state ← next_ok = last slot end + max(wait, crawl_delay) (A2)

Determinism (SURVEY §4.5): no wall-clock, no randomness; every ordering
has a total tie-break ending in urlhash48; the final seq is assigned by
one explicit global sort — identical output at local[8] and local[32].

Scale notes (10^10-URL design): frontier/seen are hash-partitioned by
firstip, so the winner window (partitioned by firstip) runs without a
shuffle on a compacted frontier.  Its literal ``row_number() <= k_max``
bound lets Catalyst plan a ``WindowGroupLimit``: when a multi-part
frontier does shuffle, the Partial limit runs map-side, so at most
k_max rows per host and input partition cross the exchange, however
big a megahost's pending set is.  State snapshots commit
through io/tableio.StateStore (Iceberg-emulating manifest) → exact
resume (ST4).  Per-round driver work is O(1) scalar aggregates only —
no ``collect()`` of data rows.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession, Window, functions as F
from pyspark.sql import types as T

from gigaspark.io.tableio import StateStore
from gigaspark.session import (CKPT_SERIALIZED_MIN_ROWS, bounded_collect,
                               stable_checkpoint)
from gigaspark.operators import robots as robots_op
from gigaspark.operators import urlseen
from gigaspark.operators.url_filters import ASSIGN_FIELDS, Rule, apply_url_filters, rules_from_rows
from gigaspark.functions.urls import host_col, path_col, with_url_columns

FETCH_MS = 100
MS_PER_DAY = 86_400_000

# row-count ceilings for the explicit small-side broadcasts in the
# round loop (round 5).  The checkpointed state leaves carry no size
# stats by design (session.stable_checkpoint drops origin stats), so
# the planner can never auto-broadcast them — the scheduler instead
# tracks exact/estimated row counts driver-side (Observation scalars,
# no extra jobs) and hints F.broadcast itself while the side is small.
# Past the ceiling the join falls back to the co-partitioned
# zero-big-side-exchange plan (state is hash-partitioned by firstip, a
# subset of every state-join's keys), which is the 10^10-URL path.
BROADCAST_HOSTS_MAX = 2_000_000      # host_state rows (~24 B/row)
BROADCAST_KEYS_MAX = 2_000_000       # tombstone rows

ENQUEUE_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("added_ms", T.LongType()),
    T.StructField("hopcount", T.IntegerType()),
    T.StructField("is_seed", T.BooleanType()),
])

EMIT_COLS = ["round", "scheduled_time_ms", "priority", "added_ms", "urlhash48",
             "url", "firstip", "hopcount", "host"]


def _union(parts: list[DataFrame]) -> DataFrame:
    """Lazy union of same-schema LSM parts (non-empty list)."""
    return reduce(lambda a, b: a.unionByName(b), parts)


def _win_order():
    # building Columns needs an active SparkContext → lazy, not module-level
    return [F.col("priority").desc(), F.col("added_ms").asc(),
            F.col("hopcount").asc(), F.col("urlhash48").asc()]


@dataclass
class CrawlConfig:
    bloom: urlseen.BloomParams = field(default_factory=urlseen.BloomParams)
    checkpoint_every: int = 0        # 0 → only on explicit .checkpoint()
    validate_fetch: bool = False     # needs page_image/images/images_golden
    respider: bool = False           # J1/W4 re-spider loop (see run_round)
    err_mod: int = 0                 # >0 → fetch fails iff urlhash48 % err_mod == 0
    retry_wait_ms: int = 60_000      # error retry backoff (oracle step 9)
    site_quota: int = 0              # >0 → per-firstip successful-fetch cap (step 10)
    unchanged_backoff: bool = False  # step 13 — EDOCUNCHANGED interval doubling
    backoff_cap: int = 32            # max interval multiplier (power-of-2 ladder)
    keep_snapshots: "int | None" = 2  # StateStore GC horizon (None = keep all)
    state_format: str = "parquet"    # "parquet" (emulated manifests) or
    #                                   "iceberg" (real catalog; state_dir is
    #                                   then the catalog name — needs the
    #                                   iceberg-spark-runtime jar, see
    #                                   io/tableio_iceberg.py + test_iceberg)
    ckpt_serialized: "bool | None" = None
    # checkpoint storage: None = size-adaptive (serialized+lz4 once
    # tracked state rows cross session.CKPT_SERIALIZED_MIN_ROWS);
    # True/False force it — set True when the FIRST batch is already
    # known to be huge (the auto rule only sees sizes after the seed
    # enqueue has materialized once)


class CrawlScheduler:
    """Iterative-batch spider loop over DataFrames (ST1 batch mode)."""

    def __init__(self, spark: SparkSession, fixtures: dict[str, DataFrame],
                 config: CrawlConfig | None = None, state_dir: str | None = None):
        self.spark = spark
        self.cfg = config or CrawlConfig()
        self.rules: list[Rule] = rules_from_rows(bounded_collect(
            fixtures["url_filters"], 10_000, "url_filters config"))
        self.k_max = max(1, *(r.max_spiders_per_ip for r in self.rules))
        self.robots_rules = robots_op.prep_rules(fixtures["robots"]).cache()
        self.robots_grouped = robots_op.group_rules(self.robots_rules).cache()
        self.host_delays = robots_op.host_delays(self.robots_rules).cache()
        # link graph exploded once: (src_url, dst_url)
        self.links = (
            fixtures["link_graph"]
            .select(F.col("src_url"), F.explode("dst_urls").alias("dst_url"))
        ).persist()
        # step 11 — optional deterministic redirect map (dimension-like:
        # broadcast at the winners join; src_url must be canonical, like
        # link_graph's src keys)
        r = fixtures.get("redirects")
        self.redirects = (r.select(F.col("src_url").alias("url"),
                                   F.col("dst_url").alias("_redir_dst"))
                          .persist() if r is not None else None)
        # step 12 — optional deterministic content-hash map (EDOCDUP):
        # URLs absent from the map hash to their own urlhash48 (unique
        # content); broadcast at the winners join like redirects
        c = fixtures.get("content_map")
        self.content_map = (
            c.select(F.col("url"),
                     F.col("content_hash").cast("long").alias("_ch_mapped"))
            .persist() if c is not None else None)
        # steps 8'/13' — optional PER-GENERATION content hashes
        # (url, gen, content_hash): respider change signals become
        # content-driven (SpiderReply::m_percentChangedPerDay [U][M])
        # instead of the pinned urlhash arithmetic; absent (url, gen)
        # rows hash to urlhash48 (stable content).  Dimension-like:
        # broadcast at the (tiny) re-entry join.
        g = fixtures.get("content_gens")
        self.content_gens = (
            g.select("url", F.col("gen").cast("int").alias("gen"),
                     F.col("content_hash").cast("long").alias("_chg"))
            .persist() if g is not None else None)
        self.page_image = fixtures.get("page_image")
        self.images = fixtures.get("images")
        self.images_golden = fixtures.get("images_golden")
        if state_dir and self.cfg.state_format == "iceberg":
            from gigaspark.io.tableio_iceberg import IcebergStateStore
            self.store = IcebergStateStore(
                spark, state_dir, keep_last=self.cfg.keep_snapshots)
        else:
            self.store = (StateStore(state_dir,
                                     keep_last=self.cfg.keep_snapshots)
                          if state_dir else None)

        # LSM-style state (the Rdb memtable+tombstone model [U][H] mapped
        # to Spark): appends and removals are small materialized PARTS;
        # the logical table is a lazy union⊖anti-join view, compacted
        # every few rounds — never a full-copy localCheckpoint per round.
        self.frontier_parts: list[DataFrame] = []
        self.removed_parts: list[DataFrame] = []   # emitted keys (tombstones)
        self.seen_parts: list[DataFrame] = []
        # per-host pending deltas, read only by the fast clock (oracle
        # step 7), which runs when no row can carry a due time; under
        # respider or error retries the general clock scans the frontier
        self.fast_clock = not (self.cfg.respider or self.cfg.err_mod)
        self.hp_parts: list[DataFrame] = []
        self.pending_count = 0                     # exact driver arithmetic
        self.n_removed = 0       # rows across removed_parts (exact)
        self.n_hosts = 0         # host_state rows (exact, via Observation)
        self.host_state = spark.createDataFrame(
            [], "firstip int, next_ok_ms long, n_emitted long")
        self.segments = None  # bloom segments DF (lazy-init on first enqueue)
        self._seg_pending = 0  # un-checkpointed merges on self.segments
        self.n_seen = 0       # driver-side seen-count (fast-path guard)
        self.emitted_parts: list[DataFrame] = []
        self.fetched_parts: list[DataFrame] = []
        # indexed content hashes (step 12): append-only LSM parts of
        # (content_hash, owner urlhash48); unique by construction — a
        # hash is appended only by its first (winning) indexer
        self.indexed_ch_parts: list[DataFrame] = []
        self.metrics: list[dict] = []
        self.clock_ms = 0
        self.round = 0

    def _ckpt(self, df: DataFrame) -> DataFrame:
        """Size-adaptive stable checkpoint: serialized+lz4 once tracked
        state (pending frontier + seen set) is past the DRAM-bound
        crossover, plain deserialized while it is cache-resident (30%
        faster there — see session.stable_checkpoint).  Partitioning is
        PRESERVED through every state checkpoint (round 5): the enqueue
        hash-partitions by firstip once, and the preserved layout makes
        the per-round winner window / seen anti-join / tombstone join
        exchange-free afterwards."""
        if self.cfg.ckpt_serialized is not None:
            return stable_checkpoint(df, serialized=self.cfg.ckpt_serialized,
                                     preserve_partitioning=True)
        big = (self.pending_count + self.n_seen) >= CKPT_SERIALIZED_MIN_ROWS
        return stable_checkpoint(df, serialized=big,
                                 preserve_partitioning=True)

    # ------------------------------------------------------------------ #
    # LSM views                                                           #
    # ------------------------------------------------------------------ #
    @property
    def frontier(self) -> DataFrame:
        """Logical frontier = union(parts) ⊖ emitted tombstones."""
        if not self.frontier_parts:
            return self.spark.createDataFrame([], self._frontier_schema())
        acc = _union(self.frontier_parts)
        if self.removed_parts:
            rm = _union(self.removed_parts)
            # tombstones are k-per-host winner keys — broadcast while
            # small so the (huge, firstip-partitioned) live side never
            # re-shuffles; past the ceiling both sides are partitioned
            # by firstip (subset of the anti-join keys) → co-partitioned
            # SMJ with no big-side exchange
            if self.n_removed <= BROADCAST_KEYS_MAX:
                rm = F.broadcast(rm)
            acc = acc.join(rm, ["firstip", "urlhash48", "gen"], "left_anti")
        return acc

    @property
    def indexed_ch(self) -> DataFrame:
        """Indexed content-hash registry: (content_hash, owner urlhash48)."""
        if not self.indexed_ch_parts:
            return self.spark.createDataFrame([], "content_hash long, owner long")
        return _union(self.indexed_ch_parts)

    @property
    def seen(self) -> DataFrame:
        if not self.seen_parts:
            return self.spark.createDataFrame(
                [], "firstip int, urlhash48 long, min_hopcount int,"
                    " round_enqueued int")
        return _union(self.seen_parts)

    def _maybe_compact(self) -> None:
        """Bound view depth: fold parts⊖tombstones into one materialized
        part (the RdbMerge compaction analogue)."""
        if len(self.removed_parts) >= 4 or len(self.frontier_parts) >= 6:
            # re-establish the firstip hash layout on the folded part —
            # the union view reports UnknownPartitioning, so without
            # this one (per-compaction, not per-round) shuffle every
            # later round would pay exchanges again
            self.frontier_parts = [
                self.frontier.repartition("firstip").transform(self._ckpt)]
            self.removed_parts = []
            self.n_removed = 0
        if len(self.seen_parts) >= 8:
            self.seen_parts = [
                self.seen.repartition("firstip").transform(self._ckpt)]
        if len(self.indexed_ch_parts) >= 8:
            # at cluster scale this fold would also repartition by
            # content_hash so the per-round winners⋈indexed_ch probe
            # shuffles only the (tiny) winners side
            self.indexed_ch_parts = [self.indexed_ch.transform(self._ckpt)]
        if len(self.hp_parts) >= 8:
            self.hp_parts = [
                _union(self.hp_parts)
                .groupBy("firstip").agg(F.sum("d").alias("d"))
                .where(F.col("d") != 0).transform(self._ckpt)]
        # emitted/fetched logs are append-only (one lazy projection per
        # round over an already-checkpointed winners DF) but the union
        # view still grows one plan leaf per round — a 10^4-round crawl
        # would accumulate an unbounded driver-side plan.  Fold them too.
        for attr in ("emitted_parts", "fetched_parts"):
            parts = getattr(self, attr)
            if len(parts) >= 16:
                setattr(self, attr, [_union(parts).transform(self._ckpt)])

    @staticmethod
    def _frontier_schema() -> T.StructType:
        return T.StructType([
            # NOTE no host/path: both derive from url with built-in
            # regexes, so carrying them through every frontier
            # checkpoint/shuffle would pay ~2× string bytes for columns
            # needed only on the (tiny) winners set and in respider
            # re-eval — re-derived there instead (100 TB: state bytes
            # are the scaling currency, codegen regex is free)
            T.StructField("url", T.StringType()),
            T.StructField("firstip", T.IntegerType()),
            T.StructField("urlhash48", T.LongType()),
            T.StructField("hopcount", T.IntegerType()),
            T.StructField("added_ms", T.LongType()),
            T.StructField("is_seed", T.BooleanType()),
            T.StructField("ufn", T.IntegerType()),
            T.StructField("priority", T.IntegerType()),
            T.StructField("spider_freq_days", T.DoubleType()),
            T.StructField("max_spiders_per_ip", T.IntegerType()),
            T.StructField("same_ip_wait_ms", T.LongType()),
            T.StructField("harvest_links", T.BooleanType()),
            T.StructField("force_delete", T.BooleanType()),
            # respider support: gen = emission generation (0 = never
            # fetched; tombstones annihilate by (key, gen) so a re-entry
            # with gen+1 survives the anti-join), due_ms = earliest
            # virtual time this row may be scheduled (0 = immediately;
            # re-entries get spidered_ms + spider_freq_days)
            T.StructField("gen", T.IntegerType()),
            T.StructField("due_ms", T.LongType()),
            # error-retry support: fetch failures (oracle step 9) re-enter
            # with errorcount+1 so hastmperror/errorcount>=N rules apply
            T.StructField("errorcount", T.IntegerType()),
            # step 13 — EDOCUNCHANGED interval multiplier carried across
            # generations (1 unless unchanged_backoff doubles it)
            T.StructField("backoff", T.IntegerType()),
        ])

    # ------------------------------------------------------------------ #
    # enqueue — oracle_sim step 6                                         #
    # ------------------------------------------------------------------ #
    def enqueue(self, raw: DataFrame) -> dict:
        """raw: (url, added_ms, hopcount, is_seed) — raw (uncanonical) URLs."""
        from gigaspark.functions.urls import firstip_col, host_col, path_col, urlhash48_col

        df = with_url_columns(raw, "url")
        # ONE explicit hash-partitioning by firstip for the whole state
        # lifecycle (round 5): the dedup agg right below needs a
        # clustering by (firstip, urlhash48) anyway — HashPartitioning
        # on the SUBSET firstip satisfies it, so this is the same
        # single wide shuffle the agg always paid, just keyed so that
        # every later per-round consumer (winner window partitionBy
        # firstip, seen anti-join, tombstone anti-join, host_state
        # join) finds its distribution already in place and runs
        # exchange-free (the checkpoint preserves the layout).  Cost
        # shift: map-side partial aggregation now runs post-shuffle, so
        # duplicate outlinks cross the wire once — bytes proportional
        # to the BATCH, while the savings are proportional to the
        # accumulated FRONTIER every round; at 10^10 URLs that trade is
        # ~1:rounds in our favor.  A megahost lands whole in one
        # partition; the winner window's WindowGroupLimit keeps each
        # round's sort input bounded there (see _select_winners).
        df = df.repartition("firstip")
        # batch dedup on key: min hop / min added / min url / any is_seed
        df = (
            df.groupBy("firstip", "urlhash48")
            .agg(F.min("url").alias("url"),
                 F.min("hopcount").alias("hopcount"),
                 F.min("added_ms").alias("added_ms"),
                 F.max("is_seed").alias("is_seed"))
        )
        # re-derive host/path from the kept (already-canonical) min url —
        # pure built-ins, no second canonicalize pass
        df = (
            df.withColumn("host", host_col(F.col("url")))
            .withColumn("path", path_col(F.col("url")))
        )
        df = (df.withColumn("errorcount", F.lit(0))
              .withColumn("is_indexed", F.lit(False))
              .withColumn("percentchangedperday", F.lit(0))
              .withColumn("gen", F.lit(0))
              .withColumn("due_ms", F.lit(0).cast("long"))
              .withColumn("backoff", F.lit(1).cast("int")))
        df = apply_url_filters(df, self.rules)
        df = robots_op.eval_allowed(df, self.robots_rules, self.robots_grouped)
        df = df.withColumn(
            "_disposition",
            F.when(F.col("force_delete"), "tombstoned")
            .when(F.col("priority") < 0, "filtered")
            .when(~F.col("robots_allowed"), "robots_denied")
            .otherwise("pass"),
        )
        # NARROW before the checkpoint: host/path/robots_allowed and the
        # other rule-eval inputs are consumed above; serializing them
        # into the (lz4) checkpoint would pay string bytes per row for
        # columns every consumer re-derives — at 10^7-row seed batches
        # the checkpoint write is the enqueue bottleneck (state bytes
        # are the scaling currency)
        df = df.select(*[f.name for f in self._frontier_schema().fields],
                       "_disposition")
        # disposition tallies ride the materialization job itself
        # (CollectMetrics / Observation — no second pass over the batch)
        obs = Observation()
        df = df.observe(
            obs,
            F.count(F.lit(1)).alias("total"),
            F.sum((F.col("_disposition") == "filtered").cast("long")).alias("filtered"),
            F.sum((F.col("_disposition") == "tombstoned").cast("long")).alias("tombstoned"),
            F.sum((F.col("_disposition") == "robots_denied").cast("long")).alias("robots_denied"),
            F.sum((F.col("_disposition") == "pass").cast("long")).alias("n_pass"),
        )
        annotated = df.transform(self._ckpt)
        c = obs.get
        n_pass = int(c["n_pass"] or 0)
        passing = annotated.where(F.col("_disposition") == "pass")
        if self.n_seen == 0:
            # seeding fast path: nothing seen yet → every passing key is new
            # (batch itself is already key-deduped by the groupBy above);
            # `passing` is a filter over the checkpointed `annotated` —
            # no second materialization needed
            new, n_new = passing, n_pass
        else:
            obs_new = Observation()
            new = urlseen.filter_new(
                passing, self.seen.select("firstip", "urlhash48"),
                self._segments_for_probe(), self.cfg.bloom,
            ).observe(obs_new, F.count(F.lit(1)).alias("n")
                      ).transform(self._ckpt)
            n_new = int(obs_new.get["n"] or 0)

        m = {"deduped": int(c["total"] or 0), "filtered": int(c["filtered"] or 0),
             "tombstoned": int(c["tombstoned"] or 0),
             "robots_denied": int(c["robots_denied"] or 0),
             "dup_seen": n_pass - n_new, "accepted": n_new}
        if n_new == 0:
            return m
        self.n_seen += n_new
        self.pending_count += n_new

        self.frontier_parts.append(
            new.select(*[f.name for f in self._frontier_schema().fields]))
        if self.fast_clock:
            self.hp_parts.append(
                new.groupBy("firstip").agg(F.count("*").alias("d")))
        new_keys = new.select("firstip", "urlhash48",
                              F.col("hopcount").alias("min_hopcount"),
                              F.lit(self.round).alias("round_enqueued"))
        self.seen_parts.append(new_keys)
        # LAZY bloom maintenance (round 5): the merged-segments plan
        # accumulates un-materialized (the same LSM accumulate-then-
        # fold pattern as the frontier parts) and is checkpointed
        # only when PROBED (next filter_new) or when 4 merges have
        # stacked up — a drain-only workload that never probes never
        # runs the bitmap aggregates at all, and a harvesting crawl
        # folds once per probe instead of once per enqueue
        add = urlseen.build_segments(new_keys, self.cfg.bloom)
        self.segments = (
            add if self.segments is None
            else urlseen.merge_segments(self.segments, add, self.cfg.bloom))
        self._seg_pending += 1
        if self._seg_pending >= 4:
            self.segments = self.segments.transform(self._ckpt)
            self._seg_pending = 0
        return m

    def _segments_for_probe(self) -> DataFrame | None:
        """Materialize any pending bloom merges before a probe, so the
        probe joins stored segment rows instead of re-running the chain
        of bitmap aggregates, and later probes reuse them."""
        if self.segments is not None and self._seg_pending:
            self.segments = self.segments.transform(self._ckpt)
            self._seg_pending = 0
        return self.segments

    def seed(self, seeds: DataFrame) -> dict:
        return self.enqueue(
            seeds.select(F.col("url"),
                         F.col("added_time_ms").alias("added_ms"),
                         F.lit(0).alias("hopcount"),
                         F.coalesce(F.col("is_seed"), F.lit(True)).alias("is_seed"))
        )

    def _select_winners(self, T_ms: int) -> DataFrame:
        """Doledb A1 drain (oracle steps 1–2): the rows eligible at
        ``T_ms``, cut to each host's first ``max_spiders_per_ip`` by
        ``_win_order()``.

        The rank-only ``row_number() <= k_max`` filter drops no winner
        (every row's ``max_spiders_per_ip`` comes from ``self.rules``,
        so the per-host bound is at most k_max) and is the form
        Catalyst's InferWindowGroupLimit turns into ``WindowGroupLimit``.
        A non-rank function in the same window (the ``first()`` below)
        would stop it, so the per-host bound is read only from the
        ≤ k_max survivors."""
        # host_state is one row per host ever emitted — broadcast while
        # small (exact count rides the previous round's checkpoint job);
        # past the ceiling the co-partitioned fallback exchanges no wide
        # side only while the frontier is one compacted part
        hs = self.host_state
        if self.n_hosts <= BROADCAST_HOSTS_MAX:
            hs = F.broadcast(hs)
        elig = (self.frontier.join(hs, "firstip", "left")
                .where((F.coalesce(F.col("next_ok_ms"), F.lit(0)) <= F.lit(T_ms))
                       & (F.col("due_ms") <= F.lit(T_ms))))
        w = Window.partitionBy("firstip").orderBy(*_win_order())
        return (elig.withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") <= F.lit(self.k_max))
                .withColumn("k_host", F.first("max_spiders_per_ip").over(w))
                .where(F.col("rn") <= F.greatest(F.col("k_host"), F.lit(1)))
                .drop("rn", "k_host"))

    # ------------------------------------------------------------------ #
    # one round — oracle_sim steps 1–5, 7                                 #
    # ------------------------------------------------------------------ #
    def run_round(self) -> int:
        T_ms = self.clock_ms
        n_quota = 0
        if self.cfg.site_quota:
            # oracle step 10 — quota purge before winner selection: every
            # pending row of a host whose successful-fetch count reached
            # the quota is tombstoned (otherwise capped hosts would pin
            # the clock forever)
            full = (self.host_state
                    .where(F.col("n_emitted") >= F.lit(self.cfg.site_quota))
                    .select("firstip"))
            obs_q = Observation()
            doomed = (self.frontier.join(F.broadcast(full), "firstip", "semi")
                      .select("firstip", "urlhash48", "gen")
                      .observe(obs_q, F.count(F.lit(1)).alias("n"))
                      .transform(self._ckpt))
            n_quota = int(obs_q.get["n"] or 0)
            if n_quota:
                self.removed_parts.append(doomed)
                self.n_removed += n_quota
                if self.fast_clock:
                    self.hp_parts.append(doomed.groupBy("firstip").agg(
                        (-F.count("*")).alias("d")))
                self.pending_count -= n_quota
        winners = self._select_winners(T_ms)
        # politeness gap per fetched URL: fetch + max(rule wait, host crawl_delay)
        # (host re-derived from url — winners is k-per-host tiny, and the
        # frontier deliberately doesn't store host/path strings)
        winners = winners.withColumn("host", host_col(F.col("url")))
        winners = winners.join(F.broadcast(self.host_delays), "host", "left").withColumn(
            "gap_ms",
            F.lit(FETCH_MS)
            + F.greatest(F.col("same_ip_wait_ms"),
                         F.coalesce(F.col("crawl_delay_ms"), F.lit(0))),
        )
        cum = Window.partitionBy("firstip").orderBy(*_win_order()).rowsBetween(
            Window.unboundedPreceding, -1)
        # oracle step 9: a slot's fetch FAILS iff urlhash48 % err_mod == 0
        err_cond = ((F.col("urlhash48") % self.cfg.err_mod) == 0) \
            if self.cfg.err_mod else F.lit(False)
        # oracle step 11: a SUCCESSFUL fetch of a mapped URL is a redirect
        # reply — slot consumed, nothing harvested/indexed, target enqueued
        if self.redirects is not None:
            winners = winners.join(F.broadcast(self.redirects), "url", "left")
            redir_cond = F.col("_redir_dst").isNotNull() & ~err_cond
        else:
            redir_cond = F.lit(False)
        winners = (
            winners.withColumn(
                "scheduled_time_ms",
                F.lit(T_ms) + F.coalesce(F.sum("gap_ms").over(cum), F.lit(0)))
            .withColumn("round", F.lit(self.round))
        )
        # oracle step 12: a SUCCESSFUL non-redirect fetch whose content
        # hash was already indexed by a DIFFERENT url is a dup reply
        # (EDOCDUP) — slot consumed, nothing harvested/indexed/quota'd.
        # Cross-round dups probe the indexed_ch registry; within-round
        # dups are a window over this round's winners in emission order
        # (first qualifying row per hash indexes, the rest are dups).
        if self.content_map is not None:
            winners = (
                winners.join(F.broadcast(self.content_map), "url", "left")
                .withColumn("content_hash",
                            F.coalesce(F.col("_ch_mapped"), F.col("urlhash48")))
                .join(self.indexed_ch.withColumnRenamed("owner", "_prior_owner"),
                      "content_hash", "left")
            )
            qual = (~err_cond) & (~redir_cond) & F.col("_prior_owner").isNull()
            w_ch = (Window.partitionBy("content_hash")
                    .orderBy(F.col("scheduled_time_ms").asc(),
                             F.col("priority").desc(),
                             F.col("added_ms").asc(), F.col("urlhash48").asc())
                    .rowsBetween(Window.unboundedPreceding, -1))
            winners = winners.withColumn(
                "_earlier_q",
                F.coalesce(F.sum(qual.cast("long")).over(w_ch), F.lit(0)))
            dup_cond = (~err_cond) & (~redir_cond) & (
                (F.col("_prior_owner").isNotNull()
                 & (F.col("_prior_owner") != F.col("urlhash48")))
                | (F.col("_prior_owner").isNull() & (F.col("_earlier_q") > 0)))
        else:
            dup_cond = F.lit(False)
        obs_w = Observation()
        winners = (
            winners.observe(obs_w, F.count(F.lit(1)).alias("n"),
                            F.sum((F.col("harvest_links") & ~err_cond
                                   & ~redir_cond & ~dup_cond).cast("long")
                                  ).alias("n_harvest"),
                            F.sum(err_cond.cast("long")).alias("n_err"),
                            F.sum(redir_cond.cast("long")).alias("n_redir"),
                            F.sum(dup_cond.cast("long")).alias("n_dup"))
            .transform(self._ckpt)
        )
        wc = obs_w.get

        emitted = winners.select(*EMIT_COLS)
        self.emitted_parts.append(emitted)

        if self.cfg.validate_fetch and self.page_image is not None:
            from gigaspark.operators.fetch import validate_fetch
            self.fetched_parts.append(
                validate_fetch(emitted, self.page_image, self.images,
                               self.images_golden).transform(self._ckpt))

        # host_state merge: fetched hosts get next_ok = last slot end and
        # accumulate their SUCCESSFUL-fetch count (site-quota input —
        # error slots consume politeness time but not quota)
        upd = winners.groupBy("firstip").agg(
            F.max(F.col("scheduled_time_ms") + F.col("gap_ms")).alias("next_ok_ms"),
            F.sum((~err_cond & ~redir_cond & ~dup_cond).cast("long")).alias("c"))
        if self.cfg.site_quota:
            upd = (upd.join(self.host_state.select(
                       "firstip", F.col("n_emitted").alias("prev_n")),
                       "firstip", "left")
                   .select("firstip", "next_ok_ms",
                           (F.coalesce(F.col("prev_n"), F.lit(0))
                            + F.col("c")).alias("n_emitted")))
        else:
            # quota off → the count is never read; skip the extra join
            upd = upd.select("firstip", "next_ok_ms",
                             F.lit(0).cast("long").alias("n_emitted"))
        obs_h = Observation()
        self.host_state = (
            self.host_state.join(upd.select("firstip"), "firstip", "left_anti")
            .unionByName(upd)
            .observe(obs_h, F.count(F.lit(1)).alias("n"))
            .transform(self._ckpt)
        )
        self.n_hosts = int(obs_h.get["n"] or 0)
        # tombstone the emitted keys (winners is checkpointed → this part
        # is a cheap lazy projection, no frontier re-copy)
        self.removed_parts.append(winners.select("firstip", "urlhash48", "gen"))
        if self.fast_clock:
            self.hp_parts.append(
                winners.groupBy("firstip").agg((-F.count("*")).alias("d")))

        n_emitted = int(wc["n"] or 0)
        self.pending_count -= n_emitted
        self.n_removed += n_emitted
        m = {"round": self.round, "clock_ms": T_ms, "emitted": n_emitted}
        if self.cfg.site_quota:
            m["quota_dropped"] = n_quota

        if self.cfg.err_mod:
            # oracle step 9 — error reply → retry re-entry: errorcount+1,
            # filter row re-evaluated with the new count (hastmperror /
            # errorcount>=N rules decide retry-vs-give-up), due_ms =
            # spidered + retry backoff.  No harvest, no respider path.
            m["errors"] = n_errors = int(wc["n_err"] or 0)
            n_retried = 0
            if n_errors:
                er = (winners.where(err_cond)
                      .withColumn("spidered_ms",
                                  F.col("scheduled_time_ms") + F.lit(FETCH_MS))
                      .withColumn("errorcount",
                                  (F.coalesce(F.col("errorcount"), F.lit(0))
                                   + 1).cast("int"))
                      # a failed fetch was never indexed and carries no
                      # change signal (sim step 9 evaluates without them)
                      .withColumn("is_indexed", F.lit(False))
                      .withColumn("percentchangedperday", F.lit(0))
                      .withColumn("path", path_col(F.col("url")))
                      .drop(*ASSIGN_FIELDS))
                er = apply_url_filters(er, self.rules)
                obs_e = Observation()
                er = (er.where((F.col("priority") >= 0) & (~F.col("force_delete")))
                      .withColumn("added_ms", F.col("spidered_ms"))
                      .withColumn("due_ms", F.col("spidered_ms")
                                  + F.lit(self.cfg.retry_wait_ms))
                      .withColumn("gen", (F.col("gen") + 1).cast("int"))
                      .observe(obs_e, F.count(F.lit(1)).alias("n"))
                      .transform(self._ckpt))
                n_retried = int(obs_e.get["n"] or 0)
                if n_retried:
                    self.frontier_parts.append(
                        er.select(*[fld.name for fld in self._frontier_schema().fields]))
                    self.pending_count += n_retried
            m["retried"] = n_retried

        n_redirected = int(wc["n_redir"] or 0) if self.redirects is not None else 0
        if self.redirects is not None:
            m["redirected"] = n_redirected

        if self.content_map is not None:
            # step 12 — register this round's first indexer per new hash
            # (winners is checkpointed → a cheap lazy projection)
            self.indexed_ch_parts.append(
                winners.where((~err_cond) & (~redir_cond)
                              & F.col("_prior_owner").isNull()
                              & (F.col("_earlier_q") == 0))
                .select("content_hash", F.col("urlhash48").alias("owner")))
            m["dups"] = int(wc["n_dup"] or 0)

        if self.cfg.respider and n_emitted:
            # J1/W4 respider: every fetch writes an implicit SpiderReply
            # (spidered_ms = slot end) and the URL RE-ENTERS the frontier
            # at gen+1 with due = spidered_ms + spider_freq_days, where
            # the filter row is RE-EVALUATED with is_indexed=true and the
            # reply's percentchangedperday (Spider.cpp::scanSpiderdb
            # request⋈latest-reply + getUrlFilterNum re-eval [U][H];
            # change signal pinned to urlhash48 % 101 — deterministic,
            # mirrored by the oracle sim).  Robots are NOT re-checked
            # (pinned: robots gate at discovery only).
            re_ = (winners.where(~err_cond & ~redir_cond & ~dup_cond)
                   .withColumn("spidered_ms",
                               F.col("scheduled_time_ms") + F.lit(FETCH_MS))
                   .withColumn("is_indexed", F.lit(True)))
            if self.content_gens is not None:
                # steps 8'/13' — content-driven change signals: hash at
                # THIS generation vs the previous one (two broadcast
                # joins on the tiny winners set); changed → pct =
                # min(100, 100·MS_PER_DAY DIV elapsed), unchanged or
                # first download → 0
                cur = self.content_gens.select(
                    "url", "gen", F.col("_chg").alias("_ch_cur"))
                prev = self.content_gens.select(
                    "url", (F.col("gen") + 1).alias("gen"),
                    F.col("_chg").alias("_ch_prev"))
                re_ = (re_.join(F.broadcast(cur), ["url", "gen"], "left")
                       .join(F.broadcast(prev), ["url", "gen"], "left"))
                unchanged = (
                    (F.col("gen") > 0)
                    & (F.coalesce(F.col("_ch_cur"), F.col("urlhash48"))
                       == F.coalesce(F.col("_ch_prev"), F.col("urlhash48"))))
                pct = (F.when((F.col("gen") == 0) | unchanged, F.lit(0))
                       .otherwise(F.least(F.lit(100), F.expr(
                           f"(100 * CAST({MS_PER_DAY} AS BIGINT)) DIV"
                           " greatest(spidered_ms - added_ms, 1)"))))
            else:
                # pinned deterministic signals (no content fixture)
                unchanged = ((F.col("gen") > 0)
                             & ((F.col("urlhash48") + F.col("gen")) % 3 == 0))
                pct = (F.col("urlhash48") % 101)
            re_ = (re_.withColumn("percentchangedperday", pct.cast("int"))
                   .withColumn("errorcount", F.lit(0))
                   .withColumn("path", path_col(F.col("url")))
                   .drop(*ASSIGN_FIELDS))
            re_ = apply_url_filters(re_, self.rules)
            # step 13 — EDOCUNCHANGED backoff: an unchanged re-fetch
            # doubles the carried interval multiplier (capped); change
            # resets it to 1
            if self.cfg.unchanged_backoff:
                new_backoff = F.when(
                    unchanged,
                    F.least(F.col("backoff") * 2,
                            F.lit(self.cfg.backoff_cap))).otherwise(F.lit(1))
            else:
                new_backoff = F.lit(1)
            obs_r = Observation()
            re_ = (re_.where((F.col("priority") >= 0) & (~F.col("force_delete")))
                   .withColumn("backoff", new_backoff.cast("int"))
                   .withColumn("added_ms", F.col("spidered_ms"))
                   .withColumn("due_ms", F.col("spidered_ms")
                               + (F.col("spider_freq_days")
                                  * F.lit(float(MS_PER_DAY))).cast("long")
                               * F.col("backoff"))
                   .withColumn("gen", (F.col("gen") + 1).cast("int"))
                   .observe(obs_r, F.count(F.lit(1)).alias("n"))
                   .transform(self._ckpt))
            n_re = int(obs_r.get["n"] or 0)
            if n_re:
                self.frontier_parts.append(
                    re_.select(*[fld.name for fld in self._frontier_schema().fields]))
                self.pending_count += n_re
            m["respidered"] = n_re

        # skip the whole enqueue pipeline when no winner harvests links
        # (saves ~8 empty-DF jobs per round — most rounds in a drain);
        # harvest enqueues BEFORE the round counter advances so
        # round_enqueued matches the oracle spec (discovery round)
        if wc["n_harvest"] or n_redirected:
            batch = None
            if wc["n_harvest"]:
                batch = (
                    winners.where(F.col("harvest_links") & ~err_cond
                                  & ~redir_cond & ~dup_cond)
                    .join(self.links, winners["url"] == self.links["src_url"])
                    .select(
                        F.col("dst_url").alias("url"),
                        (F.col("scheduled_time_ms") + F.lit(FETCH_MS)).alias("added_ms"),
                        (F.col("hopcount") + 1).alias("hopcount"),
                        F.lit(False).alias("is_seed"),
                    )
                )
            if n_redirected:
                # step 11 — redirect targets enqueue with hopcount UNCHANGED
                # (same doc), added_ms = slot end, is_seed inherited
                redirs = winners.where(redir_cond).select(
                    F.col("_redir_dst").alias("url"),
                    (F.col("scheduled_time_ms") + F.lit(FETCH_MS)).alias("added_ms"),
                    F.col("hopcount"),
                    F.col("is_seed"),
                )
                batch = redirs if batch is None else batch.unionByName(redirs)
            m.update(self.enqueue(batch))
        self.round += 1
        self.metrics.append(m)

        # clock advance (oracle step 7): pending row count is exact driver
        # arithmetic (rows enter via accepted, leave via emission); min_ok
        # scans only the NARROW per-host delta parts + host_state — never
        # the full wide frontier
        m["pending"] = self.pending_count
        if self.pending_count > 0:
            if not self.fast_clock:
                # general clock rule (oracle step 7'): advance to the
                # earliest moment ANY pending row can run = min over rows
                # of max(host next_ok, row due) — needs per-row due times,
                # so scan the (regularly compacted) frontier view
                min_ok = (self.frontier.select("firstip", "due_ms")
                          .join(self.host_state, "firstip", "left")
                          .agg(F.min(F.greatest(
                              F.coalesce(F.col("next_ok_ms"), F.lit(0)),
                              F.col("due_ms")))).collect()[0][0])
            else:
                # fast path (due_ms ≡ 0): NARROW per-host delta parts only.
                # FUSED per-round job: the same checkpoint that compacts
                # the delta parts into one per-host table also observes
                # the clock advance — one bounded-size job per round
                # instead of a separate collect over a round-growing
                # union (the per-round serial fraction a 10^4-round
                # crawl multiplies)
                obs_c = Observation()
                pend = (_union(self.hp_parts)
                        .groupBy("firstip").agg(F.sum("d").alias("d"))
                        .where(F.col("d") != 0)
                        .join(self.host_state.select("firstip", "next_ok_ms"),
                              "firstip", "left")
                        .withColumn("next_ok_ms",
                                    F.coalesce(F.col("next_ok_ms"), F.lit(0)))
                        .observe(obs_c,
                                 F.min(F.when(F.col("d") > 0,
                                              F.col("next_ok_ms"))).alias("min_ok"))
                        .transform(self._ckpt))
                self.hp_parts = [pend.select("firstip", "d")]
                min_ok = obs_c.get["min_ok"]
            self.clock_ms = max(self.clock_ms, int(min_ok or 0))

        self._maybe_compact()
        if self.cfg.checkpoint_every and self.round % self.cfg.checkpoint_every == 0:
            self.checkpoint()
        return n_emitted

    def run(self, max_rounds: int = 1_000_000, seeds: DataFrame | None = None) -> DataFrame:
        if seeds is not None:
            self.seed(seeds)
        while self.round < max_rounds:
            if self.metrics:
                if self.metrics[-1].get("pending", 0) == 0:
                    break  # frontier drained — mirror the oracle's loop exit
            elif self.n_seen == 0:
                break      # nothing seeded
            self.run_round()
        return self.emitted_df()

    # ------------------------------------------------------------------ #
    def emitted_df(self) -> DataFrame:
        """Golden-order schedule with the final global seq (W1)."""
        if not self.emitted_parts:
            return self.spark.createDataFrame(
                [],
                "seq long, round int, scheduled_time_ms long, priority int,"
                " added_ms long, urlhash48 long, url string, firstip int,"
                " hopcount int, host string",
            )
        order = [F.col("round").asc(), F.col("scheduled_time_ms").asc(),
                 F.col("priority").desc(), F.col("added_ms").asc(),
                 F.col("urlhash48").asc()]
        from gigaspark.operators.ordering import with_global_seq
        n_emitted = sum(m.get("emitted", 0) for m in self.metrics) or None
        return with_global_seq(_union(self.emitted_parts), order, "seq",
                               small_count=n_emitted).select("seq", *EMIT_COLS)

    def fetched_df(self) -> DataFrame | None:
        if not self.fetched_parts:
            return None
        return _union(self.fetched_parts)

    def metrics_df(self) -> DataFrame:
        keys = sorted({k for m in self.metrics for k in m})
        rows = [{k: int(m.get(k, 0)) for k in keys} for m in self.metrics]
        return self.spark.createDataFrame(rows)

    # ------------------------------------------------------------------ #
    # checkpoint / resume (ST4)                                           #
    # ------------------------------------------------------------------ #
    def checkpoint(self) -> dict:
        if self.store is None:
            raise ValueError("no state_dir configured")
        tables = {
            "frontier": self.frontier,
            "seen": self.seen,
            "host_state": self.host_state,
            "emitted": self.emitted_df(),
        }
        if self.segments is not None:
            tables["bloom_segments"] = self._segments_for_probe()
        if self.content_map is not None:
            tables["indexed_ch"] = self.indexed_ch
        meta = {"round": self.round, "clock_ms": self.clock_ms,
                "metrics": self.metrics, "n_seen": self.n_seen,
                "pending_count": self.pending_count, "n_hosts": self.n_hosts,
                "seen_filter": "bloom", "bloom": self._bloom_meta()}
        return self.store.commit(self.round, tables, meta)

    def _bloom_meta(self) -> dict:
        # layout names the segment row format ((segment_id, bucket) rows
        # of 32768-bit bitmaps); change it with the format, so resume
        # refuses snapshots written in another one
        return {"n_segments": self.cfg.bloom.n_segments,
                "m_bits": self.cfg.bloom.m_bits, "layout": "bitmap-bucket"}

    @classmethod
    def resume(cls, spark: SparkSession, fixtures: dict[str, DataFrame],
               state_dir: str, config: CrawlConfig | None = None) -> "CrawlScheduler":
        sched = cls(spark, fixtures, config, state_dir)
        manifest = sched.store.latest()
        if manifest is None:
            raise FileNotFoundError(f"no MANIFEST.json under {state_dir}")
        meta = manifest["meta"]
        # stored segments are only readable with the parameters and row
        # layout they were built with: a mismatch would let seen keys read
        # as "definitely new" and skip the exact anti-join.  The check
        # also refuses snapshots that predate the counts read below.
        stored = (meta.get("seen_filter"), meta.get("bloom"))
        want = ("bloom", sched._bloom_meta())
        if stored != want:
            raise ValueError(f"snapshot under {state_dir} holds URL-seen "
                             f"filter {stored}; this config needs {want}")
        tbl = sched.store.load_tables(spark, manifest)
        # restore driver-side counters FIRST so _ckpt's size-adaptive
        # storage choice sees the real state size from the manifest
        sched.round = meta["round"]
        sched.clock_ms = meta["clock_ms"]
        sched.metrics = list(meta["metrics"])
        sched.n_seen = meta["n_seen"]
        sched.pending_count = meta["pending_count"]
        # re-establish the firstip hash layout on the reloaded state
        # (parquet scans report no useful partitioning) and restore the
        # broadcast-guard counters from the manifest
        sched.frontier_parts = [
            tbl["frontier"].repartition("firstip").transform(sched._ckpt)]
        sched.removed_parts = []
        sched.n_removed = 0
        sched.seen_parts = [
            tbl["seen"].repartition("firstip").transform(sched._ckpt)]
        sched.host_state = tbl["host_state"].transform(sched._ckpt)
        sched.n_hosts = meta["n_hosts"]
        if "bloom_segments" in tbl:
            sched.segments = tbl["bloom_segments"].transform(sched._ckpt)
        if "indexed_ch" in tbl:
            sched.indexed_ch_parts = [tbl["indexed_ch"].transform(sched._ckpt)]
        if sum(m.get("emitted", 0) for m in sched.metrics):
            sched.emitted_parts = [
                tbl["emitted"].select(*EMIT_COLS).transform(sched._ckpt)]
        if sched.fast_clock:
            sched.hp_parts = [
                sched.frontier_parts[0].groupBy("firstip")
                .agg(F.count("*").alias("d")).transform(sched._ckpt)]
        return sched
