"""SparkSession factory with scale-oriented defaults.

Local sandbox runs ``local[N]``; the same config block is what we would
ship to a real cluster via ``spark-submit --py-files`` (north_rule):
AQE on (runtime skew-join splitting + partition coalescing), explicit
shuffle-partition count, Arrow enabled for pandas UDFs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def stable_checkpoint(df, serialized: bool | None = None,
                      preserve_partitioning: bool = False):
    """``localCheckpoint(eager=True)`` + rewrap as a stats-clean leaf.

    ``Dataset.localCheckpoint`` preserves the origin plan's estimated
    statistics on the resulting ``LogicalRDD``.  In an iterative driver
    loop (the crawl rounds) those estimates COMPOUND: every join
    multiplies child sizeInBytes, the product is carried through the
    next checkpoint, and after ~10 rounds the BigInt bit-length grows
    exponentially — Catalyst then spends minutes inside
    ``BigInteger.multiplyKaratsuba`` during size-only stats estimation
    (observed: 100 s/round on 20-row inputs).  Re-wrapping the already
    materialized checkpoint RDD drops the origin stats, so every round
    starts from constant-size leaf estimates.

    ``preserve_partitioning=True`` (round 5) additionally carries the
    materialized plan's output partitioning into the rewrapped leaf, so
    an iterative loop that hash-partitions its state ONCE (the crawl
    frontier by ``firstip``) gets exchange-free windows / aggs / joins
    on that key in every later round — per-round shuffle bytes drop to
    ~zero, the property that makes the loop scale N→4N (state bytes
    stop crossing the wire).  Correct partitioning capture requires the
    materializing query to run WITHOUT AQE (AQE's coalesced shuffle
    reads merge hash buckets, which is no longer expressible — or safe
    to claim — as ``HashPartitioning``; Spark then reports
    ``UnknownPartitioning``), so AQE is toggled off around the
    checkpoint action and restored after.  The loop's heavy lifting is
    exactly these checkpoint materializations, whose plans are already
    explicitly partition-sized (2×cores) and whose only per-host window
    is bounded by WindowGroupLimit (frontier._select_winners), so losing
    AQE's skew split there costs nothing.

    Falls back to the plain checkpoint if the JVM-internal constructor
    is unavailable.
    """
    from pyspark.sql import DataFrame as _DF

    spark = df.sparkSession
    # Storage level is a bandwidth/CPU trade with a measured crossover:
    # serialized MEMORY_AND_DISK + spark.rdd.compress=true (get_spark)
    # packs UnsafeRows into contiguous lz4 blocks — ~3x less memory
    # traffic, 20-29% faster on the 9.6M-URL scaling job where the
    # iterative loop is DRAM-bandwidth-bound; but on small state that
    # fits in LLC (the 150k-URL headline bench) the per-row
    # serialize/compress CPU is pure overhead — ~30% SLOWER (12.9s vs
    # 9.8s drain, measured 2026-08-18).  So the caller picks:
    # serialized=True for big state (CrawlScheduler flips it once its
    # tracked state rows cross CKPT_SERIALIZED_MIN_ROWS), False/None
    # for cache-resident state.
    from pyspark.storagelevel import StorageLevel

    slevel = (StorageLevel.MEMORY_AND_DISK if serialized
              else StorageLevel.MEMORY_AND_DISK_DESER)
    aqe_key = "spark.sql.adaptive.enabled"
    aqe_prev = None
    if preserve_partitioning:
        aqe_prev = spark.conf.get(aqe_key, "true")
        spark.conf.set(aqe_key, "false")
    try:
        ck = df.localCheckpoint(eager=True, storageLevel=slevel)
    finally:
        if aqe_prev is not None:
            spark.conf.set(aqe_key, aqe_prev)
    try:
        jdf = ck._jdf
        if preserve_partitioning:
            # rewrap keeping output/rdd/partitioning/ordering but with
            # EMPTY originStats + originConstraints (the compounding-
            # stats fix) — the case-class ctor is (output, rdd,
            # partitioning, ordering, isStreaming, stream)(session,
            # originStats, originConstraints)
            jvm = spark._jvm
            lp = jdf.queryExecution().optimizedPlan()
            if lp.getClass().getName().endswith("LogicalRDD"):
                none = jvm.scala.Option.empty()
                new_lp = jvm.org.apache.spark.sql.execution.LogicalRDD(
                    lp.output(), lp.rdd(), lp.outputPartitioning(),
                    lp.outputOrdering(), lp.isStreaming(), lp.stream(),
                    spark._jsparkSession, none, none)
                ds = jvm.org.apache.spark.sql.classic.Dataset.ofRows(
                    spark._jsparkSession, new_lp)
                return _DF(ds, spark)
        njdf = spark._jsparkSession.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False)
        return _DF(njdf, spark)
    except Exception as e:  # pragma: no cover — private-API guard
        global _WARNED_FALLBACK
        if not _WARNED_FALLBACK:
            _WARNED_FALLBACK = True
            import warnings

            warnings.warn(
                "stable_checkpoint: internalCreateDataFrame unavailable "
                f"({type(e).__name__}: {e}); falling back to plain "
                "localCheckpoint — iterative rounds may hit the "
                "compounding-stats slowdown", RuntimeWarning)
        return ck


_WARNED_FALLBACK = False

# State-row crossover above which serialized+lz4 checkpoints beat the
# deserialized default (measured: 0.3M rows → deser 30% faster; 19M rows
# → serialized 20-29% faster; the knee is where state leaves LLC and the
# loop goes DRAM-bandwidth-bound).  Per-box/per-cluster knob.
CKPT_SERIALIZED_MIN_ROWS = 2_000_000


def get_spark(
    app: str = "gigaspark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
    cluster: bool = False,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or 32 (sandbox); with
    ``cluster=True`` (the ``spark-submit --py-files`` path,
    tools/submit_drain.py) no ``master``/``driver.memory`` is set — the
    resource manager decides.  ``shuffle_partitions`` defaults to
    2×cores locally — at cluster scale you would size it so
    post-shuffle partitions are 100–200 MB (AQE coalescing trims the
    excess either way).
    """
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(2 * cores, 8)
    b = SparkSession.builder.appName(app)
    if not cluster:
        b = b.master(f"local[{cores}]") \
             .config("spark.driver.memory",
                     os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    b = (
        b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        # allow a subset of the join keys to count as co-partitioning
        # (frontier state is hash-partitioned by firstip ONLY — a
        # subset of every state-join's key set; with the default
        # true, EnsureRequirements would re-shuffle both sides by the
        # full key list and the round-5 exchange-free state plan
        # could never kick in)
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.rdd.compress", "true")
    )
    if extra:
        for k, v in extra.items():
            b = b.config(k, v)
    return b.getOrCreate()


class UnboundedCollectError(RuntimeError):
    """A driver-side collect exceeded its declared row bound."""


def bounded_collect(df, max_rows: int, what: str = "driver collect"):
    """``collect()`` with an enforced row ceiling (VERDICT r4 item 9).

    Every driver-side materialization in this repo is a bounded scalar
    or a bounded config/model table; wrapping them here turns "the
    bounded collect silently became a driver-side bottleneck" into a
    loud typed error at the exact site.  Fetches ``max_rows + 1`` so
    the overflow check costs one extra row, not a count job.
    """
    rows = df.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise UnboundedCollectError(
            f"{what}: more than {max_rows} rows reached the driver — "
            "this site is declared bounded; repartition the logic or "
            "raise the bound deliberately")
    return rows
