"""Streaming ↔ batch engine cross-check (VERDICT r1 item 10).

For a single-host universe with k=1 the emission order of BOTH engines
is fully determined by the A1 key (priority desc, added asc, hop asc,
hash asc) and the politeness clock — so the Structured-Streaming drain
(applyInPandasWithState) must reproduce the batch scheduler's schedule
exactly: same URL sequence, same absolute virtual-time slots.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from gigaspark.operators.frontier import CrawlConfig, CrawlScheduler
from gigaspark.streaming.frontier_stream import streaming_schedule

PREP_SCHEMA = (
    "firstip int, urlhash48 long, url string, priority int, hopcount int,"
    " added_ms long, same_ip_wait_ms long, max_spiders_per_ip int,"
    " crawl_delay_ms long"
)

N = 12
WAIT_MS = 150
HOST, IP = "parity.example", 7


def _urls():
    """(url, added_ms, hopcount, priority) — priorities mirror the batch
    rule chain below: hop>=4 → 20, hop>=2 → 60, default 50."""
    out = []
    for i in range(N):
        hop = i % 5
        prio = 20 if hop >= 4 else (60 if hop >= 2 else 50)
        out.append((f"http://{HOST}/p/{i}", i, hop, prio))
    return out


def _batch_schedule(spark):
    fixtures = {
        "url_filters": spark.createDataFrame(
            [(0, "hopcount>=4", 20, 0.0, 1, WAIT_MS, False, False),
             (1, "hopcount>=2", 60, 0.0, 1, WAIT_MS, False, False),
             (2, "default", 50, 0.0, 1, WAIT_MS, False, False)],
            "rule_idx int, expression string, priority int,"
            " spider_freq_days double, max_spiders_per_ip int,"
            " same_ip_wait_ms long, harvest_links boolean,"
            " force_delete boolean"),
        "robots": spark.createDataFrame(
            [], "host string, user_agent string, rule_type string,"
                " path_prefix string, crawl_delay_ms long"),
        "hostmap": spark.createDataFrame(
            [(HOST, IP)], "host string, firstip int"),
        "link_graph": spark.createDataFrame(
            [], "src_url string, dst_urls array<string>"),
    }
    sched = CrawlScheduler(spark, fixtures)
    sched.enqueue(spark.createDataFrame(
        [(u, a, h, False) for u, a, h, _ in _urls()],
        "url string, added_ms long, hopcount int, is_seed boolean"))
    out = sched.run(max_rounds=N + 2)
    return [(r.url, r.scheduled_time_ms)
            for r in out.orderBy("seq").collect()]


def _stream_schedule(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    prep = (spark.createDataFrame(
        [(IP, 0, u, p, h, a, WAIT_MS, 1, 0) for u, a, h, p in _urls()],
        PREP_SCHEMA)
        .withColumn("urlhash48",
                    F.xxhash64("url").bitwiseAND(F.lit((1 << 48) - 1))))

    def write(df):
        df.coalesce(1).write.mode("append").parquet(src)

    write(prep)
    stream = spark.readStream.schema(PREP_SCHEMA).parquet(src)
    out = streaming_schedule(stream, fetch_ms=100)
    q = (out.writeStream.format("memory").queryName("parity_sched")
         .option("checkpointLocation", str(tmp_path / "chk"))
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        # k=1 → one emission per micro-batch; re-send an already-seen row
        # to tick the group until the queue drains (state-only progress
        # needs an input trigger without timeouts)
        tick = prep.limit(1)
        for _ in range(N + 3):
            n = spark.sql("select count(*) c from parity_sched").first().c
            if n >= N:
                break
            write(tick)
            q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql(
        "select url, scheduled_time_ms from parity_sched"
        " order by scheduled_time_ms").collect()
    return [(r.url, r.scheduled_time_ms) for r in rows]


def test_streaming_matches_batch_schedule(spark, tmp_path):
    batch = _batch_schedule(spark)
    stream = _stream_schedule(spark, tmp_path)
    assert len(batch) == N
    assert stream == batch, (stream, batch)


# ---------------------------------------------------------------- #
# respider parity (VERDICT r2 item 9): gen-versioned re-entry       #
# ---------------------------------------------------------------- #

PREP_SCHEMA_R = PREP_SCHEMA + ", spider_freq_ms long"
FREQ_DAYS = 2.0
FREQ_MS = int(FREQ_DAYS * 86_400_000)
N_R = 4
ROUNDS_R = 11   # 4 gen-0 rounds + 7 re-spider rounds


def _urls_r():
    return [(f"http://{HOST}/r/{i}", i, 0, 50) for i in range(N_R)]


def _batch_schedule_respider(spark):
    fixtures = {
        "url_filters": spark.createDataFrame(
            [(0, "default", 50, FREQ_DAYS, 1, WAIT_MS, False, False)],
            "rule_idx int, expression string, priority int,"
            " spider_freq_days double, max_spiders_per_ip int,"
            " same_ip_wait_ms long, harvest_links boolean,"
            " force_delete boolean"),
        "robots": spark.createDataFrame(
            [], "host string, user_agent string, rule_type string,"
                " path_prefix string, crawl_delay_ms long"),
        "hostmap": spark.createDataFrame(
            [(HOST, IP)], "host string, firstip int"),
        "link_graph": spark.createDataFrame(
            [], "src_url string, dst_urls array<string>"),
    }
    sched = CrawlScheduler(spark, fixtures, CrawlConfig(respider=True))
    sched.enqueue(spark.createDataFrame(
        [(u, a, h, False) for u, a, h, _ in _urls_r()],
        "url string, added_ms long, hopcount int, is_seed boolean"))
    for _ in range(ROUNDS_R):
        sched.run_round()
    return [(r.url, r.scheduled_time_ms)
            for r in sched.emitted_df().orderBy("seq").collect()]


def _stream_schedule_respider(spark, tmp_path):
    src = str(tmp_path / "src_r")
    os.makedirs(src, exist_ok=True)
    prep = (spark.createDataFrame(
        [(IP, 0, u, p, h, a, WAIT_MS, 1, 0, FREQ_MS)
         for u, a, h, p in _urls_r()], PREP_SCHEMA_R)
        .withColumn("urlhash48",
                    F.xxhash64("url").bitwiseAND(F.lit((1 << 48) - 1))))

    def write(df):
        df.coalesce(1).write.mode("append").parquet(src)

    write(prep)
    stream = spark.readStream.schema(PREP_SCHEMA_R).parquet(src)
    out = streaming_schedule(stream, fetch_ms=100, respider=True)
    q = (out.writeStream.format("memory").queryName("parity_resp")
         .option("checkpointLocation", str(tmp_path / "chk_r"))
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        tick = prep.limit(1)
        for _ in range(ROUNDS_R + 3):
            n = spark.sql("select count(*) c from parity_resp").first().c
            if n >= ROUNDS_R:
                break
            write(tick)
            q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql(
        "select url, scheduled_time_ms, gen from parity_resp"
        " order by scheduled_time_ms").collect()
    return [(r.url, r.scheduled_time_ms) for r in rows[:ROUNDS_R]], \
           [r.gen for r in rows[:ROUNDS_R]]


def test_streaming_respider_matches_batch(spark, tmp_path):
    batch = _batch_schedule_respider(spark)
    stream, gens = _stream_schedule_respider(spark, tmp_path)
    assert len(batch) == ROUNDS_R
    assert stream == batch, (stream, batch)
    # the tail emissions are genuine re-spiders (gen > 0)
    assert gens[:N_R] == [0] * N_R
    assert all(g >= 1 for g in gens[N_R:])


# ---------------------------------------------------------------- #
# politeness-gap property on the streaming drain (VERDICT r3 item   #
# 8): per-host consecutive-emission gap >= fetch + max(wait, delay) #
# at a SKEWED fixture, at two parallelism levels                    #
# ---------------------------------------------------------------- #

def _skewed_prep_rows():
    """Megahost universe: host 0 owns 40 URLs (k=2, crawl_delay 250 >
    wait 150); six small hosts own 4 each with delays straddling the
    wait (0 and 500) — so the max(wait, delay) branch is exercised
    BOTH ways."""
    rows = []
    for i in range(40):
        rows.append((100, 0, f"http://mega.example/p/{i}", 50, 0, i,
                     150, 2, 250))
    for hn in range(6):
        delay = 0 if hn % 2 else 500
        for i in range(4):
            rows.append((200 + hn, 0, f"http://s{hn}.example/p/{i}",
                         50, 0, i, 150, 1, delay))
    return rows


def _drain_all(spark, tmp_path, shuffle_partitions: int):
    src = str(tmp_path / f"src{shuffle_partitions}")
    os.makedirs(src, exist_ok=True)
    prep = (spark.createDataFrame(_skewed_prep_rows(), PREP_SCHEMA)
            .withColumn("urlhash48",
                        F.xxhash64("url").bitwiseAND(F.lit((1 << 48) - 1))))
    total = prep.count()
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        prep.coalesce(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema(PREP_SCHEMA).parquet(src)
        out = streaming_schedule(stream, fetch_ms=100)
        qname = f"gap_sched_{shuffle_partitions}"
        q = (out.writeStream.format("memory").queryName(qname)
             .option("checkpointLocation",
                     str(tmp_path / f"chk{shuffle_partitions}"))
             .outputMode("append").start())
        try:
            q.processAllAvailable()
            # tick EVERY host's group: stateful groups only progress when
            # they receive input (no timeouts configured), so the tick
            # resends the whole already-seen batch — the drain's
            # urlhash48 dedup makes it a pure trigger
            for _ in range(40):
                n = spark.sql(f"select count(*) c from {qname}").first().c
                if n >= total:
                    break
                prep.coalesce(1).write.mode("append").parquet(src)
                q.processAllAvailable()
        finally:
            q.stop()
        rows = spark.sql(
            f"select firstip, url, scheduled_time_ms from {qname}").collect()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert len(rows) == total, "drain did not empty the frontier"
    return sorted((r.firstip, r.scheduled_time_ms, r.url) for r in rows)


def test_streaming_politeness_gap_skewed_two_parallelisms(spark, tmp_path):
    delays = {100: 250, 200: 500, 201: 0, 202: 500, 203: 0, 204: 500, 205: 0}
    wait = 150
    sched1 = _drain_all(spark, tmp_path, 1)
    sched8 = _drain_all(spark, tmp_path, 8)
    # parallelism-independence: identical schedule at both levels
    assert sched1 == sched8
    # per-host politeness: consecutive emissions gap >= fetch + max(wait, delay)
    by_host: dict = {}
    for ip, t, _u in sched1:
        by_host.setdefault(ip, []).append(t)
    assert set(by_host) == set(delays)
    for ip, times in by_host.items():
        need = 100 + max(wait, delays[ip])
        times.sort()
        gaps = [b - a for a, b in zip(times, times[1:])]
        assert all(g >= need for g in gaps), (ip, need, gaps[:5])
