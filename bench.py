"""Headline benchmark — prints ONE JSON line for the driver.

Runs the flagship crawl-frontier drain (seed → canonicalize → hash →
filters → robots → URL-seen → politeness winner window → schedule) over
URLs derived from $SPARK_GRAFT_SF_DIR orders, plus the headline operator
queries, on local[$SPARK_GRAFT_CPUS].

Metric: frontier drain throughput (URLs scheduled/sec) per BASELINE.md;
per-query wall times in "queries".

Scaling-efficiency evidence (north_rule: N vs 4N executors) is produced
by tools/bench_scaling.py (local[8] vs local[32]) and recorded in
BASELINE.md — this file stays single-config because the driver parses
one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as E  # noqa: E402
from gigaspark.session import get_spark  # noqa: E402

HEADLINE = [
    "a1_best_per_group", "a7_two_level_topk", "j1_latest_reply",
    "t3_tombstone_dedup", "urlseen_filter", "c1_canonicalize",
    "dedup_exact", "minhash_signatures", "lsh_jaccard_pairs",
    "simhash32", "ann_cosine_topk", "text_quality", "dedup_embedding",
    "respider_due", "search_ranked_topk", "c3_domains",
    "search_bm25_topk", "ann_pq_topk", "bpe_tokens",
    "pack_blocks", "caption_phash_neardup",
    "search_querylang_topk", "search_proximity_topk",
    "corpus_filter_pipeline", "postings_reindex",
    "ivf_kmeans_centroids", "substring_dup_spans", "shard_balance",
    "image_filter_pipeline", "image_shard_pack",
    "ccnet_ppl_buckets", "image_caption_ppl",
    "fasttext_quality", "line_dedup", "surt_cdx_index",
    "frontier_trap_suppress",
]


def bench_crawl(spark, sf_dir: str) -> tuple[float, int]:
    """One full frontier round over all orders-derived URLs; returns
    (seconds, urls_scheduled)."""
    from gigaspark.operators.frontier import CrawlScheduler

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    seeds = orders.select(
        F.concat(F.lit("http://host"), (F.col("o_custkey") % 4096).cast("string"),
                 F.lit(".example/p/"), F.col("o_orderkey").cast("string")).alias("url"),
        (F.col("o_orderkey") % 1000).alias("added_time_ms"),
        F.lit(True).alias("is_seed"))
    fixtures = {
        "url_filters": spark.createDataFrame(
            [(0, "isseed", 80, 30.0, 8, 100, False, False),
             (1, "default", 50, 30.0, 4, 100, False, False)],
            "rule_idx int, expression string, priority int, spider_freq_days double,"
            " max_spiders_per_ip int, same_ip_wait_ms long, harvest_links boolean,"
            " force_delete boolean"),
        "robots": spark.createDataFrame(
            [(f"host{h}.example", "*", "disallow", "/private",
              0 if h % 5 else 500) for h in range(4096)],
            "host string, user_agent string, rule_type string, path_prefix string,"
            " crawl_delay_ms long"),
        "link_graph": spark.createDataFrame([], "src_url string, dst_urls array<string>"),
    }
    t0 = time.time()
    sched = CrawlScheduler(spark, fixtures)
    sched.seed(seeds)
    n = 0
    for _ in range(2):
        n += sched.run_round()
    dt = time.time() - t0
    return dt, n


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("gigaspark-bench", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])

    # noise protocol: this host has multi-minute noise epochs and noise
    # is strictly additive, so the capability estimate is the PER-QUERY
    # MIN over 3 INTERLEAVED passes (interleaving decorrelates a noise
    # epoch from any one query; the first pass doubles as JIT/codegen/
    # python-worker warm-up and min() discards its one-off costs)
    qs = E.queries()
    times: dict[str, float] = {}
    for _rep in range(3):
        for name in HEADLINE:
            t0 = time.time()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = round(time.time() - t0, 3)
            if name not in times or dt < times[name]:
                times[name] = dt

    # headline drain: warm-up pass, then min of 3 measured reps
    bench_crawl(spark, sf_dir)
    crawl_s, n_urls = bench_crawl(spark, sf_dir)
    for _rep in range(2):
        crawl_s2, _ = bench_crawl(spark, sf_dir)
        crawl_s = min(crawl_s, crawl_s2)
    times["crawl_drain"] = round(crawl_s, 3)
    urls_per_sec = round(n_urls / crawl_s, 1)

    print(json.dumps({
        "metric": "frontier drain throughput (URLs scheduled/sec)",
        "value": urls_per_sec,
        "unit": "urls/sec",
        "queries": times,
        "sf": sf,
        "urls_scheduled": n_urls,
        "cores": cores,
    }))


if __name__ == "__main__":
    main()
