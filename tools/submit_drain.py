"""spark-submit entrypoint for the frontier drain (north_rule run mode).

Ships ONLY with the ``--py-files`` zip — imports nothing from the repo
root, so the same command works on a real multi-executor cluster:

    python tools/make_pyfiles.py
    spark-submit --master <cluster> --py-files dist/gigaspark.zip \\
        tools/submit_drain.py --sf-dir <parquet_dir> --rounds 2

The two-cluster-size criterion (N vs 4N executors, efficiency >= 0.8)
is this same command at two ``--num-executors`` values; the sandbox
analogue pins cores instead (tools/bench_scaling.py, BASELINE.md).

Prints one JSON line: {"urls_scheduled": N, "wall_s": s, "urls_per_sec": r}.
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--rounds", type=int, default=2)
    ap.add_argument("--hosts", type=int, default=4096)
    ap.add_argument("--repl", type=int, default=1,
                    help="explode each seed URL x repl (scaling runs)")
    ap.add_argument("--warm", action="store_true",
                    help="one warm-up round on a 20k sample before t0")
    ap.add_argument("--max-spiders", type=int, default=8,
                    help="max_spiders_per_ip for the default rule")
    ap.add_argument("--ckpt-serialized", action="store_true",
                    help="serialized lz4 checkpoints from round 0 "
                         "(DRAM-bound big-state regime, see session.py)")
    ap.add_argument("--local-cores", type=int, default=0,
                    help="(sandbox only) run local[N] instead of cluster")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from gigaspark.operators.frontier import CrawlConfig, CrawlScheduler
    from gigaspark.session import get_spark

    if args.local_cores:
        spark = get_spark("gigaspark-submit", cores=args.local_cores,
                          shuffle_partitions=2 * args.local_cores)
    else:
        spark = get_spark("gigaspark-submit", cluster=True)
    spark.sparkContext.setLogLevel("ERROR")

    orders = spark.read.parquet(f"{args.sf_dir}/orders.parquet")
    base = orders.select(
        "o_orderkey", "o_custkey",
        F.explode(F.sequence(F.lit(0), F.lit(args.repl - 1))).alias("j"))
    seeds = base.select(
        F.concat(F.lit("http://host"),
                 ((F.col("o_custkey") * args.repl + F.col("j"))
                  % args.hosts).cast("string"),
                 F.lit(".example/p/"), F.col("o_orderkey").cast("string"),
                 F.lit("/"), F.col("j").cast("string")).alias("url"),
        ((F.col("o_orderkey") + F.col("j")) % 1000).alias("added_time_ms"),
        F.lit(True).alias("is_seed"))
    # a small seed parquet arrives as one split; after the x repl explode
    # the whole canonicalize/hash/filter pipeline would run on that one
    # task no matter how many executors exist (measured: local[8] ==
    # local[2] wall).  Spread the input across the shuffle width first.
    seeds = seeds.repartition(
        int(spark.conf.get("spark.sql.shuffle.partitions")))
    ms = args.max_spiders
    fixtures = {
        "url_filters": spark.createDataFrame(
            [(0, "isseed", 80, 30.0, ms, 100, False, False),
             (1, "default", 50, 30.0, max(ms // 2, 1), 100, False, False)],
            "rule_idx int, expression string, priority int,"
            " spider_freq_days double, max_spiders_per_ip int,"
            " same_ip_wait_ms long, harvest_links boolean,"
            " force_delete boolean"),
        "robots": spark.createDataFrame(
            [(f"host{h}.example", "*", "disallow", "/private",
              0 if h % 5 else 500) for h in range(args.hosts)],
            "host string, user_agent string, rule_type string,"
            " path_prefix string, crawl_delay_ms long"),
        "link_graph": spark.createDataFrame(
            [], "src_url string, dst_urls array<string>"),
    }
    cfg = CrawlConfig(ckpt_serialized=args.ckpt_serialized or None)
    if args.warm:
        seeds = seeds.localCheckpoint(eager=True)
        warm = CrawlScheduler(spark, fixtures, cfg)
        warm.seed(seeds.limit(20000))
        warm.run_round()
    t0 = time.time()
    sched = CrawlScheduler(spark, fixtures, cfg)
    sched.seed(seeds)
    n = 0
    for _ in range(args.rounds):
        n += sched.run_round()
    dt = time.time() - t0
    em = sched.emitted_df().select("seq", "urlhash48", "scheduled_time_ms")
    h = em.selectExpr(
        "bit_xor(xxhash64(seq, urlhash48, scheduled_time_ms)) AS h"
    ).collect()[0][0]
    print(json.dumps({"urls_scheduled": n, "wall_s": round(dt, 3),
                      "urls_per_sec": round(n / dt, 1), "order_hash": h}))


if __name__ == "__main__":
    main()
