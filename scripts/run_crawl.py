"""Crawl driver for spark-submit (north rule: `spark-submit --py-files`).

Cluster:
  zip -r crawler_spark.zip crawler_spark
  spark-submit --py-files crawler_spark.zip scripts/run_crawl.py \
      --warehouse hdfs:///wh --n-pages 10000000000 --rounds 20 \
      --k-per-host 64 --n-hosts 1000000

Sandbox (local mode is chosen automatically when no master is set):
  python scripts/run_crawl.py --warehouse /tmp/wh --n-pages 100000 --rounds 5

Resume: re-run with the same --warehouse; the crawl continues after the
last committed round (crash-safe: manifest-last atomic commits).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--n-pages", type=int, default=100_000)
    ap.add_argument("--n-hosts", type=int, default=20)
    ap.add_argument("--n-seeds", type=int, default=8)
    ap.add_argument("--rounds", type=int, default=5)
    ap.add_argument("--k-per-host", type=int, default=3)
    ap.add_argument("--with-payload", action="store_true",
                    help="carry image+caption binary payload into pages")
    ap.add_argument("--cooldown-rounds", type=int, default=1)
    ap.add_argument("--fetch-plan", default="broadcast",
                    choices=["broadcast", "bucketed"],
                    help="fetch-join strategy; 'bucketed' lays the web "
                         "table out bucketed by url ONCE (timed "
                         "separately) so every round's join exchanges "
                         "only the batch side")
    ap.add_argument("--frontier-mode", default="full",
                    choices=["full", "incremental"],
                    help="'incremental' schedules from the persisted "
                         "per-host head index (no full-frontier window "
                         "per round; bit-identical batches)")
    ap.add_argument("--buckets", type=int, default=64,
                    help="bucket count for --fetch-plan bucketed")
    ap.add_argument("--seeds-file", default=None,
                    help="seed list file/dir (text/csv/json/parquet, "
                         "inferred from suffix) instead of synthetic "
                         "seeds; URLs must exist in the synthetic web "
                         "at this n-pages to resolve")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from crawler_spark.session import get_spark, tune_session

    if os.environ.get("SPARK_SUBMIT_DEPLOY_MODE") or "SPARK_ENV_LOADED" in os.environ:
        spark = SparkSession.builder.appName("crawler_spark").getOrCreate()
        tune_session(spark)
    else:
        spark = get_spark("crawler_spark_crawl")

    from crawler_spark.frontier import synth
    from crawler_spark.frontier.store import RoundStore, run_crawl_checkpointed

    web = synth.web_graph(spark, args.n_pages, args.n_hosts)
    robots = synth.robots_dim(spark, args.n_hosts)
    if args.seeds_file:
        from crawler_spark.sources.seeds import read_seed_files

        seeds = read_seed_files(spark, args.seeds_file)
    else:
        seeds = synth.seed_urls(spark, args.n_pages, args.n_seeds,
                                args.n_hosts)

    store = RoundStore(spark, args.warehouse)
    resumed_from = store.latest_round()
    layout_sec = 0.0
    if args.fetch_plan == "bucketed":
        # One-time layout cost, amortized over every subsequent round
        # (and every resume — the table persists in the warehouse).
        from crawler_spark.frontier.bucketed import write_bucketed

        t_b = time.perf_counter()
        write_bucketed(web, "web_bucketed", args.buckets)
        layout_sec = time.perf_counter() - t_b
        web = spark.table("web_bucketed")

    t0 = time.perf_counter()
    images = None
    if args.with_payload:
        from crawler_spark.frontier.images import images_table
        images = images_table(spark, args.n_pages)
    run_crawl_checkpointed(
        store, web, robots, args.rounds, args.k_per_host,
        seeds=None if resumed_from is not None else seeds,
        cooldown_rounds=args.cooldown_rounds,
        images=images,
        fetch_plan=args.fetch_plan,
        frontier_mode=args.frontier_mode,
    )
    dt = time.perf_counter() - t0

    log = store.read_deltas("fetch_log")
    seen = store.read("seen", args.rounds)
    print(json.dumps({
        "rounds": args.rounds,
        "resumed_from": resumed_from,
        "fetches": log.count(),
        "seen_urls": seen.count(),
        "wall_sec": round(dt, 2),
        "fetch_plan": args.fetch_plan,
        "bucket_layout_sec": round(layout_sec, 2),
    }))


if __name__ == "__main__":
    main()
