#!/usr/bin/env python
"""spark-submit entry point for the crawl engine.

    spark-submit --master <cluster> --py-files dist/spider_spark.zip \
        scripts/submit_crawl.py --workdir <shared-path> --rounds 5 \
        [--resume] [--seeds N --hosts N --pages N]

The driver loop only sequences rounds; every data-touching step is a
DataFrame job, so the same script runs unchanged from local[k] to a
1000-executor cluster (the workdir must then be a shared filesystem /
object store, and storage.py swaps for an Iceberg catalog).
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workdir", required=True)
    p.add_argument("--rounds", type=int, default=3)
    p.add_argument("--resume", action="store_true")
    p.add_argument("--seeds", type=int, default=1000)
    p.add_argument("--hosts", type=int, default=50)
    p.add_argument("--pages", type=int, default=5000)
    p.add_argument(
        "--seed-dir",
        help="watched directory of JSONL seed files ({url, priority}); "
        "drained exactly-once into the frontier before the rounds run "
        "(checkpoint lives in the workdir, so re-submits skip old files)",
    )
    args = p.parse_args()

    from spider_spark import synth
    from spider_spark.crawl import Crawler
    from spider_spark.round import CrawlConfig
    from spider_spark.session import submit_spark

    # the engine's settings (non-ANSI, UTC, Arrow, AQE, codegen cache)
    # under spark-submit's master
    spark = submit_spark("spider_spark_crawl")
    cfg = CrawlConfig(n_hosts=args.hosts, page_space=args.pages)
    crawler = Crawler(spark, args.workdir, cfg)
    if args.resume:
        rid = crawler.resume()
        print(f"resumed from round {rid}", file=sys.stderr)
    else:
        crawler.bootstrap(
            synth.seed_list(spark, args.seeds, args.hosts, args.pages),
            synth.hosts_config(spark, args.hosts),
        )
    if args.seed_dir:
        from spider_spark.streaming.ingest import ingest_seed_stream

        n = ingest_seed_stream(
            spark, crawler, args.seed_dir, f"{args.workdir}/_ingest_ckpt"
        )
        print(f"ingested {n} new seed URLs from {args.seed_dir}", file=sys.stderr)
    results = crawler.run_rounds(args.rounds)
    for r in results:
        print(
            json.dumps(
                {
                    "round": r.round_id,
                    "dequeued": r.dequeued,
                    "ok": r.fetched_ok,
                    "errors": r.errors,
                    "new_urls": r.new_urls,
                    "dup_urls": r.dup_urls,
                    "wall_ms": r.wall_ms,
                }
            )
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
