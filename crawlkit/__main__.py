"""spark-submit entry point (north_rule: deployed via
``spark-submit --py-files``).

Package and run:

    zip -r crawlkit.zip crawlkit
    spark-submit --py-files crawlkit.zip run_crawl.py \
        --warehouse /data/wh --pages /data/pages \
        --seeds /data/seeds.parquet --robots /data/robots.parquet \
        --rounds 10

or locally: ``python -m crawlkit --synth 2000 --warehouse /tmp/wh``.

Resume is implicit: re-running with the same --warehouse continues
from the last committed round (T6 checkpoint semantics).
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="crawlkit", description=__doc__)
    p.add_argument("--warehouse", required=True, help="state/results dir")
    p.add_argument("--pages", help="parquet dir of the pages table")
    p.add_argument("--seeds", help="parquet dir/file with (url, depth)")
    p.add_argument("--robots", help="parquet with hostbudget schema")
    p.add_argument("--robots-txt",
                   help="parquet with RAW (host, robots_txt) bodies — "
                        "parsed into the hostbudget dim (crawlkit.robots)")
    p.add_argument("--agent", default="crawlkit",
                   help="user-agent token for robots.txt group selection")
    p.add_argument("--rounds", type=int, default=10, help="max rounds")
    p.add_argument("--max-depth", type=int, default=4)
    p.add_argument("--round-duration-ms", type=int, default=60_000)
    p.add_argument("--bloom-partitions", type=int, default=64)
    p.add_argument("--expire-days", type=int, default=None,
                   help="recrawl expiry: evict+requeue urls whose newest "
                        "stored doc is older than this (default: off)")
    p.add_argument("--master", default=None, help="override spark master")
    p.add_argument("--synth", type=int, default=0, metavar="N_PAGES",
                   help="generate an N-page synthetic corpus instead of "
                        "--pages/--seeds/--robots (demo/bench mode)")
    args = p.parse_args(argv)

    from .rounds import CrawlConfig, run_crawl
    from .session import get_spark

    spark = get_spark("crawlkit-crawl", master=args.master)
    spark.sparkContext.setLogLevel("WARN")

    if args.synth:
        from .synth import SynthConfig, robots_df, seeds_df, synth_pages

        scfg = SynthConfig(n_pages=args.synth)
        pages, seeds, robots = (
            synth_pages(spark, scfg), seeds_df(spark, scfg), robots_df(spark, scfg)
        )
    else:
        if not args.pages:
            p.error("--pages is required without --synth")
        pages = spark.read.parquet(args.pages)
        seeds = spark.read.parquet(args.seeds) if args.seeds else None
        if args.robots_txt:
            from .robots import robots_table

            robots = robots_table(
                spark.read.parquet(args.robots_txt), agent=args.agent
            )
        else:
            robots = spark.read.parquet(args.robots) if args.robots else None

    cfg = CrawlConfig(
        warehouse=args.warehouse,
        max_depth=args.max_depth,
        round_duration_ms=args.round_duration_ms,
        n_bloom_partitions=args.bloom_partitions,
        expire_days=args.expire_days,
    )
    metrics = run_crawl(spark, cfg, pages, seeds, robots,
                        max_rounds=args.rounds)
    for i, m in enumerate(metrics, 1):
        print(json.dumps({"round": i, **m}))
    print(json.dumps({"rounds_run": len(metrics),
                      "fetched": sum(m.get("selected", 0) for m in metrics)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
