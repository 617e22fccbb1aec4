#!/usr/bin/env python3
"""Reproduce bench.py's crawl checksum at the crawl's full size.

    python3 crawlbench/checksum.py

Crawls bench.py's graph -- ``synth.powerlaw`` with 40k pages, 24 hosts,
hot-host share 0.4, out-degree 25, 20 paragraphs, 25% seeds, generator
seed 42 -- for 2 rounds with ``host_budget`` = pages and bench.py's
CrawlConfig, and checks the checksum ``sum(pmod(xxhash64(url,
disc_order), 2^32))`` over the crawl order against 87790457617798. Takes
a few minutes at local[4]; too long for a benchmark run, so it is a
separate command. Prints one JSON line; exits 1 on a mismatch.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

import run

EXPECTED = 87790457617798
PAGES = 40_000


def main() -> int:
    sys.path.insert(0, str(run.ROOT))
    cpus = len(os.sched_getaffinity(0))
    run_dir = run.WORK / f"checksum-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run._hermetic_env(run_dir)
    spark = run._start_spark(run_dir, cpus, trace=False)
    try:
        from pyspark.sql import functions as F

        from crawlspark.engine import CrawlConfig, Crawler
        from crawlspark.synth import powerlaw
        from workloads import Web

        pages, seeds = powerlaw(
            n_pages=PAGES, n_hosts=24, out_degree=25, paragraphs=20,
            seed=42, hot_host_share=0.4, seed_fraction=0.25,
        )
        web = Web(pages, seeds, sorted({p["host"] for p in pages}))
        pages_df, seeds_df, _ = run._stage(spark, web, run_dir / "in", cpus)
        cfg = CrawlConfig(
            checkpoint_dir=str(run_dir / "ckpt"), multi_host=True,
            hosts=web.hosts, host_budget=PAGES, max_rounds=2,
            num_partitions=cpus, broadcast_pages=False, use_bloom=True,
            seen_probe="broadcast",
        )
        t0 = time.perf_counter()
        result = Crawler(spark, pages_df, cfg).run(seeds_df)
        crawl_s = time.perf_counter() - t0
        checksum = int(result.order_df().agg(F.sum(F.pmod(
            F.xxhash64("url", F.col("disc_order").cast("string")),
            F.lit(1 << 32)))).collect()[0][0])
    finally:
        spark.stop()
        from pyspark import SparkContext

        run._stop_jvm(SparkContext)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"checksum": checksum, "expected": EXPECTED,
                      "match": checksum == EXPECTED, "crawl_s": crawl_s,
                      "cpus": cpus}))
    return 0 if checksum == EXPECTED else 1


if __name__ == "__main__":
    sys.exit(main())
