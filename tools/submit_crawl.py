#!/usr/bin/env python
"""spark-submit entrypoint for a crawl job (north rule deployment shape).

    spark-submit --master <cluster> [--num-executors N ...] \
        --py-files dist/crawlspark.zip tools/submit_crawl.py \
        --pages <parquet> --seeds <parquet> --checkpoint <dir> \
        [--multi-host --host-budget B --max-rounds R --use-bloom ...]

Master, executor count/memory, and cluster conf come from spark-submit —
this script never calls ``.master(...)``; it only sets the engine-required
session conf (UTC, Arrow) that is cluster-size-independent; AQE is
Spark's default. The
``crawlspark`` package arrives via --py-files (tools/make_pyfiles.py), so
the script imports it from the shipped archive on the driver while every
executor's Python worker resolves the same archive — the standard
multi-executor deployment the sandbox emulates with local[N].

A round's materialized frames are local checkpoints, kept on the
executors that computed them and never recomputed from lineage: losing
an executor (or a preempted one) fails the run. Run the same command
with ``--resume`` to restart it from the last committed round recorded
in the checkpoint's ``_state.json``.

Inputs are parquet tables: pages in the resolver schema
(crawlspark.schemas.PAGES — the deterministic stand-in for HTTP GET,
crawler.go:27-57) and seeds as (url string, seed_order int) — a TABLE, not
a driver-side list, so a 10^8-row seed set never round-trips the driver.

Prints ONE JSON line: rounds, pushed, scheduled+new URL count, and the
order-sensitive crawl checksum (the determinism gate used by
BENCH/BASELINE.md — identical at any executor count).
"""

from __future__ import annotations

import argparse
import json
import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--pages", required=True, help="pages parquet (PAGES schema)")
    p.add_argument("--seeds", required=True,
                   help="seeds parquet (url string, seed_order int)")
    p.add_argument("--checkpoint", required=True,
                   help="checkpoint/lineage store directory (resumable)")
    p.add_argument("--out", default="",
                   help="optional dir: write order/documents/metrics parquet")
    p.add_argument("--host", default="", help="single-host mode host")
    p.add_argument("--multi-host", action="store_true")
    p.add_argument("--host-budget", type=int, default=0)
    p.add_argument("--limit", type=int, default=0)
    p.add_argument("--max-rounds", type=int, default=0)
    p.add_argument("--partitions", type=int, default=0)
    p.add_argument("--use-bloom", action="store_true")
    p.add_argument("--broadcast-pages", action="store_true")
    p.add_argument("--seen-probe", default="auto",
                   choices=("auto", "broadcast", "merge"))
    p.add_argument("--resume", action="store_true",
                   help="resume from an existing checkpoint store")
    args = p.parse_args()

    spark = (
        SparkSession.builder.appName("crawlspark-submit")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )

    # import AFTER the session exists: in cluster deploy-mode the archive
    # from --py-files is staged onto sys.path by the time the app runs,
    # and executors resolve it independently
    from crawlspark.engine import CrawlConfig, Crawler

    pages = spark.read.parquet(args.pages)
    seeds = spark.read.parquet(args.seeds)
    hosts = None
    if args.multi_host:
        hosts = [r["host"] for r in pages.select("host").distinct().collect()]
    cfg = CrawlConfig(
        checkpoint_dir=args.checkpoint,
        host=args.host,
        multi_host=args.multi_host,
        hosts=hosts,
        host_budget=args.host_budget,
        limit=args.limit,
        max_rounds=args.max_rounds,
        num_partitions=args.partitions or None,
        broadcast_pages=args.broadcast_pages,
        use_bloom=args.use_bloom,
        seen_probe=args.seen_probe,
    )
    result = Crawler(spark, pages, cfg).run(seeds, resume=args.resume)

    order = result.order_df()
    m = result.metrics_df().agg(
        F.sum("scheduled").alias("s"), F.sum("new_urls").alias("n")
    ).collect()[0]
    checksum = order.agg(
        F.sum(
            F.pmod(
                F.xxhash64("url", F.col("disc_order").cast("string")),
                F.lit(1 << 32),
            )
        )
    ).collect()[0][0]
    if args.out:
        for name, df in (
            ("order", order),
            ("documents", result.documents_df()),
            ("metrics", result.metrics_df()),
        ):
            df.write.mode("overwrite").parquet(os.path.join(args.out, name))
    print(json.dumps({
        "rounds": result.rounds,
        "pushed": result.pushed,
        "limit_reached": result.limit_reached,
        "urls": int(m["s"] or 0) + int(m["n"] or 0),
        "order_rows": order.count(),
        "crawl_checksum": int(checksum),
    }))


if __name__ == "__main__":
    main()
