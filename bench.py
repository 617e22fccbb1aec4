#!/usr/bin/env python
"""crawlspark benchmark — prints ONE JSON line.

Headline metric (BASELINE.json): frontier-expansion throughput — URLs
scheduled+deduped per second — on a deterministic power-law multi-host
web graph (hot-host skew, politeness windows on, salted partitioning on,
exact anti-join dedup on). Also times the analysis/operator queries from
__spark_entry__ at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1).

Env knobs:
  SPARK_GRAFT_SF_DIR           sf dir for operator queries (default sf0.1)
  SPARK_GRAFT_CPUS             local[N] cores (default: the CPUs this
                               process may run on)
  CRAWLSPARK_BENCH_PAGES       synthetic graph size (default 40000)
  CRAWLSPARK_BENCH_PARTITIONS  crawl partitions (default: the cores)
  CRAWLSPARK_BENCH_CRAWL_REPS  headline-crawl repetitions (default 3)
  CRAWLSPARK_BENCH_QUERY_REPS  operator-query sweeps (default 3; 0 runs
                               the crawl only)
  CRAWLSPARK_DRIVER_MEM        driver heap (default: get_spark's)
  CRAWLSPARK_EVENTLOG_DIR      write a Spark event log there

The synthetic graph is generated once and cached as parquet under /tmp so
every parallelism level benches the identical input (BASELINE.md protocol).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(
    os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0)))
)
PARTS = int(os.environ.get("CRAWLSPARK_BENCH_PARTITIONS", str(0))) or CPUS
N_PAGES = int(os.environ.get("CRAWLSPARK_BENCH_PAGES", "40000"))
QUERY_REPS = int(os.environ.get("CRAWLSPARK_BENCH_QUERY_REPS", "3"))
# Headline-crawl repetitions (VERDICT r3 §wrong #1): the shared host has
# measured 2-3x co-tenant swings, so a single-shot crawl wall is
# uninterpretable round-over-round. Default: 3 interleaved reps (each rep
# spread across the query sweeps so the noise timeline is shared), min
# estimator, all walls reported.
CRAWL_REPS = int(os.environ.get("CRAWLSPARK_BENCH_CRAWL_REPS", "3"))
CACHE_DIR = f"/tmp/crawlspark_bench_input_{N_PAGES}"


def ensure_bench_input(spark):
    """Deterministic powerlaw graph cached as parquet (pages + seeds).
    Seeds are a parquet TABLE (url, seed_order) — at bench scale (25% of
    pages) the seed list must never round-trip through the driver."""
    from crawlspark.schemas import PAGES
    from crawlspark.synth import powerlaw

    pages_path = f"{CACHE_DIR}/pages"
    seeds_path = f"{CACHE_DIR}/seeds"
    if not (os.path.isdir(pages_path) and os.path.isdir(seeds_path)):
        tmp = CACHE_DIR + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp, exist_ok=True)
        pages, seeds = powerlaw(
            n_pages=N_PAGES,
            n_hosts=24,
            out_degree=25,
            paragraphs=20,
            seed=42,
            hot_host_share=0.4,
            seed_fraction=0.25,
        )
        spark.createDataFrame(pages, PAGES).repartition(
            PARTS
        ).write.mode("overwrite").parquet(f"{tmp}/pages")
        spark.createDataFrame(
            [(u, i) for i, u in enumerate(seeds)],
            "url string, seed_order int",
        ).coalesce(8).write.mode("overwrite").parquet(f"{tmp}/seeds")
        shutil.rmtree(CACHE_DIR, ignore_errors=True)
        os.replace(tmp, CACHE_DIR)
    return spark.read.parquet(pages_path), spark.read.parquet(seeds_path)


def run_crawl_bench(spark):
    from pyspark.sql import functions as F

    from crawlspark.engine import CrawlConfig, Crawler

    pages_df, seeds_df = ensure_bench_input(spark)
    # warm the OS page cache out of the timed section, but do NOT persist
    # here: the engine keeps its own (host,url_key)-partitioned copy and a
    # second heap-resident copy of the whole web only causes eviction
    # pressure on the caches that matter
    pages_df.count()
    seeds_df = seeds_df.persist()
    seeds_df.count()
    hosts = [r["host"] for r in pages_df.select("host").distinct().collect()]

    # tmpfs for checkpoint I/O: on a real cluster, checkpoint and shuffle
    # bandwidth scale with the node count; a single sandbox disk does not
    # and would masquerade as an engine scaling ceiling
    io_root = "/dev/shm" if os.path.isdir("/dev/shm") else None
    ckpt = tempfile.mkdtemp(prefix="crawlspark_bench_", dir=io_root)
    cfg = CrawlConfig(
        checkpoint_dir=ckpt,
        multi_host=True,
        hosts=hosts,
        host_budget=N_PAGES,  # politeness windows exercised, nothing deferred
        max_rounds=2,
        num_partitions=PARTS,
        broadcast_pages=False,  # the web is not broadcastable at scale
        use_bloom=True,  # the flagship URL-seen component, on in the bench
        seen_probe="broadcast",  # stream the seen set, never shuffle it
    )
    t0 = time.time()
    result = Crawler(spark, pages_df, cfg).run(seeds_df)
    secs = time.time() - t0

    m = result.metrics_df().agg(
        F.sum("scheduled").alias("s"), F.sum("new_urls").alias("n")
    ).collect()[0]
    urls = int(m["s"]) + int(m["n"])
    # pmod keeps the per-row term in 32 bits so the sum cannot overflow
    # long under ANSI mode even at billions of rows
    checksum = result.order_df().agg(
        F.sum(
            F.pmod(
                F.xxhash64("url", F.col("disc_order").cast("string")),
                F.lit(1 << 32),
            )
        )
    ).collect()[0][0]
    shutil.rmtree(ckpt, ignore_errors=True)
    pages_df.unpersist()
    return {
        "crawl_secs": round(secs, 2),
        "crawl_urls": urls,
        "crawl_urls_per_sec": round(urls / secs, 1),
        "crawl_checksum": int(checksum),
    }


def run_query_sweep(spark, names, fns, reps):
    """One interleaved repetition sweep: time every query once, append to
    ``reps``. Callers run QUERY_REPS sweeps (rep 1 of every query, then
    rep 2, ...) with crawl reps interleaved between sweeps — the sandbox
    host has measured 25-50% (occasionally 3x+) co-tenant CPU noise; a
    single-shot timing made BENCH_r02 query rows noise-dominated (VERDICT
    r2 §wrong #2). Interleaving spreads each measurement's reps across
    the noise timeline; the min is the standard low-noise estimator."""
    for name in names:
        t0 = time.time()
        fns[name](spark, SF_DIR).write.format("noop").mode(
            "overwrite"
        ).save()
        reps[name].append(round(time.time() - t0, 2))


def main():
    from crawlspark.session import get_spark

    extra = {}
    if os.path.isdir("/dev/shm"):
        shuffle_dir = "/dev/shm/crawlspark_shuffle"
        os.makedirs(shuffle_dir, exist_ok=True)
        extra["spark.local.dir"] = shuffle_dir
    spark = get_spark(
        cores=CPUS, shuffle_partitions=PARTS, app="crawlspark-bench",
        extra_conf=extra,
    )
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import __spark_entry__ as entry

    qfns = entry.queries()
    skip = {"crawl_order_basic16", "crawl_span_documents"}  # crawl above
    # CRAWLSPARK_BENCH_QUERY_REPS=0: the crawl alone, no query sweep
    qnames = [n for n in qfns if n not in skip] if QUERY_REPS else []
    qreps = {n: [] for n in qnames}

    # interleave: crawl rep 1, query sweep 1, crawl rep 2, sweep 2, ...
    # so the headline crawl and every query share one noise timeline
    crawl_runs = []
    for rep in range(max(CRAWL_REPS, QUERY_REPS)):
        if rep < CRAWL_REPS:
            crawl_runs.append(run_crawl_bench(spark))
        if rep < QUERY_REPS:
            run_query_sweep(spark, qnames, qfns, qreps)

    checksums = {r["crawl_checksum"] for r in crawl_runs}
    if len(checksums) != 1:  # determinism gate: reps must agree exactly
        raise RuntimeError(f"crawl checksum varies across reps: {checksums}")
    crawl = min(crawl_runs, key=lambda r: r["crawl_secs"])
    crawl["crawl_rep_secs"] = [r["crawl_secs"] for r in crawl_runs]

    queries = {"crawl_frontier_expansion": crawl["crawl_secs"]}
    query_reps = {n: r for n, r in qreps.items()}
    queries.update({n: min(r) for n, r in qreps.items()})
    out = {
        "metric": "frontier-expansion throughput (URLs scheduled+deduped/sec)",
        "value": crawl["crawl_urls_per_sec"],
        "unit": "urls/sec",
        "queries": queries,
        "query_reps": query_reps,  # interleaved rep walls (noise floor)
        "sf": SF_DIR.rstrip("/").rsplit("sf", 1)[-1],
        "cpus": CPUS,
        "bench_pages": N_PAGES,
        **crawl,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
