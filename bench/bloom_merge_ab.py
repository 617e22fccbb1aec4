#!/usr/bin/env python
"""A/B of the Bloom prefilter on merge-probe rounds: ``use_bloom`` off
against on, both with ``seen_probe="merge"`` (the only rounds that use
the prefilter), on a multi-round power-law crawl.

    python bench/bloom_merge_ab.py [--pages 4000] [--reps 3] [--cpus N]
                                   [--out DIR]

Each rep runs, for each side in alternating order (off first in even
reps, on first in odd reps), in one JVM:

* ``full``: an uninterrupted crawl;
* ``resume``: a crawl stopped after round 0 (``max_rounds=1``), then a
  fresh ``Crawler`` resuming it to the end. On the bloom side the resumed
  run's first merge round rebuilds the bitmaps from the whole seen table;
* ``auto``: an uninterrupted crawl with ``seen_probe="auto"`` and a
  broadcast budget of ``--auto-keys`` candidate keys, so small rounds
  take the broadcast probe and large ones the merge probe (the bloom
  side rebuilds the bitmaps at each merge round after a broadcast one).

Every crawl is checked against ``crawlspark.oracle`` (order and seen
set). Per crawl it reports wall seconds, process-tree CPU seconds, Spark
jobs, the summed wall of ``dedup_candidates`` (the probe + anti-join
phase), the wall of the bitmap rebuilds from seen and of the fresh-key
bitmap jobs. One more, untimed crawl counts the bloom positive share of
the probed candidates. Prints one JSON line per crawl and a median
summary per side.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def tree_cpu_s() -> float:
    """CPU seconds of this process and every descendant (the JVM and its
    Python workers), read from /proc."""
    parent, me = {}, os.getpid()
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    parent[int(pid)] = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
    ticks = 0
    for pid, fields in parent.items():
        p = pid
        while p > 1 and p != me:
            p = int(parent[p][1]) if p in parent else 0
        if p == me:
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


class Probe:
    """Times the dedup phase and the bloom work of a crawl by wrapping
    the engine entry points for the duration of a ``with`` block."""

    def __init__(self, count_share: bool = False):
        from crawlspark import bloom, engine

        self.bloom, self.engine = bloom, engine
        self.dedup_s = self.rebuild_s = self.fresh_s = 0.0
        # counting the probe's positives costs an extra job per round:
        # only an untimed crawl does it
        self.count_share = count_share
        self.probed = self.positive = 0

    def __enter__(self):
        from pyspark.sql import functions as F

        eng, blm, probe = self.engine, self.bloom, self
        self._saved = [
            (eng, "dedup_candidates", eng.dedup_candidates),
            (eng.Crawler, "_collect_fresh_bitmaps",
             eng.Crawler._collect_fresh_bitmaps),
            (blm, "flag_candidates", blm.flag_candidates),
        ]
        dedup, collect, flag = (s[2] for s in self._saved)

        def timed_dedup(*a, **kw):
            t0 = time.perf_counter()
            try:
                return dedup(*a, **kw)
            finally:
                probe.dedup_s += time.perf_counter() - t0

        def timed_collect(crawler, keys):
            t0 = time.perf_counter()
            try:
                return collect(crawler, keys)
            finally:
                dt = time.perf_counter() - t0
                # a rebuild is the one call made before the round's dict
                # exists; roll calls come from the round tail
                if crawler._bloom_dict is None:
                    probe.rebuild_s += dt
                else:
                    probe.fresh_s += dt

        def counted_flag(*a, **kw):
            out = flag(*a, **kw)
            if probe.count_share:
                row = out.agg(
                    F.count("*").alias("n"),
                    F.sum(F.col("_maybe").cast("int")).alias("p"),
                ).collect()[0]
                probe.probed += row["n"]
                probe.positive += row["p"] or 0
            return out

        eng.dedup_candidates = timed_dedup
        eng.Crawler._collect_fresh_bitmaps = timed_collect
        blm.flag_candidates = counted_flag
        return self

    def __exit__(self, *exc):
        for owner, attr, fn in self._saved:
            setattr(owner, attr, fn)

    def positive_share(self):
        """Share of probed candidates the bitmaps flag as maybe-seen."""
        return self.positive / self.probed if self.probed else None


KINDS = ("full", "resume", "auto")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--pages", type=int, default=4000)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--auto-keys", type=int, default=None,
                    help="auto leg's broadcast budget in candidate keys "
                         "(default: pages / 4)")
    ap.add_argument("--kinds", default=",".join(KINDS),
                    help="comma-separated legs to run (default: all)")
    ap.add_argument("--cpus", type=int,
                    default=len(os.sched_getaffinity(0)))
    ap.add_argument("--out", default=None,
                    help="work directory (default: a new temp dir)")
    args = ap.parse_args()
    kinds = [k for k in args.kinds.split(",") if k]
    if not set(kinds) <= set(KINDS):
        ap.error(f"--kinds: choose from {', '.join(KINDS)}")

    from crawlspark.engine import CrawlConfig, Crawler
    from crawlspark.oracle import crawl as oracle_crawl
    from crawlspark.schemas import PAGES
    from crawlspark.session import get_spark
    from crawlspark.synth import pages_index, powerlaw

    work = args.out or tempfile.mkdtemp(prefix="bloom_merge_ab_")
    os.makedirs(work, exist_ok=True)
    spark = get_spark(cores=args.cpus, driver_mem="3g",
                      app="bloom_merge_ab")
    try:
        sc = spark.sparkContext
        pages, seeds = powerlaw(
            n_pages=args.pages, n_hosts=24, out_degree=25, seed=42,
            hot_host_share=0.4, seed_fraction=0.01,
        )
        hosts = sorted({p["host"] for p in pages})
        pages_df = spark.createDataFrame(pages, PAGES)
        pages_df = pages_df.repartition(args.cpus).cache()
        pages_df.count()
        want = oracle_crawl(pages_index(pages), seeds, "", multi_host=True,
                            hosts=set(hosts))
        want_order = sorted((r.url, r.round, r.disc_order)
                            for r in want.order)

        auto_keys = args.auto_keys or args.pages // 4

        def cfg(ckpt, use_bloom, kind, max_rounds=0):
            return CrawlConfig(
                checkpoint_dir=ckpt, multi_host=True, hosts=hosts,
                num_partitions=args.cpus, broadcast_pages=False,
                use_bloom=use_bloom, max_rounds=max_rounds,
                seen_probe="auto" if kind == "auto" else "merge",
                broadcast_probe_max_bytes=auto_keys * 128,
                broadcast_probe_key_bytes=128,
            )

        def last_job():
            ids = sc.statusTracker().getJobIdsForGroup(None)
            return max(ids) if ids else -1

        def crawl(kind, use_bloom, rep, count_share=False):
            ckpt = os.path.join(work, f"{kind}_{int(use_bloom)}_{rep}")
            shutil.rmtree(ckpt, ignore_errors=True)
            if kind == "resume":
                Crawler(spark, pages_df,
                        cfg(ckpt, use_bloom, kind, 1)).run(seeds)
            j0, c0, t0 = last_job(), tree_cpu_s(), time.perf_counter()
            with Probe(count_share) as probe:
                c = Crawler(spark, pages_df, cfg(ckpt, use_bloom, kind))
                res = (c.run(resume=True) if kind == "resume"
                       else c.run(seeds))
                wall = time.perf_counter() - t0
                cpu = tree_cpu_s() - c0
                jobs = last_job() - j0
            got = sorted((r["url"], r["round"], r["disc_order"])
                         for r in res.order_df().collect())
            seen = {r["url_key"] for r in res.seen_df().collect()}
            row = {
                "kind": kind, "use_bloom": use_bloom, "rep": rep,
                "wall_s": round(wall, 2), "cpu_s": round(cpu, 2), "jobs": jobs,
                "dedup_s": round(probe.dedup_s, 2),
                "rebuild_s": round(probe.rebuild_s, 2),
                "fresh_bitmaps_s": round(probe.fresh_s, 2),
                "positive_share": probe.positive_share(),
                "rounds": res.rounds, "probes": c.probe_choices,
                "correct": got == want_order and seen == want.seen,
            }
            print(json.dumps(row), flush=True)
            shutil.rmtree(ckpt, ignore_errors=True)
            return row

        # warm-up: first-time JIT and worker start-up stay out of the pairs
        crawl("full", False, -1)
        rows = []
        for rep in range(args.reps):
            sides = (False, True) if rep % 2 == 0 else (True, False)
            for kind in kinds:
                for use_bloom in sides:
                    rows.append(crawl(kind, use_bloom, rep))

        for kind in kinds:
            for use_bloom in (False, True):
                rs = [r for r in rows
                      if r["kind"] == kind and r["use_bloom"] == use_bloom]
                summary = {"summary": kind, "use_bloom": use_bloom,
                           "n": len(rs),
                           "all_correct": all(r["correct"] for r in rs)}
                for k in ("wall_s", "cpu_s", "jobs", "dedup_s", "rebuild_s",
                          "fresh_bitmaps_s"):
                    summary[k] = statistics.median(r[k] for r in rs)
                print(json.dumps(summary), flush=True)
        # untimed: the bloom positive share of a full crawl's merge rounds
        share = crawl("full", True, "share",
                      count_share=True)["positive_share"]
        print(json.dumps({"summary": "positive_share", "value": share}))
    finally:
        spark.stop()
        if args.out is None:
            shutil.rmtree(work, ignore_errors=True)
    return 0 if all(r["correct"] for r in rows) else 1


if __name__ == "__main__":
    sys.exit(main())
