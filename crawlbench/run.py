#!/usr/bin/env python3
"""Crawl benchmark: one workload, one seed, one JSON result line.

    python3 crawlbench/run.py --workload wide --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. The run is hermetic: every file it
writes (inputs, checkpoints, Spark scratch, event log, temp files) lives
under ``.crawlbench/`` in the checkout, and ``CRAWLSPARK_*`` knobs in the
caller's environment are cleared.

A run: compute the oracle for the seed in a child process (cached per
seed) while Spark starts at local[cpus] with an explicit heap, pay the
JVM's first-crawl cost on a warm-up seeding leg, stage the inputs as
parquet three times, then crawl the workload until ``--seconds`` have
passed (at least once). Every crawl is two legs -- a ``Crawler`` stopped
once its seed frontier is committed and a fresh ``Crawler`` resuming on
its checkpoint -- and is checked against the oracle. ``--trace 1`` turns
on the event log, crawls untraced, then with the span wrappers, then
untraced again, and prints the per-layer metrics of the traced crawl
instead of the end-to-end metrics.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``;
the line before it records the box (cpus, heap, MemTotal) and the
workload's input properties. Exit code 0 only when every crawl matched
the oracle.

The run itself is a child of this script, which is the child subreaper
of everything the run starts: the script returns only once every one of
those processes (the JVM, the Python daemon it forks in a process group
of its own, the daemon's workers, the oracle process) has ended.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import multiprocessing
import os
import pickle
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".crawlbench"
HEAP_MB = 3072  # explicit driver heap, far below this class of box's RAM
RUN_ENV = "CRAWLBENCH_RUN"  # set in the child that does the run
RUN_TIMEOUT_S = 175  # a run that takes longer is killed and fails
EXIT_GRACE_S = 10  # left-over processes get this long to exit, then are killed
PR_SET_CHILD_SUBREAPER = 36


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def _hermetic_env(run_dir: Path) -> None:
    for k in list(os.environ):
        if k.startswith(("CRAWLSPARK_", "SPARK_GRAFT_")):
            del os.environ[k]
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    # the JVM's temp files go under the run directory too; -UsePerfData
    # keeps it from writing its perf-counter file to the system /tmp
    os.environ["CRAWLSPARK_EXTRA_JAVA_OPTS"] = (
        f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    # Python workers import crawlspark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )


def _start_spark(run_dir: Path, cpus: int, trace: bool):
    from crawlspark.session import get_spark

    conf = {
        "spark.local.dir": str(run_dir / "local"),
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
    }
    if trace:
        evlog = run_dir / "eventlog"
        evlog.mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(evlog),
            "spark.eventLog.compress": "false",
        })
    return get_spark(
        cores=cpus, shuffle_partitions=cpus, app="crawlbench",
        driver_mem=f"{HEAP_MB}m", extra_conf=conf,
    )


def _stage(spark, web, path: Path, partitions: int):
    """Write the web as parquet files with pyarrow (no Spark job; pages in
    ``partitions`` files) and return Spark scans over them."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def write(name, columns: dict, schema, parts=1):
        (path / name).mkdir(parents=True)
        table = pa.table(columns, schema=pa.schema(schema))
        step = -(-table.num_rows // parts)
        for k in range(parts):
            pq.write_table(table.slice(k * step, step),
                           path / name / f"part-{k:05d}.parquet")
        return spark.read.parquet(str(path / name))

    s, i32, f64 = pa.string(), pa.int32(), pa.float64()
    pages = write(
        "pages",
        {c: [p[c] for p in web.pages] for c in
         ("url", "host", "url_key", "status", "content_html")},
        [pa.field("url", s, False), pa.field("host", s, False),
         pa.field("url_key", s, False), pa.field("status", i32, False),
         ("content_html", s)],
        partitions,
    )
    seeds = write("seeds", {"url": web.seeds,
                            "seed_order": list(range(len(web.seeds)))},
                  [("url", s), ("seed_order", i32)])
    robots = None
    if web.robots:
        host, prefix, allow, delay = zip(*web.robots)
        robots = write(
            "robots",
            {"host": host, "path_prefix": prefix, "allow": allow,
             "crawl_delay_secs": delay},
            [pa.field("host", s, False), pa.field("path_prefix", s, False),
             pa.field("allow", pa.bool_(), False), ("crawl_delay_secs", f64)],
        )
    return pages, seeds, robots


def _du(path: Path) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


class _SeedsCommitted(Exception):
    """Stops leg 1 of a crawl once its seed frontier is committed."""


def _stop_at_first_round(*args, **kwargs):
    raise _SeedsCommitted


def crawl_once(spark, w, web, inputs, ckpt: Path, partitions: int, clock,
               resume: bool = True):
    """One crawl of ``w`` in two legs. Leg 1 commits the seed frontier and
    is stopped where its first round would schedule, as a crash there
    would stop it; leg 2 (skipped when ``resume`` is false) is a fresh
    Crawler that resumes on the checkpoint and crawls to the end. Both
    legs, Crawler construction included, are crawl time. Returns
    (result, timings)."""
    from crawlspark import engine

    from workloads import crawl_config

    pages_df, seeds_df, robots_df = inputs
    cfg = crawl_config(w, web, str(ckpt), partitions)
    t0 = time.perf_counter()
    crawler = engine.Crawler(spark, pages_df, cfg, robots_rules=robots_df)
    schedule_round = engine.schedule_round
    engine.schedule_round = _stop_at_first_round
    try:
        crawler.run(seeds_df)
        raise RuntimeError("leg 1 did not reach its first round")
    except _SeedsCommitted:
        pass
    finally:
        engine.schedule_round = schedule_round
    leg1 = time.perf_counter() - t0
    if not resume:
        return None, {"crawl_s": leg1}

    t_resume, cpu_resume = time.perf_counter(), clock.cpu()
    crawler = engine.Crawler(spark, pages_df, cfg, robots_rules=robots_df)
    result = crawler.run(resume=True)
    leg2 = time.perf_counter() - t_resume
    committed = clock.first_commit_after(t_resume, 1)
    if committed is None:
        raise RuntimeError("resume leg committed no round")
    return result, {
        "crawl_s": leg1 + leg2,
        "resume_s": committed[0] - t_resume,
        "resume_cpu_s": committed[1] - cpu_resume,
        "rounds": result.rounds,
    }


def crawl_counts(ckpt: Path, pushed: int) -> dict:
    """Whole-crawl counts from the metrics and lineage tables."""
    from workloads import read_table

    metrics = sorted(
        (r["round"], r["scheduled"], r["fetched_ok"], r["new_urls"])
        for r in read_table(ckpt, "metrics", ["round", "scheduled",
                                              "fetched_ok", "new_urls"])
    )
    lineage = defaultdict(int)
    for r in read_table(ckpt, "lineage", ["reason", "n"]):
        lineage[r["reason"]] += r["n"]
    new = sum(m[3] for m in metrics)
    frontier = pushed - new  # round 0 frontier: the seed pushes
    total_frontier = carry = 0
    for _, scheduled, _, new_urls in metrics:
        total_frontier += frontier
        carry += frontier - scheduled
        frontier = frontier - scheduled + new_urls
    return {
        "scheduled": sum(m[1] for m in metrics),
        "fetched_ok": sum(m[2] for m in metrics),
        "new_urls": new,
        "frontier": total_frontier,
        "carry": carry,
        "links": sum(lineage.values()),
        "accepted": lineage["duplicate"] + lineage["budget"]
        + lineage["pushed"],
        "duplicate": lineage["duplicate"],
    }


def _oracle_path(w, seed: int) -> Path:
    """Cache file of the oracle answer for ``w`` at ``seed``, keyed by the
    workload's definition and the sources that compute the answer, so an
    edited workload or oracle never reads a stale answer."""
    h = hashlib.sha256(repr(w).encode())
    for src in sorted((ROOT / "crawlspark").glob("*.py")) + [
            Path(__file__).with_name("workloads.py")]:
        h.update(src.read_bytes())
    return WORK / "oracle" / f"{w.name}-{seed}-{h.hexdigest()[:16]}.pkl"


def _oracle_job(name: str, seed: int) -> None:
    """Compute and cache the oracle answer for workload ``name`` at
    ``seed``. Runs in a child process, beside the JVM start."""
    from workloads import WORKLOADS, oracle_expected

    w = WORKLOADS[name]
    path = _oracle_path(w, seed)
    if path.exists():
        return
    want = oracle_expected(w, w.web(seed))
    path.parent.mkdir(parents=True, exist_ok=True)
    tmp = path.with_name(f"{path.name}.{os.getpid()}.tmp")
    with open(tmp, "wb") as f:
        pickle.dump(want, f)
    os.replace(tmp, path)


def _load_oracle(w, seed: int):
    with open(_oracle_path(w, seed), "rb") as f:
        return pickle.load(f)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _checked_crawl(spark, w, web, inputs, ckpt, cpus, clock, want):
    """One timed crawl, then (untimed) its oracle check and counts."""
    from procstat import steal_s, tree_cpu_s
    from workloads import check

    sc = spark.sparkContext
    job0, cpu0, steal0 = _last_job(sc), tree_cpu_s(), steal_s()
    res, t = crawl_once(spark, w, web, inputs, ckpt, cpus, clock)
    t["cpu_s"] = tree_cpu_s() - cpu0
    t["steal_s"] = steal_s() - steal0
    t["jobs"] = _last_job(sc) - job0
    t["error"] = check(ckpt, want)
    t["counts"] = crawl_counts(ckpt, res.pushed)
    t["urls"] = t["counts"]["scheduled"] + t["counts"]["new_urls"]
    t["ckpt_bytes"] = _du(ckpt)
    t["bloom_bytes"] = _du(ckpt / "bloom")
    t["ckpt_files"] = sum(len(f) for _, _, f in os.walk(ckpt))
    # the next crawl rebuilds the engine's caches, as this one did
    spark.catalog.clearCache()
    return t


def main(argv=None) -> int:
    args = parse_args(argv)
    # the program under test is the checkout's own crawlspark package
    if not (ROOT / "crawlspark" / "__init__.py").is_file():
        print(f"crawlbench: no crawlspark package in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from workloads import ROUNDS, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"crawlbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    w = WORKLOADS[args.workload]
    cpus = len(os.sched_getaffinity(0))
    run_dir = WORK / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    _hermetic_env(run_dir)
    oracle_proc = multiprocessing.get_context("spawn").Process(
        target=_oracle_job, args=(w.name, args.seed))
    oracle_proc.start()
    spark = None
    runs = []
    try:
        from procstat import MemoryPeak, tree_cpu_s
        from spans import StateClock, Tracer

        web = w.web(args.seed)
        with MemoryPeak() as mem, StateClock(tree_cpu_s) as clock:
            t0 = time.perf_counter()
            spark = _start_spark(run_dir, cpus, bool(args.trace))
            session_s = time.perf_counter() - t0

            # the JVM's first crawl work (class loading, JIT, Python
            # worker start) is paid on a seeding leg over a separate copy
            # of the inputs, reported in setup_s and never timed as a
            # crawl. A whole warm-up crawl (about 30 s) does not fit in a
            # run of about a minute, so round 0's own first-time
            # compilation is still inside the measured crawl.
            t0 = time.perf_counter()
            crawl_once(spark, w, web,
                       _stage(spark, web, run_dir / "warm", cpus),
                       run_dir / "ckpt-warm", cpus, clock, resume=False)
            warmup_s = time.perf_counter() - t0

            stage_s = []
            for k in range(3):
                t0 = time.perf_counter()
                inputs = _stage(spark, web, run_dir / f"in{k}", cpus)
                stage_s.append(time.perf_counter() - t0)

            oracle_proc.join()
            if oracle_proc.exitcode != 0:
                raise RuntimeError("oracle computation failed")
            want = _load_oracle(w, args.seed)
            spark.catalog.clearCache()

            if args.trace:
                # the same crawl untraced, traced, untraced: the first pays
                # round 0's first-time compilation, the last is the
                # equally warm baseline for the tracing overhead, and equal
                # job counts show the wrappers add no Spark job
                for k in range(3):
                    tracer = Tracer(spark) if k == 1 else None
                    with tracer or contextlib.nullcontext():
                        runs.append(_checked_crawl(
                            spark, w, web, inputs, run_dir / f"ckpt{k}",
                            cpus, clock, want))
                    runs[-1]["tracer"] = tracer
            else:
                t_start = time.perf_counter()
                while not runs or time.perf_counter() - t_start < args.seconds:
                    ckpt = run_dir / f"ckpt{len(runs)}"
                    runs.append(_checked_crawl(spark, w, web, inputs, ckpt,
                                               cpus, clock, want))
                    shutil.rmtree(ckpt, ignore_errors=True)
        if args.trace:
            from layers import layer_metrics

            metrics = layer_metrics(run_dir / "eventlog", runs[1], runs[2])
    except Exception:  # a crawl that raised is a failed attempt
        import traceback

        traceback.print_exc()
        print(json.dumps({"correct": False, "attempted": len(runs) + 1,
                          "failed": 1, "metrics": {}}))
        return 1
    finally:
        if oracle_proc.is_alive():
            oracle_proc.kill()
        oracle_proc.join()
        if spark is not None:
            spark.stop()
            from pyspark import SparkContext

            _stop_jvm(SparkContext)
        shutil.rmtree(run_dir, ignore_errors=True)

    failures = [r["error"] for r in runs if r["error"]]

    def m(v, unit):
        return {"value": v, "unit": unit}

    def med(key):
        return statistics.median(r[key] for r in runs)

    # walls: recorded, not gated (see README: host steal swings them)
    walls = {
        "urls_per_s": m(statistics.median(
            r["urls"] / r["crawl_s"] for r in runs), "urls/s"),
        "crawl_s": m(med("crawl_s"), "s"),
        "s_per_round": m(statistics.median(
            r["crawl_s"] / r["rounds"] for r in runs), "s"),
        "resume_s": m(med("resume_s"), "s"),
    }
    info = {
        "workload": w.name, "seed": args.seed, "cpus": cpus,
        "heap_mb": HEAP_MB, "mem_total_mb": _mem_total_mb(),
        "pages": w.n_pages, "rounds": ROUNDS,
        "session_s": session_s, "warmup_s": warmup_s, "stage_s": stage_s,
        "crawl_s": [r["crawl_s"] for r in runs],
        "cpu_s": [r["cpu_s"] for r in runs],
        "steal_s": [r["steal_s"] for r in runs],
        "jobs": [r["jobs"] for r in runs], "failures": failures,
        "counts": runs[-1]["counts"], "walls": walls,
    }
    if not args.trace:
        metrics = {
            "urls_per_cpu_s": m(statistics.median(
                r["urls"] / r["cpu_s"] for r in runs), "urls/cpu_s"),
            "crawl_cpu_s": m(med("cpu_s"), "s"),
            "cpu_s_per_round": m(statistics.median(
                r["cpu_s"] / r["rounds"] for r in runs), "s"),
            "resume_cpu_s": m(med("resume_cpu_s"), "s"),
            "setup_s": m(session_s + warmup_s + statistics.median(stage_s),
                         "s"),
            "peak_rss_mb": m(mem.peak_kb / 1024, "MiB"),
            "ckpt_bytes_per_url": m(statistics.median(
                r["ckpt_bytes"] / r["urls"] for r in runs), "bytes"),
        }
    print(json.dumps({"info": info}))
    print(json.dumps({
        "correct": not failures, "attempted": len(runs),
        "failed": len(failures), "metrics": metrics,
    }))
    return 0 if not failures else 1


def _stop_jvm(SparkContext) -> None:
    """Shut the py4j gateway and wait for the JVM (and with it the Python
    workers it forked) to exit: the JVM exits when its stdin closes."""
    gw, SparkContext._gateway = SparkContext._gateway, None
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()


def _last_job(sc) -> int:
    """Jobs started so far in this context (job ids are dense)."""
    st = sc.statusTracker()
    ids = st.getJobIdsForGroup(None)
    return max(ids) + 1 if ids else 0


def _children() -> list:
    """Live and zombie processes whose parent is this process."""
    me, pids = os.getpid(), []
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            if ppid == me:
                pids.append(int(pid))
    return pids


def _reap_all() -> None:
    """Wait until this process has no child left. Orphans of the run are
    reparented here (child subreaper) and waited for like children; those
    still running ``EXIT_GRACE_S`` after the run ended are killed."""
    deadline = time.monotonic() + EXIT_GRACE_S
    while True:
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                return
            if pid == 0:
                break
        if time.monotonic() > deadline:
            for pid in _children():
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
        time.sleep(0.05)


def supervise(argv) -> int:
    """Run ``main`` in a child process and return its exit code once every
    process the run started has ended."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")

    def terminate(signum, _frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, terminate)
    signal.signal(signal.SIGHUP, terminate)
    child = subprocess.Popen([sys.executable, __file__, *argv],
                             env=dict(os.environ, **{RUN_ENV: "1"}))
    code = 1
    try:
        code = child.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"crawlbench: run exceeded {RUN_TIMEOUT_S} s; killed",
              file=sys.stderr)
    finally:
        if child.poll() is None:
            child.kill()
            child.wait()
        _reap_all()
        shutil.rmtree(WORK / f"run-{child.pid}", ignore_errors=True)
    return code


if __name__ == "__main__":
    if os.environ.get(RUN_ENV):
        sys.exit(main())
    sys.exit(supervise(sys.argv[1:]))
