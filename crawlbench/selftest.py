#!/usr/bin/env python3
"""Self-test of the benchmark's tracing, on a tiny ``dirty`` crawl.

    python3 crawlbench/selftest.py

Runs the same tiny crawl twice in one JVM with the event log on, first
untraced and then with the span wrappers, and checks that

* both crawls equal the oracle;
* tracing adds no Spark job (``statusTracker`` job counts are equal);
* every job of the traced crawl carries a span label, including the jobs
  whose description ``CheckpointStore.append`` overwrote;
* the labels and spans every layer metric relies on are present, and
  spans started inside another span name it as parent;
* the per-layer metrics are exactly the ``per_layer`` names of
  ``BENCHMARK.json``.

Prints one line per failed check and exits 1 if any failed, else 0.
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import sys
from pathlib import Path

import run

REQUIRED_LABELS = {
    "engine.seed_init", "frontier.dedup_candidates", "canon.fused_agg",
    "storage.append:documents", "storage.append:order",
    "storage.append:seen", "storage.append:frontier", "bloom.to_dict",
}
REQUIRED_SPANS = {
    "engine.run", "engine.init", "engine.commit_wait",
    "schedule.schedule_round", "robots.apply_robots",
    "robots.robots_budgets", "fetch.resolve_fetch", "parse.mark_dirty",
    "parse.parse_stage", "canon.canonize_links_prepared",
    "bloom.flag_candidates", "storage.compact", "storage.read_state",
    "storage.truncate_after", "storage.append_local:metrics",
}


def selftest(spark, run_dir: Path, cpus: int) -> list:
    from layers import _job_label, layer_metrics
    from procstat import tree_cpu_s
    from spans import SPAN_PROP, StateClock, Tracer, read_events
    from workloads import WORKLOADS, oracle_expected

    w = dataclasses.replace(WORKLOADS["dirty"], n_pages=60)
    web = w.web(0)
    inputs = run._stage(spark, web, run_dir / "in", cpus)
    want = oracle_expected(w, web)
    with StateClock(tree_cpu_s) as clock:
        base = run._checked_crawl(spark, w, web, inputs, run_dir / "c0",
                                  cpus, clock, want)
        with Tracer(spark) as tracer:
            traced = run._checked_crawl(spark, w, web, inputs,
                                        run_dir / "c1", cpus, clock, want)
    traced["tracer"] = tracer

    problems = [f"crawl differs from the oracle: {r['error']}"
                for r in (base, traced) if r["error"]]
    if traced["jobs"] != base["jobs"]:
        problems.append(f"tracing changed the job count: {base['jobs']} "
                        f"untraced, {traced['jobs']} traced")
    jobs = [e for e in read_events(str(run_dir / "eventlog"),
                                   keep={"SparkListenerJobStart"})
            if e["Event"] == "SparkListenerJobStart"]
    labeled = [j for j in jobs if j.get("Properties", {}).get(SPAN_PROP)]
    if len(labeled) != traced["jobs"]:
        problems.append(f"{traced['jobs']} traced jobs, {len(labeled)} "
                        "labeled in the event log")
    missing = REQUIRED_LABELS - {_job_label(j) for j in labeled}
    if missing:
        problems.append(f"no job labeled {sorted(missing)}")
    for j in labeled:
        desc = j["Properties"].get("spark.job.description") or ""
        if desc.startswith("append:") and _job_label(j) != (
                "storage.append:" + desc.split()[0].split(":")[1]):
            problems.append(f"job {j['Job ID']} ({desc}) labeled "
                            f"{_job_label(j)}")
    names = {s.name for s in tracer.spans}
    missing = REQUIRED_SPANS - names
    if missing:
        problems.append(f"no span named {sorted(missing)}")
    parents = {s.parent for s in tracer.spans if s.name == "engine.seed_init"}
    if parents != {"engine.run"}:
        problems.append(f"engine.seed_init parents {parents}, not engine.run")

    metrics = layer_metrics(run_dir / "eventlog", traced, base)
    with open(run.ROOT / "BENCHMARK.json") as f:
        declared = {m["name"] for m in json.load(f)["per_layer"]}
    if set(metrics) != declared:
        problems.append(
            f"per-layer metrics differ from BENCHMARK.json: missing "
            f"{sorted(declared - set(metrics))}, undeclared "
            f"{sorted(set(metrics) - declared)}")
    return problems


def main() -> int:
    sys.path.insert(0, str(run.ROOT))
    cpus = len(os.sched_getaffinity(0))
    run_dir = run.WORK / f"selftest-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run._hermetic_env(run_dir)
    spark = run._start_spark(run_dir, cpus, trace=True)
    try:
        problems = selftest(spark, run_dir, cpus)
    finally:
        spark.stop()
        from pyspark import SparkContext

        run._stop_jvm(SparkContext)
        shutil.rmtree(run_dir, ignore_errors=True)
    for p in problems:
        print(f"FAIL: {p}")
    print("selftest:", "FAILED" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
