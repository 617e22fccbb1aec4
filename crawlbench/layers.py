"""Per-layer metrics of one traced crawl, from the event log and spans.

Attribution rules:

* A job belongs to the traced crawl when it carries the ``crawlbench.span``
  local property; its label is that span. Jobs the engine runs directly
  inside ``Crawler.run`` are refined by their job description
  (``fused-agg r<N>``, ``Listing leaf files ...``).
* A completed stage belongs to the first job that lists it.
* Inside the round-head job (the documents append, which materializes the
  fetched and parsed caches) a stage is ``parse`` when its operators
  include ``MapInArrow`` or ``WriteFiles``, ``schedule`` when they include
  ``Window`` or a parquet scan (the frontier), and ``fetch`` otherwise.
* Plan-node metrics come from the SQL plans of the traced jobs'
  executions, matched by accumulator id: the ``MapInArrow`` node is the
  exact parse tier, ``ArrowEvalPython`` running ``canonize_udf`` the exact
  canonicalization tier, ``probe`` the bloom probe, and the ``Filter`` on
  ``_maybe`` the bloom positives.
"""

from __future__ import annotations

import json
import re
from collections import defaultdict
from pathlib import Path
from typing import Dict, List

from spans import PLAN_SPANS, SPAN_PROP, read_events

_MAYBE_FILTER = re.compile(r"^Filter \(isnotnull\(_maybe#\d+\) AND _maybe#\d+\)$")


def _plan_nodes(info: dict):
    yield info
    for child in info.get("children", ()):
        yield from _plan_nodes(child)


def _node_kind(node: dict):
    name, s = node["nodeName"], node["simpleString"]
    if name == "MapInArrow":
        return "parse.py"
    if name == "ArrowEvalPython" and "canonize_udf(" in s:
        return "canon.py"
    if name == "ArrowEvalPython" and "probe(" in s:
        return "bloom.probe"
    if name == "Filter" and _MAYBE_FILTER.match(s):
        return "bloom.positive"
    return None


def _job_label(job: dict) -> str:
    props = job.get("Properties", {})
    span = props.get(SPAN_PROP)
    desc = props.get("spark.job.description") or ""
    if desc.startswith("Listing leaf files"):
        return "storage.listing"
    if span == "engine.run" and desc.startswith("fused-agg"):
        return "canon.fused_agg"
    return span


def _stage_layer(stage: dict) -> str:
    scopes = set()
    for rdd in stage.get("RDD Info", ()):
        if rdd.get("Scope"):
            scopes.add(json.loads(rdd["Scope"])["name"])
    if scopes & {"MapInArrow", "WriteFiles"}:
        return "parse"
    if "Window" in scopes or any(s.startswith("Scan parquet") for s in scopes):
        return "schedule"
    return "fetch"


def _union_s(intervals: List[tuple]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def layer_metrics(log_dir: Path, traced: dict, base: dict) -> Dict[str, dict]:
    """Metrics of the ``traced`` crawl; ``base`` is an equally warm
    untraced crawl of the same input (both as run.py records them)."""
    spans = traced["tracer"].spans
    events = read_events(str(log_dir), keep={
        "SparkListenerJobStart", "SparkListenerJobEnd",
        "SparkListenerStageCompleted", "SparkListenerTaskEnd",
        "SQLExecutionStart", "SQLAdaptiveExecutionUpdate",
    })
    jobs, job_end, stages, plans, failed_tasks = {}, {}, {}, [], []
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            if e.get("Properties", {}).get(SPAN_PROP):
                jobs[e["Job ID"]] = e
        elif kind == "SparkListenerJobEnd":
            job_end[e["Job ID"]] = e["Completion Time"] / 1000
        elif kind == "SparkListenerStageCompleted":
            stages[e["Stage Info"]["Stage ID"]] = e["Stage Info"]
        elif kind == "SparkListenerTaskEnd":
            if e["Task End Reason"]["Reason"] != "Success":
                failed_tasks.append(e["Stage ID"])
        else:
            plans.append(e)

    label = {j: _job_label(e) for j, e in jobs.items()}
    owner = {}
    for j in sorted(jobs):
        for sid in jobs[j]["Stage IDs"]:
            owner.setdefault(sid, j)

    def acc(stage, name) -> float:
        for a in stage["Accumulables"]:
            if a["Name"] == name:
                return float(a["Value"])
        return 0.0

    task_s = defaultdict(float)
    shuffle_b = defaultdict(float)
    gc_ms = spill_b = 0.0
    for sid, st in stages.items():
        j = owner.get(sid)
        if j is None:
            continue
        lab = label[j]
        if lab == "storage.append:documents":
            lab = _stage_layer(st)
        run_ms = acc(st, "internal.metrics.executorRunTime")
        task_s[lab] += run_ms / 1000
        shuffle_b[lab] += acc(st, "internal.metrics.shuffle.write.bytesWritten")
        gc_ms += acc(st, "internal.metrics.jvmGCTime")
        spill_b += acc(st, "internal.metrics.diskBytesSpilled")

    # plan-node metrics: accumulator id -> (kind, metric)
    exec_ids = {int(e["Properties"]["spark.sql.execution.id"])
                for e in jobs.values()
                if "spark.sql.execution.id" in e.get("Properties", {})}
    node_acc, fused_plan_chars = {}, []
    fused_execs = {int(e["Properties"]["spark.sql.execution.id"])
                   for j, e in jobs.items() if label[j] == "canon.fused_agg"}
    for p in plans:
        if p["executionId"] not in exec_ids:
            continue
        if p["executionId"] in fused_execs and "SQLExecutionStart" in p["Event"]:
            fused_plan_chars.append(len(p["physicalPlanDescription"]))
        for node in _plan_nodes(p["sparkPlanInfo"]):
            kind = _node_kind(node)
            if kind is None:
                continue
            for m in node["metrics"]:
                if m["name"] in ("number of output rows",
                                 "time to run Python workers"):
                    node_acc[m["accumulatorId"]] = (kind, m["name"])
    node_val = defaultdict(float)
    for st in stages.values():
        if owner.get(st["Stage ID"]) is None:
            continue
        for a in st["Accumulables"]:
            key = node_acc.get(a["ID"])
            if key is not None:
                # an accumulator's value is its running total: keep the max
                node_val[a["ID"]] = max(node_val[a["ID"]], float(a["Value"]))
    node_sum = defaultdict(float)
    for acc_id, v in node_val.items():
        node_sum[node_acc[acc_id]] += v

    def rows(kind):
        return node_sum[(kind, "number of output rows")]

    def py_s(kind):
        return node_sum[(kind, "time to run Python workers")] / 1000

    # spans
    span_s = defaultdict(float)
    for s in spans:
        span_s[s.name] += s.end - s.start
    runs_iv = [(s.start, s.end) for s in spans if s.name == "engine.run"]
    job_iv = [(e["Submission Time"] / 1000, job_end[j])
              for j, e in jobs.items() if j in job_end]
    busy = sum(
        _union_s([(max(a, r0), min(b, r1)) for a, b in job_iv
                  if b > r0 and a < r1])
        for r0, r1 in runs_iv
    )
    wall = sum(r1 - r0 for r0, r1 in runs_iv)

    c = traced["counts"]
    rounds = traced["rounds"]
    n_jobs = len(jobs)

    def m(value, unit):
        return {"value": value, "unit": unit}

    def share(a, b):
        return a / b if b else 0.0

    return {
        "engine.jobs_per_round": m(n_jobs / rounds, "count"),
        "engine.driver_gap_s": m(wall - busy, "s"),
        "engine.plan_kchars": m(
            sum(fused_plan_chars) / max(len(fused_plan_chars), 1) / 1000,
            "kchars"),
        "engine.plan_s": m(sum(span_s[n] for n in PLAN_SPANS), "s"),
        "engine.commit_wait_s": m(span_s["engine.commit_wait"], "s"),
        "engine.seed_init_s": m(span_s["engine.seed_init"], "s"),
        "schedule.task_s": m(task_s["schedule"], "s"),
        "schedule.carry_share": m(share(c["carry"], c["frontier"]), "ratio"),
        "fetch.task_s": m(task_s["fetch"], "s"),
        "fetch.ok_share": m(share(c["fetched_ok"], c["scheduled"]), "ratio"),
        "parse.task_s": m(task_s["parse"], "s"),
        "parse.py_rows_share": m(share(rows("parse.py"), c["fetched_ok"]),
                                 "ratio"),
        "parse.py_s": m(py_s("parse.py"), "s"),
        "canon.task_s": m(task_s["canon.fused_agg"], "s"),
        "canon.py_rows_share": m(share(rows("canon.py"), c["links"]), "ratio"),
        "canon.py_s": m(py_s("canon.py"), "s"),
        "frontier.dedup_s": m(span_s["frontier.dedup_candidates"], "s"),
        "frontier.task_s": m(task_s["frontier.dedup_candidates"], "s"),
        "frontier.shuffle_mb": m(
            shuffle_b["frontier.dedup_candidates"] / 2**20, "MiB"),
        "frontier.dup_share": m(share(c["duplicate"], c["accepted"]), "ratio"),
        "bloom.build_s": m(span_s["bloom.build_or_update"]
                           + span_s["bloom.to_dict"], "s"),
        "bloom.positive_share": m(
            share(rows("bloom.positive"), rows("bloom.probe")), "ratio"),
        "bloom.snapshot_mb": m(traced["bloom_bytes"] / 2**20, "MiB"),
        "storage.seen_append_s": m(span_s["storage.append:seen"], "s"),
        "storage.frontier_append_s": m(span_s["storage.append:frontier"], "s"),
        "storage.order_append_s": m(span_s["storage.append:order"], "s"),
        "storage.local_append_s": m(sum(
            v for k, v in span_s.items()
            if k.startswith("storage.append_local:")), "s"),
        "storage.compact_s": m(span_s["storage.compact"], "s"),
        "storage.listing_jobs": m(
            sum(1 for lab in label.values() if lab == "storage.listing")
            / rounds, "count"),
        "storage.resume_read_s": m(
            span_s["storage.read_state"] + span_s["storage.truncate_after"]
            + span_s["storage.read_batch"], "s"),
        "storage.files": m(traced["ckpt_files"], "count"),
        "spark.gc_s": m(gc_ms / 1000, "s"),
        "spark.spill_mb": m(spill_b / 2**20, "MiB"),
        "spark.failed_tasks": m(
            sum(1 for sid in failed_tasks if sid in owner), "count"),
        "trace.extra_jobs": m(traced["jobs"] - base["jobs"], "count"),
        "trace.overhead_share": m(
            traced["cpu_s"] / base["cpu_s"] - 1, "ratio"),
    }
