"""Outside-in tracing: span wrappers around the engine's public entry
points, and a reader for Spark's event log.

Nothing under ``crawlspark/`` knows about this module. Entering a
``Tracer`` replaces module and class attributes the engine looks up at
call time with wrappers that

* record a span (name, thread, start, end, parent) in memory, and
* set the Spark local property ``crawlbench.span`` to the span name for
  the duration of the call, so every job the call starts carries it.

The job description is not used as the label: ``CheckpointStore.append``
and the fused agg overwrite it. Local properties are per thread, and the
engine's commit chain runs on its own threads, so a wrapper sets the
property in whichever thread calls it.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from dataclasses import dataclass
from typing import Callable, List, Optional

SPAN_PROP = "crawlbench.span"


@dataclass
class Span:
    name: str
    thread: int
    start: float
    end: float
    parent: Optional[str]


def _targets():
    """(owner, attribute, span name) of every wrapped entry point. A
    name ending in ':' takes the table argument as suffix."""
    from crawlspark import bloom, canon, engine, parse, robots, storage

    C, S = engine.Crawler, storage.CheckpointStore
    return [
        (C, "__init__", "engine.init"),
        (C, "run", "engine.run"),
        (C, "_init_frontier", "engine.seed_init"),
        (C, "_join_commit", "engine.commit_wait"),
        (C, "_collect_fresh_bitmaps", "bloom.fresh_bitmaps"),
        (C, "_roll_bloom_local", "bloom.roll"),
        (engine, "schedule_round", "schedule.schedule_round"),
        (engine, "spread_for_fetch", "schedule.spread_for_fetch"),
        (engine, "apply_robots", "robots.apply_robots"),
        (robots, "robots_budgets", "robots.robots_budgets"),
        (engine, "resolve_fetch", "fetch.resolve_fetch"),
        (parse, "mark_dirty", "parse.mark_dirty"),
        (engine, "parse_stage", "parse.parse_stage"),
        (canon, "canonize_links_prepared", "canon.canonize_links_prepared"),
        (canon, "canonize_links_split", "canon.canonize_links_split"),
        (engine, "dedup_candidates", "frontier.dedup_candidates"),
        (bloom, "flag_candidates", "bloom.flag_candidates"),
        (bloom, "build_or_update", "bloom.build_or_update"),
        (bloom, "to_dict", "bloom.to_dict"),
        (S, "append", "storage.append:"),
        (S, "append_local", "storage.append_local:"),
        (S, "maybe_compact", "storage.maybe_compact"),
        (S, "compact", "storage.compact"),
        (S, "read", "storage.read"),
        (S, "read_state", "storage.read_state"),
        (S, "write_state", "storage.write_state"),
        (S, "truncate_after", "storage.truncate_after"),
        (S, "read_batch", "storage.read_batch"),
    ]


# lazy builders: their span time is driver planning time, no job runs
PLAN_SPANS = (
    "schedule.schedule_round", "schedule.spread_for_fetch",
    "robots.apply_robots", "fetch.resolve_fetch", "parse.mark_dirty",
    "parse.parse_stage", "canon.canonize_links_prepared",
    "canon.canonize_links_split",
)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: List[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._saved: list = []

    def _wrap(self, fn: Callable, name: str) -> Callable:
        tracer = self
        by_table = name.endswith(":")

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if by_table:
                label = name + str(args[1] if len(args) > 1
                                   else kwargs["table"])
            else:
                label = name
            stack = tracer._local.__dict__.setdefault("stack", [])
            parent = stack[-1] if stack else None
            prev = tracer.sc.getLocalProperty(SPAN_PROP)
            tracer.sc.setLocalProperty(SPAN_PROP, label)
            stack.append(label)
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.time()
                stack.pop()
                tracer.sc.setLocalProperty(SPAN_PROP, prev)
                with tracer._lock:
                    tracer.spans.append(
                        Span(label, threading.get_ident(), t0, t1, parent)
                    )

        return wrapper

    def __enter__(self) -> "Tracer":
        """Install the wrappers; leaving the block restores the originals."""
        for owner, attr, name in _targets():
            fn = getattr(owner, attr)
            self._saved.append((owner, attr, fn))
            setattr(owner, attr, self._wrap(fn, name))
        return self

    def __exit__(self, *exc) -> None:
        for owner, attr, fn in reversed(self._saved):
            setattr(owner, attr, fn)
        self._saved.clear()


class StateClock:
    """Times each committed round: wraps ``CheckpointStore.write_state``
    to note the wall clock and ``cpu()`` after each state write, and
    nothing else (no property, no Spark call), so it can stay on in
    untraced runs."""

    def __init__(self, cpu: Callable[[], float]):
        self.cpu = cpu
        self.commits: List[tuple] = []  # (time, cpu, next_round)

    def __enter__(self) -> "StateClock":
        from crawlspark.storage import CheckpointStore

        self._orig = orig = CheckpointStore.write_state
        clock = self

        @functools.wraps(orig)
        def write_state(store, state):
            orig(store, state)
            clock.commits.append(
                (time.perf_counter(), clock.cpu(), state["next_round"]))

        CheckpointStore.write_state = write_state
        return self

    def __exit__(self, *exc) -> None:
        from crawlspark.storage import CheckpointStore

        CheckpointStore.write_state = self._orig

    def first_commit_after(self, t0: float, next_round: int) -> Optional[tuple]:
        """(time, cpu) of the first state write committing ``next_round``
        at or after ``t0``."""
        for t, cpu, r in self.commits:
            if t >= t0 and r == next_round:
                return t, cpu
        return None


# -- event log ------------------------------------------------------------

def eventlog_files(log_dir: str) -> List[str]:
    """Every event file of the application(s) logged under ``log_dir``:
    a plain single file, or Spark's rolling layout
    ``eventlog_v2_<app>/events_<N>_<app>`` read in index order."""
    files = []
    for entry in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, entry)
        if entry.startswith("eventlog_v2_") and os.path.isdir(path):
            parts = glob.glob(os.path.join(path, "events_*"))
            parts.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
            files.extend(parts)
        elif os.path.isfile(path):
            files.append(path)
    return files


def read_events(log_dir: str, keep: Optional[set] = None) -> List[dict]:
    """Parsed events in log order; ``keep`` filters by event type before
    the (expensive) JSON parse of large plan-update lines."""
    out = []
    for path in eventlog_files(log_dir):
        with open(path) as f:
            for line in f:
                if keep is not None:
                    head = line[:120]
                    if not any(k in head for k in keep):
                        continue
                try:
                    out.append(json.loads(line))
                except json.JSONDecodeError:
                    # the last line of a log still being written
                    continue
    return out
