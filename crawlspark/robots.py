"""Robots gate (F5) — reference ``Robots.Test`` consulted before fetch
(crawler.go:31-33,86-88); nil robots ⇒ allow-all.

Rules model (FIXTURES.md §4): per-host path-prefix allow/deny rows with
optional crawl delay. Decision: the longest matching prefix wins; no
matching rule ⇒ allow (matching real robots.txt precedence).

The rules table is small policy state shared by every task (the
reference's read-only robots object shared by all workers). The engine
collects it once per crawl; the gate is a literal map in the round plan
and the crawl-delay budgets a driver dict. Denied rows are failed fetch
attempts: still counted in ``done`` (crawler.go:175), never fetched.
"""

from __future__ import annotations

import math
from typing import Dict, Optional, Sequence, Tuple

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F


def robots_budgets(
    rules: Sequence[Row], round_wall_secs: float,
    default_delay_secs: float = 3.0,
) -> Optional[Dict[str, int]]:
    """Per-host politeness budgets derived from robots crawl-delay
    (reference README.md:9-10 — crawl-delay honored in the default
    config; the delay sleep is crawler.go:176-178, default 3s
    crawler.go:22). Batch translation: a host whose crawl-delay is d can
    absorb at most ceil(round_wall / d) fetches per round. The configured
    default delay applies only to hosts WITHOUT a robots crawl-delay
    (crawler.go:110-113: Worker.Delay is used "if there is not robots.txt
    crawl delay") — a host advertising a delay shorter than the default
    gets the larger budget its own rule allows (ADVICE r2).

    ``rules``: the collected rules rows. Returns ``{host: budget}`` for
    schedule_round's literal map, or None when no rule carries a delay.
    Hosts absent from the result fall to the caller's default budget
    (derived from default_delay_secs)."""
    delay: Dict[str, float] = {}
    for r in rules:
        d = r.asDict().get("crawl_delay_secs")
        if d is not None and d > 0:
            delay[r["host"]] = max(d, delay.get(r["host"], d))
    return {
        h: math.ceil(float(round_wall_secs) / float(d))
        for h, d in delay.items()
    } or None


def compile_robots(rules: Sequence[Row]):
    """The collected rules rows as ``[(host, [(prefix, allow), ...]),
    ...]``, each host's prefixes sorted longest-first (ties: prefix asc,
    deny before allow — fully deterministic, unlike a bare length-desc
    sort). The engine compiles once per crawl and passes the result to
    ``apply_robots`` every round, so the per-round gate is a NARROW
    projection — no join, no window, no shuffle (the round-2 plan had a
    per-round window shuffle on seen_key here). None when there are no
    rules (allow-all)."""
    if not rules:
        return None
    per_host: dict = {}
    for r in rules:
        per_host.setdefault(r["host"], []).append(
            (r["path_prefix"], bool(r["allow"]))
        )
    for h in per_host:
        per_host[h].sort(key=lambda t: (-len(t[0]), t[0], t[1]))
    return sorted(per_host.items())


def _raw_path() -> F.Column:
    # robots tests the UN-normalized URL (reference passes *url.URL to
    # Robots.Test, crawler.go:31-33): match prefixes against the raw path,
    # not the cleaned dedup key ("/sub2/" must match path "/sub2/" even
    # though the key is "/sub2")
    return F.regexp_extract(
        F.col("url"), r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^?#]*)", 1
    )


def apply_robots(
    scheduled: DataFrame, compiled
) -> Tuple[DataFrame, DataFrame]:
    """Split scheduled rows into (allowed, denied) under the rules
    ``compiled`` by :func:`compile_robots`: a narrow literal-map lookup
    plus a higher-order prefix scan — zero shuffle, zero join.

    ``scheduled`` must carry url and host; None rules allow all."""
    if compiled is None:
        return scheduled, scheduled.limit(0)

    m = F.create_map(
        *[
            c
            for host, pa in compiled
            for c in (
                F.lit(host),
                F.array(
                    *[
                        F.struct(
                            F.lit(p).alias("p"), F.lit(a).alias("a")
                        )
                        for p, a in pa
                    ]
                ),
            )
        ]
    )
    raw = _raw_path()
    # try_element_at: null (⇒ allow) for hosts with no rules and for
    # rows matching no prefix — element_at throws under ANSI mode
    first_match = F.try_element_at(
        F.filter(
            m[F.col("host")], lambda s: raw.startswith(s["p"])
        ),
        F.lit(1),
    )
    decided = scheduled.withColumn(
        "_decision", F.coalesce(first_match["a"], F.lit(True))
    )
    allowed = decided.filter(F.col("_decision")).drop("_decision")
    denied = decided.filter(~F.col("_decision")).drop("_decision")
    return allowed, denied
