"""Round scheduling: politeness budgets, priority order, skew-proof
partitioning (Q4/Q5 — crawler.go:169-182,333-340 re-expressed for batch).

Politeness in a batch engine: per host per round, at most ``host_budget``
URLs are scheduled (≙ round_wall_budget / crawl_delay with the reference's
3s default, crawler.go:22); the rest carry over in FIFO order ahead of
fresh discoveries — exactly the queue's push-order semantics.

The per-host top-k is a window, but a naive ``partitionBy(host)`` window
dies on hot hosts (one partition gets 50% of the frontier). Two-phase
top-k: (1) per (host, salt-bucket) row_number keeps ≤ budget rows per
bucket — uniform partitions, whole-stage codegen; (2) per-host row_number
over the ≤ salt×budget survivors — now guaranteed small per host. Same
result, no skewed exchange.

The expensive fetch/parse stage needs no host locality at all (politeness
is already enforced by the budget), so scheduled rows are spread uniformly
by ``xxhash64(url_key, salt)`` — the batch answer to the reference's
round-robin dispatch, immune to hot-host skew by construction.
"""

from __future__ import annotations

from typing import Dict, Optional, Tuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SALT_BUCKETS = 64


def schedule_round(
    frontier: DataFrame,
    host_budget: int = 0,
    priority_order: bool = False,
    salt_buckets: int = SALT_BUCKETS,
    host_budgets: Optional[Dict[str, int]] = None,
    default_budget: int = 0,
) -> Tuple[DataFrame, Optional[DataFrame]]:
    """Split the frontier into (scheduled, carryover) for one round.

    Frontier order (≙ queue FIFO / priority queue): (priority desc,
    disc_order) in priority mode, else disc_order alone.

    ``host_budgets``: optional ``{host: budget}`` — per-host politeness
    budgets derived from robots crawl-delay (reference README.md:9-10;
    delay applied crawler.go:176-178) — looked up in a literal map, so
    no join; hosts without an entry fall back to ``host_budget`` (or
    ``default_budget`` when host_budget == 0).

    Scale shape: carryover is a FLAG SPLIT of the two ranking windows —
    phase-1 losers (per-(host,salt) rank > budget) can never be scheduled
    and go straight to carry; phase-2 losers join them. No anti-join, so
    the frontier is never re-shuffled a second time per round (the
    round-2 fix for the per-round carryover exchange)."""
    fallback = host_budget if host_budget > 0 else default_budget
    if fallback <= 0 and not host_budgets:
        return frontier, None

    if priority_order:
        order = [F.col("priority").desc(), F.col("disc_order")]
    else:
        order = [F.col("disc_order")]

    salted = frontier.withColumn(
        "_salt", F.pmod(F.xxhash64("url_key"), F.lit(salt_buckets))
    )
    if host_budgets:
        hb = F.create_map(*[
            F.lit(x) for kv in sorted(host_budgets.items()) for x in kv
        ])[F.col("host")].cast("long")
        salted = salted.withColumn(
            "_budget",
            F.coalesce(
                hb, F.lit(fallback if fallback > 0 else None).cast("long")
            ),
        )
        # a host with neither a budget entry nor a fallback is unbounded
        unbounded = F.col("_budget").isNull()
    else:
        salted = salted.withColumn("_budget", F.lit(fallback).cast("long"))
        unbounded = F.lit(False)

    w1 = Window.partitionBy("host", "_salt").orderBy(*order)
    phase1 = salted.withColumn("_rn1", F.row_number().over(w1))
    keep1 = unbounded | (F.col("_rn1") <= F.col("_budget"))

    # phase-1 survivors: ≤ salt_buckets × budget rows per host — the
    # phase-2 per-host window is provably un-skewed
    w2 = Window.partitionBy("host").orderBy(*order)
    ranked = (
        phase1.filter(keep1)
        .withColumn("_rn2", F.row_number().over(w2))
    )
    keep2 = unbounded | (F.col("_rn2") <= F.col("_budget"))
    aux = ["_rn1", "_rn2", "_salt", "_budget"]
    scheduled = ranked.filter(keep2).drop(*aux)
    carry = (
        ranked.filter(~keep2)
        .drop(*aux)
        .unionByName(phase1.filter(~keep1).drop("_rn1", "_salt", "_budget"))
    )
    return scheduled, carry


def spread_for_fetch(
    scheduled: DataFrame, num_partitions: int, salt: int = 0
) -> DataFrame:
    """Uniform repartition of the scheduled batch for the CPU-heavy
    fetch→parse stage (Q4). Hash on the url_key (plus a per-round salt so
    pathological key sets cannot stick to the same partitions every
    round) — never on host, so hot hosts spread evenly."""
    return scheduled.repartition(
        num_partitions, F.xxhash64("url_key", F.lit(salt))
    )
