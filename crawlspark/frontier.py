"""Frontier dedup / ordering / budget (Q1) — the set algebra that replaces
the reference's mutex-guarded in-memory seen map (queue.go:54-84).

Scale design:
- Within-round first-wins dedup: window ``row_number() == 1`` over the seen
  key ordered by (parent_disc, link_index) — deterministic, unlike
  dropDuplicates (SURVEY.md Q1).
- Cross-round dedup: ``left_anti`` join against the append-only seen table;
  Spark's runtime Bloom filter assists. The explicit crawlspark.bloom
  prefilter runs only with the merge probe, where it measured slower in
  21 of 21 CPU pairs (BENCH/BLOOM_GATE.md). Exactness always comes from
  the anti-join.
- Global FIFO numbering: a *distributed* dense index — a monotone bucket
  computed from driver-known order-key bounds (``order_bucket``),
  per-bucket row_number, plus cumulative bucket offsets shipped as a map
  literal of at most ``P`` entries. No range sampling, no
  single-partition window, no driver collect of data rows (only one
  count per bucket reaches the driver).
- Materialization: the deduped set (and the first-wins rows the
  broadcast probe or the Bloom split reads twice) is an eager local
  checkpoint, not a persist. Every later plan (dense-order counts, the
  frontier and seen appends) starts from its ``LogicalRDD`` leaf, so no
  plan carries the round's lineage. Each checkpoint goes into the
  caller's handle list the moment it exists, and ``release`` frees
  them: ``DataFrame.unpersist`` does not.
- limit+1 budget: ``done > limit`` is checked before increment in the
  reference (queue.go:64-67) ⇒ exactly limit+1 pushes succeed; dedup
  happens after the limit check, so any push *attempt* past the budget —
  duplicate or not — sets the worker's stop flag (crawler.go:244-246).
"""

from __future__ import annotations

import logging
from dataclasses import dataclass
from typing import Optional, Tuple

from pyspark import Broadcast, StorageLevel
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

log = logging.getLogger(__name__)


def release(handles) -> None:
    """Free every round cache in ``handles``: destroy a broadcast, and
    free the blocks of a local checkpoint (``DataFrame.unpersist`` does
    nothing on one: its blocks belong to the RDD under its
    ``LogicalRDD`` plan). A handle that fails to free is logged and the
    rest are still freed, so cleanup never replaces the exception that
    made the caller clean up."""
    for h in handles:
        try:
            if isinstance(h, Broadcast):
                h.destroy()
            else:
                h._jdf.queryExecution().analyzed().rdd().unpersist(False)
        except Exception:
            log.exception("could not release a round cache")


def order_bucket(offset: Column, span: int, buckets: int) -> Column:
    """Dense-order bucket: ``offset`` (≥ 0, monotone in the order key)
    spread over ``span`` values into ``buckets`` buckets, clamped to
    ``[0, buckets - 1]``. An input with no rows (no bounds) uses the
    constant bucket ``F.lit(0)`` instead."""
    return F.greatest(
        F.lit(0),
        F.least(
            F.lit(buckets - 1),
            F.floor(offset * F.lit(buckets) / F.lit(span)),
        ),
    )


def with_dense_order(
    df: DataFrame,
    order_cols: list,
    out_col: str,
    bucket_col: Column,
    start: int = 0,
    order_max_out: Optional[list] = None,
) -> Tuple[DataFrame, int]:
    """Assign a dense global index, starting at ``start``, in
    ``order_cols`` order, fully distributed: per-bucket row_number +
    cumulative bucket offsets (computed from per-bucket counts; only
    #buckets scalars hit the driver). Returns (df_with_index, end_index).

    ``bucket_col`` is an integer expression that is MONOTONE w.r.t. the
    lexicographic ``order_cols`` order (every row in bucket b sorts
    before every row in bucket b+1), e.g. ``order_bucket`` over
    driver-known bounds. The window hash-exchanges on the bucket value,
    so no range sampling pass runs and correctness is independent of
    physical placement. Bucket skew costs parallelism, never exactness.
    The offsets ship as a map literal with one entry per non-empty
    bucket, so ``bucket_col`` should take few distinct values (the
    engine clamps it to ``[0, P-1]``)."""
    ranged = df.withColumn("_pid", bucket_col.cast("int"))
    # the max order key rides the same counts job (``order_max_out``):
    # consumers needing "the last row's key" (the limit-boundary
    # trailing-attempt check) get it for free instead of running a
    # dedicated orderBy-limit collect over a possibly-evicted cache
    counts_df = ranged.groupBy("_pid").agg(
        F.count("*").alias("cnt"),
        F.max(F.struct(*order_cols)).alias("mx"),
    )
    rows = counts_df.collect()
    counts = {r["_pid"]: r["cnt"] for r in rows}
    if order_max_out is not None and rows:
        order_max_out.append(max(tuple(r["mx"]) for r in rows))
    offsets = {}
    acc = start
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    if not offsets:
        # no rows at all — plan must still typecheck (map() is VOID-typed)
        offset_col = F.lit(start)
    else:
        mapping = F.create_map(
            *[F.lit(x) for kv in sorted(offsets.items()) for x in kv]
        )
        offset_col = F.coalesce(mapping[F.col("_pid")], F.lit(start))
    out = (
        ranged.withColumn("_rn", F.row_number().over(w))
        .withColumn(out_col, (F.col("_rn") - 1 + offset_col).cast("long"))
        .drop("_pid", "_rn")
    )
    return out, acc


def _anti_seen(cands: DataFrame, seen: DataFrame, probe: str) -> DataFrame:
    """Rows of ``cands`` whose seen_key is NOT in ``seen`` (exact).

    probe="broadcast": seen is streamed through a broadcast-hash
    left_semi against the candidate keys (duplicate-key extraction), then
    the (small) duplicate-key set broadcasts into a left_anti — the seen
    side never shuffles or sorts. probe="merge": plain left_anti.
    ``cands`` must be materialized by the caller in broadcast mode (it
    is referenced twice)."""
    if probe == "broadcast":
        dup_keys = seen.select("seen_key").join(
            F.broadcast(cands.select("seen_key")), "seen_key", "left_semi"
        )
        return cands.join(F.broadcast(dup_keys), "seen_key", "left_anti")
    return cands.join(seen.select("seen_key"), "seen_key", "left_anti")


@dataclass
class DedupResult:
    fresh: DataFrame  # new frontier rows (url, host, url_key, seen_key, disc_order, priority)
    pushed_end: int  # global push counter after this round
    n_new: int  # unique candidates not yet seen
    n_kept: int  # after budget cut
    limit_reached: bool


def dedup_candidates(
    cands: DataFrame,
    seen: Optional[DataFrame],
    pushed: int,
    limit: int,
    limit_reached: bool,
    bucket_col: Column,
    handles: list,
    bloom: Optional[tuple] = None,
    n_attempts: Optional[int] = None,
    seen_probe: str = "merge",
    attempts_max: Optional[tuple] = None,
) -> DedupResult:
    """Apply push semantics to this round's accepted candidates.

    ``cands`` columns: url, host, url_key, seen_key, parent_disc,
    link_index, priority. ``seen``: DataFrame with seen_key (or None).
    ``pushed``: successful pushes so far (== next disc_order).
    ``bloom``: optional (spark, bucket→bitmap dict, BloomConfig) — splits
    candidates so only possibly-seen rows pay the seen-set membership
    test; bloom-negative rows are provably new (exactness preserved).
    The engine passes it only with ``seen_probe="merge"``.
    ``n_attempts``: the push-attempt count (rows of ``cands``); only
    the limit state machine reads it, so it is required when
    ``limit > 0``. The engine takes it from an agg it already runs.
    ``bucket_col``: monotone integer bucket expression over the order
    key (parent_disc, link_index) for the dense index (see
    with_dense_order); ``F.lit(0)`` when there are no bounds.
    ``handles``: the caller's list of round caches; each checkpoint and
    broadcast is appended to it as soon as it exists, so the caller
    frees them with ``release`` even when this function raises.
    ``attempts_max``: max (parent_disc, link_index) over ALL attempts,
    required when ``limit > 0`` and ``n_attempts > 0``: the
    limit-boundary trailing-attempt check is a scalar comparison of it
    against the deduped set's max key (which rides the dense-order
    counts job).
    ``seen_probe``: how the cross-round membership test executes:
      - "merge": plain ``left_anti`` (sort-merge / AQE choice) — both
        sides shuffle; the safe default at unbounded per-round volumes.
      - "broadcast": two-sided broadcast probe — ``seen`` is only ever
        STREAMED (a broadcast-hash left_semi against the round's candidate
        keys extracts the duplicate keys, then a broadcast left_anti
        removes them) — zero exchange and zero sort of the seen side.
        Exact (set algebra identical to "merge"); requires the round's
        candidate-key set to fit in a broadcast (bounded per-round
        frontier growth — the engine's politeness budgets bound it).
        The Bloom prefilter pairs with "merge" only: here the seen side
        is already streamed once with no shuffle for it to save.
    """
    if limit > 0 and n_attempts == 0:
        return DedupResult(None, pushed, 0, 0, limit_reached)

    order_key = [F.col("parent_disc"), F.col("link_index")]

    level = StorageLevel.MEMORY_AND_DISK_DESER
    # within-round first-wins (the first URL variant for a key is enqueued)
    w = Window.partitionBy("seen_key").orderBy(*order_key)
    first = (
        cands.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )

    # cross-round dedup — exactness source of truth
    if seen is not None:
        if bloom is not None:
            from .bloom import flag_candidates

            spark, bdict, bcfg = bloom
            flagged = flag_candidates(
                spark, first, "seen_key", bdict, bcfg, handles=handles
            ).localCheckpoint(eager=True, storageLevel=level)
            handles.append(flagged)
            maybe = flagged.filter(F.col("_maybe")).drop("_maybe")
            definite = flagged.filter(~F.col("_maybe")).drop("_maybe")
            new = _anti_seen(maybe, seen, seen_probe).unionByName(definite)
        else:
            if seen_probe == "broadcast":
                # the probe reads it twice
                first = first.localCheckpoint(eager=True, storageLevel=level)
                handles.append(first)
            new = _anti_seen(first, seen, seen_probe)
    else:
        new = first
    # Materialize the deduped set ONCE, as a local checkpoint: the
    # dense-order counts job and the indexed rows' later reads (the
    # frontier and seen appends) scan the small checkpointed set, and
    # their plans start from its LogicalRDD leaf instead of carrying the
    # explode→resolve→window→anti-join chain. n_new falls out of the
    # dense-order per-bucket counts (no dedicated count job).
    new = new.localCheckpoint(eager=True, storageLevel=level)
    handles.append(new)
    _new_max_out: list = []
    new, n_new = with_dense_order(
        new, order_key, "_idx", bucket_col, order_max_out=_new_max_out,
    )

    # budget: pushes succeed while done <= limit ⇒ room = limit+1-pushed
    if limit > 0:
        room = max(limit + 1 - pushed, 0)
    else:
        room = None

    if room is not None and n_new > room:
        kept = new.filter(F.col("_idx") < room)
        n_kept = room
        limit_hit = True
    else:
        kept = new
        n_kept = n_new
        # a push attempt beyond the budget (even a duplicate) trips the
        # worker stop flag; detect trailing attempts past the last slot
        limit_hit = False
        if room is not None and n_new == room and room >= 0:
            if n_attempts > n_new:
                # were any attempts ordered after the budget-exhausting
                # push? kept == new here (n_new == room), so the last kept
                # key is the deduped set's max order key, collected inside
                # the dense-order counts job
                limit_hit = (
                    room == 0 or tuple(attempts_max) > _new_max_out[0]
                )
        elif room is not None and room == 0 and n_attempts > 0:
            limit_hit = True

    fresh = kept.withColumn(
        "disc_order", (F.col("_idx") + F.lit(pushed)).cast("long")
    ).select("url", "host", "url_key", "seen_key", "disc_order", "priority")

    return DedupResult(
        fresh=fresh,
        pushed_end=pushed + n_kept,
        n_new=n_new,
        n_kept=n_kept,
        limit_reached=limit_reached or limit_hit,
    )
