"""Frontier dedup / ordering / budget (Q1) — the set algebra that replaces
the reference's mutex-guarded in-memory seen map (queue.go:54-84).

Scale design:
- Within-round first-wins dedup: window ``row_number() == 1`` over the seen
  key ordered by (parent_disc, link_index) — deterministic, unlike
  dropDuplicates (SURVEY.md Q1).
- Cross-round dedup: ``left_anti`` join against the append-only seen table;
  Spark's runtime Bloom filter assists, and crawlspark.bloom provides the
  explicit partitioned prefilter for the merge probe at 10^10-key scale.
  Exactness always comes from the anti-join.
- Global FIFO numbering: a *distributed* dense index — range-repartition on
  the order key, per-partition row_number, plus broadcast cumulative
  offsets. No single-partition window, no driver collect of data rows
  (only one count per partition reaches the driver).
- limit+1 budget: ``done > limit`` is checked before increment in the
  reference (queue.go:64-67) ⇒ exactly limit+1 pushes succeed; dedup
  happens after the limit check, so any push *attempt* past the budget —
  duplicate or not — sets the worker's stop flag (crawler.go:244-246).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional, Tuple

from pyspark import Broadcast
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# dense-order partition offsets: above this partition count the offsets
# ship as a broadcast-joined DataFrame instead of a create_map literal
# (a 10^5-entry literal in every round's plan bloats compile time)
_OFFSETS_LITERAL_MAX = 256


def with_dense_order(
    df: DataFrame,
    order_cols: list,
    out_col: str,
    start: int = 0,
    num_partitions: Optional[int] = None,
    handles: Optional[list] = None,
    bucket_col: Optional[Column] = None,
    order_max_out: Optional[list] = None,
) -> Tuple[DataFrame, int]:
    """Assign a dense 0-based global index in ``order_cols`` order, fully
    distributed: order-bucket → per-bucket row_number + cumulative bucket
    offsets (computed from per-bucket counts; only #buckets scalars hit
    the driver). Returns (df_with_index, end_index).

    ``bucket_col`` — the scale path: an integer expression that is
    MONOTONE w.r.t. the lexicographic ``order_cols`` order (every row in
    bucket b sorts before every row in bucket b+1), e.g.
    ``floor((parent_disc - lo) * P / span)`` with driver-known bounds.
    Buckets replace physical range partitioning entirely: the window
    hash-exchanges on the bucket value and the global index is
    offset[bucket] + per-bucket row_number, so NO range sampling pass
    runs (repartitionByRange samples its input — a full extra
    materialization of the upstream chain every round) and correctness
    is independent of physical placement. Bucket skew costs parallelism,
    never exactness.

    Without ``bucket_col`` (unknown bounds), falls back to
    repartitionByRange + spark_partition_id; the input is persisted
    internally (two actions share the range exchange)."""
    if num_partitions is None:
        num_partitions = max(df.sparkSession.sparkContext.defaultParallelism, 1)
    if bucket_col is not None:
        ranged = df.withColumn("_pid", bucket_col.cast("int"))
    else:
        ranged = (
            df.repartitionByRange(num_partitions, *order_cols)
            .withColumn("_pid", F.spark_partition_id())
            .persist()
        )
        if handles is not None:
            handles.append(ranged)
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
    elif len(offsets) <= _OFFSETS_LITERAL_MAX:
        mapping = F.create_map(
            *[F.lit(x) for kv in sorted(offsets.items()) for x in kv]
        )
        offset_col = F.coalesce(mapping[F.col("_pid")], F.lit(start))
    else:
        # cluster scale (10^4-10^5 shuffle partitions): a create_map
        # literal with one entry per partition bloats every round's plan
        # (compile time + driver heap). Ship the offsets as a tiny
        # broadcast-joined DataFrame instead — same values, O(1) plan.
        off_df = df.sparkSession.createDataFrame(
            sorted(offsets.items()), "_pid int, _poffset long"
        )
        out = (
            ranged.join(F.broadcast(off_df), "_pid", "left")
            .withColumn("_rn", F.row_number().over(w))
            .withColumn(
                out_col,
                (
                    F.col("_rn") - 1
                    + F.coalesce(F.col("_poffset"), F.lit(start))
                ).cast("long"),
            )
            .drop("_pid", "_rn", "_poffset")
        )
        return out, acc
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
    ``cands`` must be persisted by the caller in broadcast mode (it is
    referenced twice)."""
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
    n_attempts: int
    n_after_first_wins: int
    n_new: int  # unique candidates not yet seen
    n_kept: int  # after budget cut
    limit_reached: bool
    # persisted DataFrames and broadcasts for the caller to release
    handles: tuple = ()

    def unpersist(self):
        for h in self.handles:
            try:
                if isinstance(h, Broadcast):
                    h.destroy()
                else:
                    h.unpersist()
            except Exception:
                pass


def dedup_candidates(
    cands: DataFrame,
    seen: Optional[DataFrame],
    pushed: int,
    limit: int,
    limit_reached: bool,
    num_partitions: Optional[int] = None,
    bloom: Optional[tuple] = None,
    n_attempts: Optional[int] = None,
    seen_probe: str = "merge",
    order_bucket: Optional[Column] = None,
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
    ``n_attempts``: push-attempt count when the caller already knows it
    (fused into the engine's round agg) — avoids a dedicated count job.
    ``order_bucket``: optional monotone integer bucket expression over the
    order key (see with_dense_order) — enables the sampling-free dense
    index when the caller knows the order-key bounds.
    ``attempts_max``: max (parent_disc, link_index) over ALL attempts —
    when the caller already has it (fused into the engine's round agg),
    the limit-boundary trailing-attempt check becomes a pure scalar
    comparison against the deduped set's max key (which rides the
    dense-order counts job) instead of two extra jobs.
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
    handles = []
    if limit > 0 and n_attempts is None:
        # attempt counting is only consulted by the limit state machine;
        # skip the extra job entirely in the unlimited case
        cands = cands.persist()
        handles.append(cands)
        n_attempts = cands.count()
    if n_attempts is None:
        n_attempts = -1  # unknown, not needed (limit == 0)
    if limit > 0 and n_attempts == 0:
        for h in handles:
            h.unpersist()
        return DedupResult(None, pushed, 0, 0, 0, 0, limit_reached)

    order_key = [F.col("parent_disc"), F.col("link_index")]

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
            ).persist()
            handles.append(flagged)
            maybe = flagged.filter(F.col("_maybe")).drop("_maybe")
            definite = flagged.filter(~F.col("_maybe")).drop("_maybe")
            new = _anti_seen(maybe, seen, seen_probe).unionByName(definite)
        else:
            if seen_probe == "broadcast":
                first = first.persist()
                handles.append(first)
            new = _anti_seen(first, seen, seen_probe)
    else:
        new = first
    # Materialize the deduped set ONCE before dense ordering: the range
    # partitioner samples its input to pick bounds, so an uncached input
    # would re-run the whole explode→resolve→window→anti-join chain three
    # times (sample, exchange, counts). With the cache, sampling and the
    # exchange read a small cached set. n_new falls out of the dense-order
    # per-partition counts (no dedicated count job).
    new = new.persist()
    handles.append(new)
    _new_max_out: list = []
    new, n_new = with_dense_order(
        new, order_key, "_idx", start=0, num_partitions=num_partitions,
        handles=handles, bucket_col=order_bucket,
        order_max_out=_new_max_out,
    )
    n_after_first_wins = n_new  # (first-wins count only needed for lineage)

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
                # were any attempts ordered after the budget-exhausting push?
                if room == 0:
                    limit_hit = n_attempts > 0
                elif attempts_max is not None and _new_max_out:
                    # scalar path: kept == new here (n_new == room), so the
                    # last kept key is the deduped set's max order key —
                    # already collected inside the dense-order counts job.
                    # A trailing attempt exists iff some attempt orders
                    # strictly after it.
                    limit_hit = tuple(attempts_max) > _new_max_out[0]
                else:
                    last = (
                        kept.orderBy(F.col("_idx").desc())
                        .select("parent_disc", "link_index")
                        .limit(1)
                        .collect()
                    )
                    if last:
                        ld, li = last[0]["parent_disc"], last[0]["link_index"]
                        trailing = cands.filter(
                            (F.col("parent_disc") > ld)
                            | (
                                (F.col("parent_disc") == ld)
                                & (F.col("link_index") > li)
                            )
                        ).count()
                        limit_hit = trailing > 0
        elif room is not None and room == 0 and n_attempts > 0:
            limit_hit = True

    fresh = kept.withColumn(
        "disc_order", (F.col("_idx") + F.lit(pushed)).cast("long")
    ).select("url", "host", "url_key", "seen_key", "disc_order", "priority")

    return DedupResult(
        fresh=fresh,
        pushed_end=pushed + n_kept,
        n_attempts=n_attempts,
        n_after_first_wins=n_after_first_wins,
        n_new=n_new,
        n_kept=n_kept,
        limit_reached=limit_reached or limit_hit,
        handles=tuple(handles),
    )
