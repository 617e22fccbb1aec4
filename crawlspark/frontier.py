"""Frontier dedup / ordering / budget (Q1) — the set algebra that replaces
the reference's mutex-guarded in-memory seen map (queue.go:54-84).

Scale design:
- Within-round first-wins dedup: window ``row_number() == 1`` over the seen
  key ordered by (parent_disc, link_index) — deterministic, unlike
  dropDuplicates (SURVEY.md Q1).
- Cross-round dedup: ``left_anti`` join against the append-only seen table.
  Spark's runtime Bloom filter does not fire: no executed dedup plan of a
  crawl of crawlbench's ``wide`` web holds ``might_contain`` or
  ``BloomFilterAggregate`` (seen is far below its 10 GiB threshold). The
  explicit crawlspark.bloom prefilter runs only with the merge probe,
  where it measured slower in 21 of 21 CPU pairs (BENCH/BLOOM_GATE.md).
  Exactness always comes from the anti-join.
- Global FIFO numbering: a *distributed* dense index — a monotone bucket
  computed from driver-known order-key bounds (``order_bucket``),
  per-bucket row_number, plus cumulative bucket offsets shipped as a map
  literal of at most ``P`` entries. No range sampling, no
  single-partition window, no driver collect of data rows: the
  per-bucket counts are observed on the deduped set's checkpoint, so
  they cost no job of their own.
- Materialization: the deduped set (and the first-wins rows the
  broadcast probe or the Bloom split reads twice) is an eager local
  checkpoint (``checkpoint``), not a persist. Every later plan (the
  dense order, the frontier and seen appends) starts from its
  ``LogicalRDD`` leaf, so no plan carries the round's lineage. Each
  checkpoint goes into the caller's handle list the moment it exists,
  and ``release`` frees them: ``DataFrame.unpersist`` does not.
- limit+1 budget: ``done > limit`` is checked before increment in the
  reference (queue.go:64-67) ⇒ exactly limit+1 pushes succeed; dedup
  happens after the limit check, so any push *attempt* past the budget —
  duplicate or not — sets the worker's stop flag (crawler.go:244-246).
"""

from __future__ import annotations

import logging
from dataclasses import dataclass
from typing import Optional, Sequence, Tuple

from pyspark import Broadcast, StorageLevel
from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

log = logging.getLogger(__name__)


def checkpoint(df: DataFrame, level, handles: list, *aggs: Column):
    """``df`` as an eager local checkpoint at storage ``level``, appended
    to ``handles``, and the row observed on the job that materializes it
    (a dict: its row count ``rows`` and ``aggs`` by alias), so the
    driver gets those scalars with no job of their own. The observation
    is read only once the checkpoint exists: a failed action leaves it
    unset, and reading an unset one blocks."""
    obs = Observation()
    df = df.observe(obs, F.count("*").alias("rows"), *aggs).localCheckpoint(
        eager=True, storageLevel=level
    )
    handles.append(df)
    return df, obs.get


def release(handles) -> None:
    """Free every cache in ``handles``: destroy a broadcast, unpersist a
    persisted frame, and free the blocks of a local checkpoint
    (``DataFrame.unpersist`` does nothing on one: its blocks belong to
    the RDD under its ``LogicalRDD`` plan). A handle that fails to free
    is logged and the rest are still freed, so cleanup never replaces
    the exception that made the caller clean up."""
    for h in handles:
        try:
            if isinstance(h, Broadcast):
                h.destroy()
            elif h.is_cached:
                h.unpersist()
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


def bucket_counts(bucket_col: Column, buckets: int) -> Column:
    """The row count of each dense-order bucket ``0 … buckets - 1``, as
    one array aggregate: what ``with_dense_order`` takes as ``counts``,
    from an ``agg`` or an ``observe``."""
    return F.array(
        *[F.count(F.when(bucket_col == b, 1)) for b in range(buckets)]
    )


def with_dense_order(
    df: DataFrame,
    order_cols: list,
    out_col: str,
    bucket_col: Column,
    counts: Sequence[int],
    start: int = 0,
) -> Tuple[DataFrame, int]:
    """Assign a dense global index, starting at ``start``, in
    ``order_cols`` order, fully distributed: per-bucket row_number +
    cumulative bucket offsets. ``counts`` holds the row count of each
    bucket (``bucket_counts``), so no job runs here. Returns
    (df_with_index, end_index).

    ``bucket_col`` is an integer expression that is MONOTONE w.r.t. the
    lexicographic ``order_cols`` order (every row in bucket b sorts
    before every row in bucket b+1), e.g. ``order_bucket`` over
    driver-known bounds. The window hash-exchanges on the bucket value,
    so no range sampling pass runs and correctness is independent of
    physical placement. Bucket skew costs parallelism, never exactness.
    The offsets ship as a map literal with one entry per non-empty
    bucket, so ``bucket_col`` should take few distinct values (the
    engine clamps it to ``[0, P-1]``)."""
    offsets = {}
    acc = start
    for pid, n in enumerate(counts):
        if n:
            offsets[pid] = acc
            acc += n
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
        df.withColumn("_pid", bucket_col.cast("int"))
        .withColumn("_rn", F.row_number().over(w))
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
    buckets: int,
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
    ``limit > 0``. The engine observes it on the checkpoint that
    materializes ``cands``.
    ``bucket_col``: monotone integer bucket expression over the order
    key (parent_disc, link_index) for the dense index (see
    with_dense_order), with values in ``[0, buckets - 1]``;
    ``F.lit(0)`` when there are no bounds.
    ``handles``: the caller's list of round caches; each checkpoint and
    broadcast is appended to it as soon as it exists, so the caller
    frees them with ``release`` even when this function raises.
    ``attempts_max``: max (parent_disc, link_index) over ALL attempts,
    required when ``limit > 0`` and ``n_attempts > 0``: the
    limit-boundary trailing-attempt check is a scalar comparison of it
    against the deduped set's max key (observed, with the per-bucket
    counts, on the checkpoint of the deduped set).
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
            flagged, _ = checkpoint(flag_candidates(
                spark, first, "seen_key", bdict, bcfg, handles=handles
            ), level, handles)
            maybe = flagged.filter(F.col("_maybe")).drop("_maybe")
            definite = flagged.filter(~F.col("_maybe")).drop("_maybe")
            new = _anti_seen(maybe, seen, seen_probe).unionByName(definite)
        else:
            if seen_probe == "broadcast":
                # the probe reads it twice
                first, _ = checkpoint(first, level, handles)
            new = _anti_seen(first, seen, seen_probe)
    else:
        new = first
    # Materialize the deduped set ONCE, as a local checkpoint: the
    # indexed rows' later reads (the frontier and seen appends) scan the
    # small checkpointed set, and their plans start from its LogicalRDD
    # leaf instead of carrying the explode→resolve→window→anti-join
    # chain. Its job also observes the per-bucket counts (n_new is their
    # sum) and the max order key: no job of their own.
    new, obs = checkpoint(
        new, level, handles,
        bucket_counts(bucket_col, buckets).alias("counts"),
        F.max(F.struct(*order_key)).alias("mx"),
    )
    new, n_new = with_dense_order(
        new, order_key, "_idx", bucket_col, obs["counts"]
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
                # key is the deduped set's max order key
                limit_hit = (
                    room == 0 or tuple(attempts_max) > tuple(obs["mx"])
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
