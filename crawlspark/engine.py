"""The crawl engine: an iterative-DataFrame-jobs realization of the
reference's queue/dispatch/worker lifecycle (Q2/Q7, crawler.go:275-367,
queue.go:102-143) — north rule: round-based batch, checkpointed and
resumable, deterministic at any parallelism.

Round r (SURVEY.md §3 lifecycle):

    frontier_r (parquet snapshot)
      → politeness schedule: two-phase per-host top-k          [Q5]
      → uniform salted repartition for the fetch stage         [Q4]
      → robots broadcast gate (denied = counted failures)      [F5]
      → guards + resolver join against pages                   [F3,F4,SRC3,F6]
      → one mapInArrow: parse + links + spans                 [P1-P4]
      → documents / order / metrics appends                    [SNK1,SNK2]
      → link resolve (pandas UDF) → native accept filter       [U1,F1]
      → first-wins window → anti-join seen → budget            [Q1]
      → frontier_{r+1} = carryover ∪ fresh (snapshot write)
    terminate when the frontier is empty (≙ TTL fixpoint, Q2) or the
    round cap is hit. Every table append is keyed by round ⇒ resumable
    from any round boundary; a torn round overwrites itself on retry.

Determinism: every ordering is an explicit sort on
(parent disc_order, link_index) — the canonical single-worker FIFO order —
so two runs (or two parallelism levels) produce byte-identical crawl
order, seen set, and span documents. Verified against crawlspark.oracle.
"""

from __future__ import annotations

import logging
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Optional, Sequence

import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from . import canon
from .fetch import resolve_fetch
from .frontier import DedupResult, dedup_candidates
from .parse import parse_stage
from .robots import apply_robots
from .schedule import schedule_round, spread_for_fetch
from .schemas import SEEDS
from .storage import CheckpointStore

log = logging.getLogger(__name__)


def _parallel_jobs(*thunks) -> list:
    """Run independent Spark actions concurrently from driver threads.

    Each round's tail is a set of INDEPENDENT sink jobs (order append,
    seen append, fresh-key bitmaps, frontier snapshot)
    that all read already-cached inputs; running them sequentially adds
    their fixed job-submission + commit latencies to every round's
    critical path — a driver-serial term that does not shrink with
    executors (the Amdahl denominator of the N→4N scaling gate). Driver
    threads submit them as concurrent jobs instead; the scheduler
    interleaves their (small) task sets across free slots. Results are
    returned in thunk order; the first exception propagates."""
    if len(thunks) <= 1:
        return [t() for t in thunks]
    with ThreadPoolExecutor(max_workers=len(thunks)) as ex:
        futs = [ex.submit(t) for t in thunks]
        return [f.result() for f in futs]


def _release_checkpoint(df: Optional[DataFrame]) -> None:
    """Free the blocks of a lazy ``localCheckpoint`` (the in-memory
    frontier handoff). ``DataFrame.unpersist`` does nothing on one: the
    blocks belong to the RDD under its ``LogicalRDD`` plan."""
    if df is not None:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)


@dataclass
class CrawlConfig:
    checkpoint_dir: str
    host: str = ""  # single-host mode (reference-exact)
    multi_host: bool = False
    hosts: Optional[Sequence[str]] = None  # allowed hosts (multi mode)
    limit: int = 0  # MaxEnqueue; exactly limit+1 pushes succeed
    reject: Sequence[str] = field(default_factory=tuple)
    accept: Sequence[str] = field(default_factory=tuple)
    host_budget: int = 0  # per-host per-round politeness budget
    priority_order: bool = False
    max_rounds: int = 0
    num_partitions: Optional[int] = None
    broadcast_pages: bool = True  # pages table small enough to broadcast
    # Bloom prefilter (crawlspark.bloom): exactness-safe anti-join bypass,
    # used only in rounds that take the merge seen probe (the broadcast
    # probe already streams seen once against the round's bounded keys)
    use_bloom: bool = False
    bloom_buckets: int = 16
    bloom_bits: int = 1 << 20  # 128 KiB per bucket (sandbox-sized default)
    # Seen-set membership strategy (frontier._anti_seen): "broadcast"
    # streams the seen table with zero exchange/sort (exact; requires the
    # per-round candidate-key set to be broadcastable); "merge" is the
    # plain anti-join for unbounded rounds. Default "auto" picks PER
    # ROUND from the fused agg's already-collected candidate count: the
    # broadcast probe is used only while the round's candidate-key set
    # fits the byte budget below, else the round falls back to merge.
    # Nothing else bounds the round (the default config has
    # host_budget=0 — unbounded), so an unguarded broadcast default
    # would be a driver-OOM/job-killer at 100x (VERDICT r2 §wrong #1);
    # the reference's analogue is queue backpressure (queue.go:43-44).
    seen_probe: str = "auto"
    # auto-mode byte budget for the broadcast probe; candidate-set size
    # is estimated as accepted_count × broadcast_probe_key_bytes (url_key
    # strings plus hash-relation overhead)
    broadcast_probe_max_bytes: int = 64 << 20
    broadcast_probe_key_bytes: int = 128
    # Robots crawl-delay → per-host politeness budgets (README.md:9-10):
    # when round_wall_secs > 0, a host with a robots crawl-delay d gets a
    # per-round budget of ceil(round_wall_secs / d); hosts WITHOUT a
    # crawl-delay rule use the default delay (crawler.go:110-113 — the
    # configured delay applies only "if there is not robots.txt crawl
    # delay"). host_budget, when set, still acts as the fallback cap.
    round_wall_secs: float = 0.0
    default_delay_secs: float = 3.0  # reference DefaultDelay, crawler.go:22
    # User-hook seams (the reference's pluggable callables, lifted into
    # the pandas stages — cloudpickled to executors):
    #   accept_fn(url_str) -> bool  REPLACES the default accept filter F1
    #     (IsAcceptedFunc, crawler.go:96-97); pre-fetch host guards (F3)
    #     still apply, exactly as in the reference.
    #   process_fn(url_str, spans: list[dict]) -> list[dict]  span
    #     post-hook before the documents write (ProcessFunc,
    #     crawler.go:99-100).
    #   remove_fn(ch) -> bool  rune-removal pre-pass ahead of whitespace
    #     normalization (transform.RemoveFunc, transform/transform.go:46).
    accept_fn: Optional[object] = None
    process_fn: Optional[object] = None
    remove_fn: Optional[object] = None
    # Seen-table compaction cadence: when >= fanin seen batch dirs exist,
    # merge them into one single-file dir (storage.compact) so a long
    # crawl's per-round seen scan reads O(fanin) batch dirs instead of
    # O(rounds). 0 disables.
    seen_compact_fanin: int = 16

    def __post_init__(self):
        # accept/reject regexes are evaluated under THREE dialects
        # (Python re in oracle/pandas, Java rlike natively, Go RE2 in the
        # reference) — reject dialect-divergent constructs up front
        from .purl import validate_pattern

        for pat in list(self.reject) + list(self.accept):
            validate_pattern(pat)


@dataclass
class CrawlResult:
    store: CheckpointStore
    rounds: int
    pushed: int
    limit_reached: bool

    def order_df(self) -> DataFrame:
        return self.store.read("order")

    def seen_df(self) -> DataFrame:
        return self.store.read("seen")

    def documents_df(self) -> DataFrame:
        return self.store.read("documents")

    def metrics_df(self) -> DataFrame:
        return self.store.read("metrics")

    def lineage_df(self) -> DataFrame:
        return self.store.read("lineage")


@dataclass
class _RoundCommit:
    """What round ``r``'s background commit writes and releases."""

    r: int
    state: dict  # _state.json once every sink below is durable
    metrics: tuple  # (scheduled, fetched_ok, new_urls)
    lineage: Optional[list]  # (reason, n) rows; None in a drain round
    fresh: Optional[DataFrame]  # kept fresh keys, appended to seen
    bloom: bool  # roll the fresh keys into the bloom bitmaps
    next_frontier: Optional[DataFrame]  # snapshot as frontier batch r+1
    order_append: Future  # running since the documents write
    handles: list  # round caches to unpersist
    dedup: Optional[DedupResult]
    prev_frontier: Optional[DataFrame]  # the handoff round r consumed


class Crawler:
    def __init__(
        self,
        spark: SparkSession,
        pages: DataFrame,
        config: CrawlConfig,
        robots_rules: Optional[DataFrame] = None,
    ):
        self.spark = spark
        self.cfg = config
        self.P = config.num_partitions or spark.sparkContext.defaultParallelism
        if config.broadcast_pages:
            self.pages = pages
        else:
            # co-locate the web table by the fetch-join key ONCE (the
            # in-sandbox analogue of bucketing the pages/Iceberg table):
            # every round's resolver join then reads this cached layout
            # with no exchange and no sort on the big side.
            # DISK_ONLY, deliberately: the web table (HTML bodies — by far
            # the largest state in the job) must never be RESIDENT in
            # executor heap. A heap-resident web cache is (1) impossible at
            # 100 TB and (2) measurably toxic in-sandbox: it inflates G1
            # mixed-collection copying cost for the whole job and evicts
            # the per-round caches that are actually hot (parsed,
            # cands_raw), causing recompute storms. The disk store lands on
            # spark.local.dir (tmpfs in the bench = OS page cache, zero
            # GC); the cached partitioning still avoids the per-round
            # exchange+sort on the big side.
            self.pages = pages.repartition(self.P, "host", "url_key").persist(
                StorageLevel.DISK_ONLY
            )
        self.robots = robots_rules
        # compile the (broadcast-small) rule set once so the per-round
        # gate is a narrow literal-map projection — no join, no window
        # shuffle (falls back to the broadcast-join path when the rule
        # set exceeds the compile cutoff)
        from .robots import compile_robots

        self._robots_compiled = compile_robots(robots_rules)
        self.store = CheckpointStore(spark, config.checkpoint_dir)
        self.udfs = canon.register_udfs()
        if config.multi_host:
            if config.hosts is not None:
                # dedupe user-supplied hosts: the accept join is a plain
                # left join (lineage needs the unmatched rows), so a
                # duplicate host entry would duplicate candidate rows and
                # inflate lineage counts (ADVICE r2)
                self._hosts_df = spark.createDataFrame(
                    [(h,) for h in dict.fromkeys(config.hosts)],
                    "host string",
                )
            else:
                # default discovery stays a DataFrame end-to-end: no
                # driver collect of the host universe (10^6+ hosts at web
                # scale would be a plan/driver killer); the broadcast
                # exchanges downstream materialize it executor-side
                self._hosts_df = pages.select("host").distinct().persist()
        else:
            self._hosts_df = None
        # per-round seen-probe decisions ("broadcast"/"merge"), appended
        # by run() — observability for the auto guard (and its tests)
        self.probe_choices: list = []
        # driver-only bloom bitmaps (bucket -> np.uint64 words) for merge
        # rounds: built from the seen table by the first merge round of a
        # run(), rolled forward by later ones, dropped by any other round
        # (see _bloom_probe) — never checkpointed, seen is the exact source
        self._bloom_dict = None
        # pipelined round commit (see run()): the pending commit future
        # and its round, and the in-memory next-frontier handoff (a lazy
        # localCheckpoint the commit of the round consuming it releases)
        self._pending_commit = None
        self._pending_round = None
        self._commit_pool = None
        self._frontier_handle = None
        # robots crawl-delay → per-host budgets (broadcast policy state)
        self._host_budgets = None
        self._default_budget = 0
        if config.round_wall_secs > 0:
            import math as _math

            from .robots import robots_budgets

            self._default_budget = _math.ceil(
                config.round_wall_secs / config.default_delay_secs
            )
            if robots_rules is not None:
                self._host_budgets = robots_budgets(
                    robots_rules, config.round_wall_secs,
                    config.default_delay_secs,
                )

    def _append_seen(self, fresh: DataFrame, batch: int) -> None:
        """Append fresh keys to the seen table as ``(url_key,
        first_round)``, one file per non-empty partition of ``fresh``
        (no shuffle). Rounds read seen whole, so a finer layout would
        buy no pruning."""
        self.store.append("seen", fresh.select(
            F.col("seen_key").alias("url_key"),
            F.lit(batch).alias("first_round"),
        ), batch)

    # -- driver-side sinks ---------------------------------------------
    # metrics/lineage carry O(bytes) per round but each Spark write
    # is a full job (plan+submit+commit, ~0.5-2 s) on the round's critical
    # path — a level-independent serial term of the N→4N scaling gate.
    # The driver already holds every value; write them driver-side into
    # the identical batch layout (storage.append_local).

    def _append_metrics_local(self, r, n_sched, n_ok, n_kept) -> None:
        import pyarrow as pa

        schema = pa.schema([
            ("round", pa.int32()), ("scheduled", pa.int64()),
            ("fetched_ok", pa.int64()), ("failed", pa.int64()),
            ("new_urls", pa.int64()),
        ])
        self.store.append_local(
            "metrics",
            {"round": [r], "scheduled": [n_sched], "fetched_ok": [n_ok],
             "failed": [n_sched - n_ok], "new_urls": [n_kept]},
            schema, r,
        )

    def _append_lineage_local(self, r, reasons) -> None:
        import pyarrow as pa

        schema = pa.schema([
            ("round", pa.int32()), ("reason", pa.string()),
            ("n", pa.int64()),
        ])
        self.store.append_local(
            "lineage",
            {"round": [r] * len(reasons),
             "reason": [x[0] for x in reasons],
             "n": [int(x[1]) for x in reasons]},
            schema, r,
        )

    # -- bloom (driver-only bitmaps, merge rounds only) -----------------
    def _bloom_cfg(self):
        from . import bloom as bloom_mod

        return bloom_mod.BloomConfig(
            buckets=self.cfg.bloom_buckets,
            bits_per_bucket=self.cfg.bloom_bits,
        )

    def _bloom_probe(self) -> Optional[tuple]:
        """The ``bloom`` argument of a merge round's dedup, or None when
        the bitmaps would exceed ``broadcast_max_bytes`` (the round then
        runs the plain anti-join). The first merge round of a run()
        builds the bitmaps from the full seen table (one job); later
        merge rounds find them rolled forward by the previous commit."""
        bcfg = self._bloom_cfg()
        if bcfg.total_bytes > bcfg.broadcast_max_bytes:
            return None
        if self._bloom_dict is None:
            self._bloom_dict = self._collect_fresh_bitmaps(
                self.store.read("seen").select(
                    F.col("url_key").alias("seen_key")
                )
            )
        return self.spark, self._bloom_dict, bcfg

    def _collect_fresh_bitmaps(self, keys: DataFrame) -> dict:
        """ONE distributed job: per-bucket bitmaps of ``keys.seen_key``
        (≤ buckets × bits/8 bytes reach the driver)."""
        from . import bloom as bloom_mod

        return bloom_mod.to_dict(
            bloom_mod.build_or_update(keys, "seen_key", self._bloom_cfg())
        )

    def _roll_bloom_local(self, fresh_bitmaps: dict) -> None:
        """OR a merge round's fresh-key bitmaps into the driver dict —
        no Spark job, nothing written."""
        import numpy as np

        d = self._bloom_dict
        for b, words in fresh_bitmaps.items():
            d[b] = np.bitwise_or(d[b], words) if b in d else words

    # -- pipelined round commit ----------------------------------------
    def _join_commit(self) -> None:
        """Block until the previous round's commit chain (sinks + state +
        compaction) finishes; propagate its exception if it failed."""
        if self._pending_commit is not None:
            f, self._pending_commit = self._pending_commit, None
            f.result()

    # -- key derivation -------------------------------------------------
    def _seen_key(self):
        if self.cfg.multi_host:
            return F.concat(F.col("host"), F.col("url_key"))
        return F.col("url_key")

    # -- seeding (Start: sitemap entries first, then seeds) -------------
    def _init_frontier(
        self, seeds, sitemap_entries: Optional[DataFrame]
    ) -> tuple[int, bool]:
        """Build the round-0 frontier. ``seeds`` is either a small Python
        sequence of URL strings (reference-style Start call) or a
        DataFrame with (url, seed_order[, priority]) — the scale path: a
        10^8-row seed table never round-trips through the driver.
        Sitemap entries are pushed BEFORE seeds (crawler.go:313-331) —
        since round 4 also as a pure DataFrame union (a 10^7-entry
        sitemap index used to .collect() to the driver): sitemap rows
        keep their entry_order as the push-order key and seeds are
        offset past max(entry_order), so the only driver traffic is one
        scalar agg. entry_order must be distinct (sitemapsrc emits a
        dense 0..n-1) — ties would make the push order nondeterministic."""
        order = 0
        smdf = None
        if sitemap_entries is not None:
            smdf = sitemap_entries.select(
                F.col("loc").alias("url"),
                F.col("entry_order").cast("int").alias("seed_order"),
                F.coalesce(F.col("priority").cast("double"), F.lit(0.0))
                .alias("priority"),
            )
            hi = smdf.agg(F.max("seed_order")).collect()[0][0]
            order = 0 if hi is None else int(hi) + 1
        rows = []
        if isinstance(seeds, DataFrame):
            sdf = seeds
            if "priority" not in sdf.columns:
                sdf = sdf.withColumn("priority", F.lit(0.0))
            sdf = sdf.select(
                "url",
                (F.col("seed_order") + F.lit(order)).cast("int")
                .alias("seed_order"),
                F.col("priority").cast("double"),
            )
            seeds_df = sdf
        else:
            for s in seeds:
                rows.append((s, order, 0.0))
                order += 1
            seeds_df = self.spark.createDataFrame(rows, SEEDS)
        if smdf is not None:
            seeds_df = smdf.unionByName(seeds_df)

        cands = (
            canon.canonize_urls(seeds_df, "url", self.udfs["url_key"])
            .filter(F.col("url_key").isNotNull())
            .withColumn("host", canon.host_col("url"))
            .withColumn("seen_key", self._seen_key())
            .withColumn("parent_disc", F.lit(-1).cast("long"))
            .withColumn("link_index", F.col("seed_order"))
            .select(
                "url", "host", "url_key", "seen_key",
                "parent_disc", "link_index", "priority",
            )
        )
        # seed dense-order buckets on link_index (= seed_order): one cheap
        # count replaces the range-sampling pass over the canonize chain
        if isinstance(seeds, DataFrame) or smdf is not None:
            n_seed = seeds_df.count()
        else:
            n_seed = len(rows)
        order_bucket = None
        if n_seed > 0:
            order_bucket = self._order_bucket(
                F.col("link_index").cast("long"), n_seed
            )
        res = dedup_candidates(
            cands, None, pushed=0, limit=self.cfg.limit,
            limit_reached=False, num_partitions=self.P,
            order_bucket=order_bucket,
        )
        # NOTE: reference seed-push failures are logged, not flag-setting
        # (crawler.go:320-329); the flag only matters for parse-time pushes
        # and with a 0-room budget the first parse push trips it anyway —
        # observably identical, asserted by tests vs the oracle.
        if res.fresh is None:
            return 0, False
        frontier = res.fresh.withColumn("round", F.lit(0))
        # the two seed sinks (frontier snapshot, seen append) both read
        # the dense-order cache the counts job above already materialized
        # — independent jobs, submitted concurrently like the round tail
        # (each was a fixed ~1-2s of job-submission + commit latency on
        # the seed critical path: pure Amdahl S for the N→4N scaling gate)
        _parallel_jobs(
            lambda: self.store.append("frontier", frontier, 0),
            lambda: self._append_seen(res.fresh, 0),
        )
        res.unpersist()
        return res.pushed_end, res.limit_reached

    def _order_bucket(self, offset: Column, span: int) -> Column:
        """Analytic dense-order bucket: ``offset`` (≥ 0, monotone in the
        order key) spread over ``span`` values into P buckets — replaces
        a sampled range partitioning (one full pass less)."""
        return F.greatest(
            F.lit(0),
            F.least(
                F.lit(self.P - 1),
                F.floor(offset * F.lit(self.P) / F.lit(span)),
            ),
        )

    # -- round phases -----------------------------------------------------
    def _fetch_parse(self, r: int, frontier: DataFrame, handles: list):
        """Schedule → robots → fetch → parse, then the documents append
        and the order append. Returns (parsed, carry, order append
        future); the round's caches go into ``handles``."""
        cfg = self.cfg
        scheduled, carry = schedule_round(
            frontier, cfg.host_budget, cfg.priority_order,
            host_budgets=self._host_budgets,
            default_budget=self._default_budget,
        )
        scheduled = spread_for_fetch(
            scheduled.withColumn("round", F.lit(r)), self.P, salt=r
        )
        allowed, denied = apply_robots(
            scheduled, self.robots, self._robots_compiled
        )
        fetched = resolve_fetch(
            allowed,
            self.pages,
            allowed_hosts=self._hosts_df,
            crawl_host=None if cfg.multi_host else cfg.host,
            broadcast_pages=cfg.broadcast_pages,
        )
        # the hooks run inside the Python parse loop: they force the
        # exact tier
        native = cfg.process_fn is None and cfg.remove_fn is None
        if native:
            # the native/exact tier split scans `fetched` twice (two
            # disjoint filters); persist the round batch so the fetch
            # join runs once. DISK_ONLY for the same reason as the
            # pages cache: HTML bodies must never be heap-resident,
            # and spark.local.dir sits on tmpfs in the bench. Cost is
            # bounded by ROUND size, never corpus size. (Measured
            # alternative, rejected: skipping this persist and
            # streaming the join per tier re-runs the probe-side
            # hash build and the routing grammar per tier — paired
            # A/B at local[8]/400k pages: 176.4 s -> 229.5 s.)
            from .parse import mark_dirty

            # routing flag computed INTO the cache: the clean-page
            # grammar runs once per page here; the tier filters in
            # parse_stage read the cached boolean
            fetched = mark_dirty(fetched).persist(StorageLevel.DISK_ONLY)
        parsed = parse_stage(
            fetched,
            process_fn=cfg.process_fn,
            remove_fn=cfg.remove_fn,
            native=native,
        )
        if self.robots is not None:
            denied_rows = denied.select(
                "url", "host", "url_key", "round", "disc_order", "priority",
                F.lit(0).alias("status"),
                F.lit(False).alias("fetched_ok"),
                F.lit(None).cast(parsed.schema["spans"].dataType).alias("spans"),
                F.lit(None).cast(parsed.schema["links"].dataType).alias("links"),
            )
            parsed = parsed.unionByName(denied_rows)
        parsed = parsed.persist()
        handles.append(parsed)
        if native:
            handles.append(fetched)

        # SNK1: documents (Process runs even after the limit flag) —
        # this write is also the job that materializes the parsed
        # cache, so every later consumer (order write, fused agg,
        # candidate pipeline) is a cache read
        self.store.append(
            "documents",
            parsed.filter(F.col("fetched_ok")).select(
                F.col("url").alias("doc_id"), "spans"
            ),
            r,
        )
        # the order append reads the parsed cache only — submit it
        # from its own thread so it overlaps the fused agg (independent
        # sinks; per-round serial latency is the Amdahl term of the
        # scaling gate). The commit joins it.
        order_pool = ThreadPoolExecutor(max_workers=1)
        order_append = order_pool.submit(
            self.store.append,
            "order",
            parsed.select(
                "url", "host", "url_key", "round", "disc_order",
                "priority", "status", "fetched_ok",
            ),
            r,
        )
        order_pool.shutdown(wait=False)
        return parsed, carry, order_append

    def _candidates(self, parsed: DataFrame, handles: list):
        """The round's canonicalized links. Returns (flagged, accepted,
        resolved_ok, accept_expr): every canonized link with what the
        accept filter reads, the accepted rows keyed for dedup, and the
        two predicates the fused agg counts; caches go into
        ``handles``."""
        cfg = self.cfg
        # parent-derived canon columns are computed HERE, before the link
        # explode, so each page's regexes run once instead of once per
        # link (fanout ~19x on the bench graph)
        links = parsed.filter(F.col("fetched_ok")).select(
            F.col("url").alias("parent_url"),
            F.col("disc_order").alias("parent_disc"),
            "priority",
            *canon.parent_cols(F.col("url")),
            F.explode("links").alias("l"),
        ).select(
            "parent_url", "parent_disc", "priority",
            "_pprefix", "_phost", "_parent_ok",
            F.col("l.link_index").alias("link_index"),
            F.col("l.href").alias("href"),
        )
        # canonicalization: JVM-native for the common absolute/
        # root-relative case, exact fused pandas UDF for the rest
        # (canon.py). The persist sits on the ONE-PASS prepared
        # projection, BELOW the fast/slow union: the mask battery
        # and all native value expressions run exactly once per
        # link when the fused agg materializes the cache
        # (the previous union-of-filtered-branches shape
        # re-evaluated the mask towers per branch and per output
        # column — the round-4 event logs showed it as the
        # largest stage of the crawl; the one-pass cached shape
        # measured ~4x faster at 19.35M links). The persist is
        # also the optimizer barrier that keeps filter pushdown
        # from cloning the UDF into a Filter (~3x Python CPU,
        # measured in round 2).
        cands_pre = canon.canonize_links_prepared(links, "href").persist(
            StorageLevel.MEMORY_AND_DISK
        )
        cands_fast, cands_slow = canon.canonize_links_split(
            cands_pre, self.udfs["canonize"]
        )
        # the slow (dirty-href) side is persisted POST-UDF so the
        # exact resolver runs once per dirty link, not once per
        # consumer (the fused agg materializes it; the dedup scan
        # reads both caches) — tiny by the two-tier premise
        cands_slow = cands_slow.persist(StorageLevel.MEMORY_AND_DISK)
        handles += [cands_pre, cands_slow]
        cands_raw = cands_fast.unionByName(cands_slow)

        resolved_ok = F.col("url").isNotNull() & F.col("url_key").isNotNull()
        if cfg.accept_fn is not None:
            # IsAcceptedFunc seam: the user callable REPLACES F1
            # (crawler.go:137-142), evaluated as an Arrow-batched
            # pandas UDF over the cached candidates
            _fn = cfg.accept_fn

            @F.pandas_udf("boolean")
            def _accept_udf(urls: pd.Series) -> pd.Series:
                return urls.map(
                    lambda u: bool(_fn(u)) if u is not None else False
                ).astype(bool)

            flagged = cands_raw
            accept_expr = resolved_ok & _accept_udf(F.col("url"))
        elif cfg.multi_host:
            # membership flag via one broadcast join — shared by
            # the accept filter AND the lineage counts (no per-
            # round collect of the host universe, no isin literal
            # list in the plan)
            flagged = cands_raw.join(
                F.broadcast(self._hosts_df.withColumn("_hin", F.lit(True))),
                "host",
                "left",
            )
            accept_expr = resolved_ok & F.col("_hin").isNotNull()
        else:
            flagged = cands_raw
            accept_expr = resolved_ok & canon.accept_filter_with_host(
                "url", "host", cfg.host, list(cfg.reject), list(cfg.accept),
            )

        accepted = flagged.filter(accept_expr).withColumn(
            "seen_key", self._seen_key()
        ).select(
            "url", "host", "url_key", "seen_key",
            "parent_disc", "link_index", "priority",
        )
        return flagged, accepted, resolved_ok, accept_expr

    @staticmethod
    def _parsed_counts(parsed: DataFrame) -> DataFrame:
        """The scheduled/fetched counts of SNK2 metrics: all a drain
        round aggregates, and the first half of the fused agg."""
        return parsed.agg(
            F.count("*").alias("n"),
            F.sum(F.col("fetched_ok").cast("long")).alias("ok"),
        )

    def _fused_agg(self, r, parsed, flagged, resolved_ok, accept_expr):
        """ONE fused driver-synchronized job per round for every scalar
        the control flow needs: scheduled/fetched counts (SNK2 metrics)
        × Q3 error-taxonomy counts (queue.go:9-21 reasons; 'duplicate'
        covers in-round and cross-round — the reference has a single
        ErrDuplicateURL). parsed is already cached (documents write);
        this job materializes the candidate caches."""
        sc = self.spark.sparkContext
        sc.setJobDescription(f"fused-agg r{r}")
        row = (
            self._parsed_counts(parsed)
            .crossJoin(
                flagged.agg(
                    F.count("*").alias("raw"),
                    F.count(F.when(resolved_ok, 1)).alias("resolved"),
                    F.count(F.when(accept_expr, 1)).alias("accepted"),
                    # accepted parent_disc bounds: drive the
                    # sampling-free dense-order buckets (same
                    # fused job — no extra action)
                    F.min(
                        F.when(accept_expr, F.col("parent_disc"))
                    ).alias("pd_lo"),
                    F.max(
                        F.when(accept_expr, F.col("parent_disc"))
                    ).alias("pd_hi"),
                    # max attempt order key: makes the limit-
                    # boundary trailing-attempt check in
                    # dedup_candidates a pure scalar compare
                    # (no extra jobs on the limit-hit round)
                    F.max(
                        F.when(
                            accept_expr,
                            F.struct("parent_disc", "link_index"),
                        )
                    ).alias("att_max"),
                )
            )
            .collect()[0]
        )
        sc.setJobDescription(None)
        return row

    def _dedup(self, accepted, row, pushed, limit_reached):
        """Seen probe + dedup of the accepted candidates. Returns the
        DedupResult and whether the round probed the bloom bitmaps."""
        cfg = self.cfg
        seen = self.store.read("seen")
        probe = cfg.seen_probe
        if probe == "auto":
            # per-round guard: broadcast only while the candidate
            # key set (bounded above by the accepted count, known
            # from the fused agg — no extra job) fits the byte
            # budget; large rounds take the shuffling merge path
            est = int(row["accepted"]) * cfg.broadcast_probe_key_bytes
            probe = (
                "broadcast" if est < cfg.broadcast_probe_max_bytes else "merge"
            )
        self.probe_choices.append(probe)
        bloom = None
        if cfg.use_bloom and probe == "merge":
            bloom = self._bloom_probe()
        else:
            # no prefilter (it cannot pay where the broadcast
            # probe already streams seen once against the round's
            # bounded key set). Unrolled bitmaps would miss this
            # round's keys: drop them, the next merge round
            # rebuilds them from seen
            self._bloom_dict = None
        # sampling-free dense order: the accepted parents' disc range is
        # known from the fused agg, so the global FIFO index uses
        # analytic order-buckets (monotone in (parent_disc, link_index))
        order_bucket = None
        if row["pd_lo"] is not None:
            pd_lo = int(row["pd_lo"])
            order_bucket = self._order_bucket(
                F.col("parent_disc") - F.lit(pd_lo),
                int(row["pd_hi"]) - pd_lo + 1,
            )
        limited = cfg.limit > 0
        res = dedup_candidates(
            accepted, seen.select(F.col("url_key").alias("seen_key")),
            pushed=pushed, limit=cfg.limit,
            limit_reached=limit_reached, num_partitions=self.P,
            bloom=bloom,
            n_attempts=int(row["accepted"]) if limited else None,
            seen_probe=probe,
            order_bucket=order_bucket,
            attempts_max=(
                tuple(row["att_max"])
                if limited and row["att_max"] is not None
                else None
            ),
        )
        return res, bloom is not None

    @staticmethod
    def _lineage(row, res: DedupResult) -> list:
        """Q3 lineage rows: pure driver scalars, written driver-side by
        the commit."""
        n_raw, n_res, n_acc = (
            int(row["raw"]), int(row["resolved"]), int(row["accepted"])
        )
        return [
            ("unparseable", n_raw - n_res),
            ("rejected", n_res - n_acc),
            ("duplicate", n_acc - res.n_new),
            ("budget", res.n_new - res.n_kept),
            ("pushed", res.n_kept),
        ]

    @staticmethod
    def _next_frontier(carry, fresh) -> Optional[DataFrame]:
        """Next frontier = carryover ∪ fresh (FIFO: carry first by disc),
        or None when both are absent.

        localCheckpoint, NOT persist: the in-memory frontier handoff to
        round r+1 must TRUNCATE lineage the way the parquet round-trip
        used to — a plain persist leaves the logical plan referencing the
        whole previous round's tree, which compounds exponentially across
        rounds (measured: a 2 GB plan string by round ~10). Lazy
        (eager=False) so the materialization happens inside the
        background snapshot write, off the critical path. The DURABLE
        checkpoint is still the parquet snapshot; the local checkpoint
        only serves the in-session pipeline (on executor loss the round
        job fails and the crawl resumes from the parquet state — same
        contract)."""
        nxt = None
        if carry is not None:
            nxt = carry.select(
                "url", "host", "url_key", "seen_key", "disc_order", "priority"
            )
        if fresh is not None:
            nxt = fresh if nxt is None else nxt.unionByName(fresh)
        return None if nxt is None else nxt.localCheckpoint(eager=False)

    def _commit(self, rc: _RoundCommit) -> None:
        """Round ``rc.r``'s background commit chain: its Spark sinks
        (concurrent, over cached inputs), the driver-side sinks, the
        state write, seen compaction, and the release of the round's
        caches. The state is written only after every round-r sink,
        the order append included, is durable."""
        nb = rc.r + 1
        jobs, bitmaps_at = [], None
        if rc.fresh is not None:
            jobs.append(lambda: self._append_seen(rc.fresh, nb))
            if rc.bloom:
                # fresh-key bitmaps for the next merge round; ORed into
                # the driver dict below
                bitmaps_at = len(jobs)
                jobs.append(lambda: self._collect_fresh_bitmaps(rc.fresh))
        if rc.next_frontier is not None:
            jobs.append(lambda: self.store.append(
                "frontier", rc.next_frontier.withColumn("round", F.lit(nb)),
                nb,
            ))
        try:
            results = _parallel_jobs(*jobs)
        finally:
            # join the order append even when a tail job failed: its
            # own failure must not hide
            rc.order_append.result()
        # driver-side sinks (no Spark jobs)
        self._append_metrics_local(rc.r, *rc.metrics)
        if rc.lineage is not None:
            self._append_lineage_local(rc.r, rc.lineage)
        if bitmaps_at is not None:
            self._roll_bloom_local(results[bitmaps_at])
        self.store.write_state(rc.state)
        # post-commit maintenance: bound the seen scan's file count. Runs
        # AFTER the state write, so the compacted label (= the committed
        # next_round) always survives the resume truncate; crash
        # mid-compaction is completed by the store's journal recovery,
        # and rows keep first_round so resume to ANY round stays exact
        # (truncate_after filters compacted dirs on it). Round r+1
        # cannot observe a half-compacted table: its seen read happens
        # after _join_commit.
        if self.cfg.seen_compact_fanin > 0:
            self.store.maybe_compact(
                "seen", upto=nb, round_col="first_round",
                fanin=self.cfg.seen_compact_fanin,
            )
        # release round-r caches (the next frontier is its own cache,
        # already materialized by the snapshot write above)
        for h in rc.handles:
            h.unpersist()
        if rc.dedup is not None:
            rc.dedup.unpersist()
        _release_checkpoint(rc.prev_frontier)

    def _reset_pipeline(self) -> None:
        """Entry guard of run(): wait out the commit chain of a previous
        run() that aborted mid-pipeline BEFORE reading state /
        truncating (it must not race this run). Nothing raised its
        failure, so log it; the resume truncates whatever it left
        half-written."""
        if self._commit_pool is None:
            self._commit_pool = ThreadPoolExecutor(max_workers=1)
        if self._pending_commit is not None:
            try:
                self._pending_commit.result()
            except Exception:
                log.error(
                    "commit of round %s (orphaned by an aborted run) "
                    "failed", self._pending_round, exc_info=True,
                )
            self._pending_commit = None
        _release_checkpoint(self._frontier_handle)
        self._frontier_handle = None
        # the bitmaps are rebuilt from seen by this run's first merge
        # round: a reused Crawler's dict may hold another crawl's keys,
        # or miss keys of rounds an aborted run committed
        self._bloom_dict = None

    # -- main loop ------------------------------------------------------
    def run(
        self,
        seeds: Sequence[str] = (),
        sitemap_entries: Optional[DataFrame] = None,
        resume: bool = False,
    ) -> CrawlResult:
        cfg = self.cfg
        self._reset_pipeline()
        state = self.store.read_state() if resume else None
        if state is None:
            pushed, limit_reached = self._init_frontier(seeds, sitemap_entries)
            r = 0
            n_frontier = pushed  # round-0 frontier = every successful push
            self.store.write_state(
                {"next_round": 0, "pushed": pushed,
                 "limit_reached": limit_reached, "finished": False,
                 "frontier_size": n_frontier}
            )
        else:
            r = state["next_round"]
            pushed = state["pushed"]
            limit_reached = state["limit_reached"]
            if state.get("finished"):
                return CrawlResult(self.store, r, pushed, limit_reached)
            n_frontier = state["frontier_size"]
            # discard any torn round beyond the last committed state
            for t in ("documents", "order", "metrics", "lineage"):
                self.store.truncate_after(t, r - 1)
            for t in ("seen", "frontier"):
                self.store.truncate_after(t, r)

        # Pipelined round commit: each round's independent sinks + state
        # write + compaction run as ONE background chain (_commit on a
        # single-thread pool ⇒ commits serialize in round order) while
        # the NEXT round's schedule→fetch→parse head — which depends only
        # on the in-memory frontier handoff — runs concurrently. The
        # chain is joined right before the next round's seen read (its
        # first dependence on round-r durable state), by which point the
        # 3-5 s tail has hidden behind the 15-70 s parse phase. Crash
        # contract: state_r commits only after every round-r sink is
        # durable, so a crash mid-pipeline resumes at the last committed
        # round and truncates any partially-written later batches.
        drained = False
        while cfg.max_rounds == 0 or r < cfg.max_rounds:
            # in-memory handoff from the previous round (byte-identical
            # rows to the parquet snapshot its commit is writing)
            frontier = self._frontier_handle
            if frontier is None:
                self._join_commit()
                frontier = self.store.read_batch("frontier", r)
                if frontier is None:
                    drained = True
                    break
                frontier = frontier.drop("round")
            if n_frontier == 0:
                drained = True
                break
            handles = []
            parsed, carry, order_append = self._fetch_parse(
                r, frontier, handles
            )
            dedup = lineage = None
            bloom = False
            if limit_reached:
                # post-limit drain round: no candidate pipeline, only the
                # scheduled/fetched counts for metrics
                row = self._parsed_counts(parsed).collect()[0]
            else:
                flagged, accepted, resolved_ok, accept_expr = (
                    self._candidates(parsed, handles)
                )
                row = self._fused_agg(
                    r, parsed, flagged, resolved_ok, accept_expr
                )
                # first dependence on the previous round's durable state
                # (seen batch, any compaction, the rolled bitmaps): join
                # the pipelined commit chain here — it has been running
                # concurrently under the whole fetch/parse/agg head
                self._join_commit()
                dedup, bloom = self._dedup(accepted, row, pushed, limit_reached)
                pushed, limit_reached = dedup.pushed_end, dedup.limit_reached
                lineage = self._lineage(row, dedup)
            n_sched, n_ok = row["n"], int(row["ok"] or 0)
            n_kept = dedup.n_kept if dedup is not None else 0
            fresh = dedup.fresh if n_kept > 0 else None
            nxt = self._next_frontier(carry, fresh)
            n_frontier = n_frontier - n_sched + n_kept

            # a drain round never joined the previous commit (it reads no
            # seen): join it here, or its failure would be overwritten and
            # this round's state write would move past it
            self._join_commit()
            self._pending_commit = self._commit_pool.submit(
                self._commit,
                _RoundCommit(
                    r=r,
                    state={
                        "next_round": r + 1, "pushed": pushed,
                        "limit_reached": limit_reached,
                        "finished": n_frontier == 0,
                        "frontier_size": n_frontier,
                    },
                    metrics=(n_sched, n_ok, n_kept),
                    lineage=lineage,
                    fresh=fresh,
                    bloom=bloom,
                    next_frontier=nxt,
                    order_append=order_append,
                    handles=handles,
                    dedup=dedup,
                    prev_frontier=self._frontier_handle,
                ),
            )
            self._pending_round = r
            self._frontier_handle = nxt
            r += 1
            if n_frontier == 0:
                drained = True
                break

        # join the last round's commit chain before touching final state
        # (also surfaces any background sink failure). The pool itself is
        # per-Crawler and idles between runs; if this run() raises before
        # reaching here, the next run() (or interpreter exit) waits out
        # the orphaned chain — see _reset_pipeline.
        self._join_commit()
        _release_checkpoint(self._frontier_handle)
        self._frontier_handle = None
        # only a drained frontier finishes the crawl; a max_rounds stop
        # leaves state resumable (north rule: resumable from any round)
        if drained:
            self.store.write_state(
                {"next_round": r, "pushed": pushed,
                 "limit_reached": limit_reached, "finished": True}
            )
        return CrawlResult(self.store, r, pushed, limit_reached)
