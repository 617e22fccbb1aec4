"""The crawl engine: an iterative-DataFrame-jobs realization of the
reference's queue/dispatch/worker lifecycle (Q2/Q7, crawler.go:275-367,
queue.go:102-143) — north rule: round-based batch, checkpointed and
resumable, deterministic at any parallelism.

Round r (SURVEY.md §3 lifecycle):

    frontier_r (parquet snapshot batch r: every round reads it)
      → politeness schedule: two-phase per-host top-k          [Q5]
      → uniform salted repartition for the fetch stage         [Q4]
      → robots literal-map gate (denied = counted failures)    [F5]
      → guards + resolver join against pages                   [F3,F4,SRC3,F6]
        ⇒ checkpoint: fetched, with its parse routing flag
      → native projection | mapInArrow: parse + links + spans [P1-P4]
        ⇒ checkpoint: parsed (∪ robots-denied rows)
      → documents / order appends                              [SNK1,SNK2]
      → link canonicalization, native layers, accept flag     [U1,F1]
        ⇒ checkpoint: cands_pre; exact tier (purl UDF) ⇒ cands_slow
      → first-wins window → anti-join seen                     [Q1]
        ⇒ checkpoint: first (broadcast probe), new
      → dense order → budget
      → frontier_{r+1} = carryover ∪ fresh (snapshot batch r+1)
      → background commit: seen append, metrics + lineage, state;
        joined by round r+1 before its seen read, and by run() before
        it returns or raises
    terminate when the frontier is empty (≙ TTL fixpoint, Q2) or the
    round cap is hit. Every table append is keyed by round ⇒ resumable
    from any round boundary; a torn round overwrites itself on retry.

Each ⇒ is an eager ``localCheckpoint``: every later plan starts from
its ``LogicalRDD`` leaf instead of carrying the round above it (a
persist keeps the lineage, and each ``InMemoryRelation`` embeds the plan
it caches), and the leaf is an optimizer barrier, so filter pushdown
cannot clone a UDF into a Filter. The commit frees them with
``frontier.release`` after the seen append, their last reader; a round
that raises frees its own. A lost checkpoint block cannot be recomputed:
the round fails, and a resume restarts it from ``_state.json``.

Every scalar the driver needs from a round is observed
(``DataFrame.observe``) on the checkpoint (⇒) that materializes its
frame, so it costs no job of its own: the dirty-page count on
``fetched``, the scheduled and fetched counts on ``parsed`` (all a
post-limit drain round reads), the exact-tier count, the Q3 lineage
counts and the dense-order bounds on ``cands_pre`` and ``cands_slow``,
and the per-bucket counts on ``new``.

Determinism: every ordering is an explicit sort on
(parent disc_order, link_index) — the canonical single-worker FIFO order —
so two runs (or two parallelism levels) produce byte-identical crawl
order, seen set, and span documents. Verified against crawlspark.oracle.
"""

from __future__ import annotations

import logging
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Optional, Sequence

import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from . import canon
from .fetch import resolve_fetch
from .frontier import (
    DedupResult, checkpoint, dedup_candidates, order_bucket, release,
)
from .parse import parse_stage
from .robots import apply_robots
from .schedule import schedule_round, spread_for_fetch
from .schemas import DOCUMENTS, LINEAGE, METRICS, ORDER, SEEDS, SEEN
from .storage import CheckpointStore, described

log = logging.getLogger(__name__)


def _local_frame(spark: SparkSession, schema: T.StructType,
                 columns: dict) -> DataFrame:
    """A table of driver-held ``columns`` that lives in the JVM (a
    LocalRelation, built through Arrow). A ``createDataFrame`` over
    Python rows is a PythonRDD instead: every query that reads it runs
    Python tasks."""
    import pyarrow as pa

    return spark.createDataFrame(
        pa.table(columns, schema=to_arrow_schema(schema)), schema
    )


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
    # ROUND from the accepted count observed on its candidates: the
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
        # multi-host F1 is host membership alone, as in the oracle
        if self.multi_host and (self.hosts is None or self.reject
                                or self.accept):
            raise ValueError("multi_host takes hosts and no reject/accept")


@dataclass
class CrawlResult:
    store: CheckpointStore
    rounds: int
    pushed: int
    limit_reached: bool

    def _table(self, table: str, schema: T.StructType) -> DataFrame:
        """The checkpointed table; empty, with its schema, when the crawl
        wrote none (no seeds)."""
        df = self.store.read(table)
        if df is None:
            df = _local_frame(
                self.store.spark, schema, {f.name: [] for f in schema}
            )
        return df

    def order_df(self) -> DataFrame:
        return self._table("order", ORDER)

    def seen_df(self) -> DataFrame:
        return self._table("seen", SEEN)

    def documents_df(self) -> DataFrame:
        return self._table("documents", DOCUMENTS)

    def metrics_df(self) -> DataFrame:
        return self._table("metrics", METRICS)

    def lineage_df(self) -> DataFrame:
        return self._table("lineage", LINEAGE)


@dataclass
class _RoundCommit:
    """What round ``r``'s background commit writes and releases. The
    round itself has already written documents, order and frontier
    batch ``r + 1``."""

    r: int
    state: dict  # _state.json once every sink below is durable
    metrics: tuple  # (scheduled, fetched_ok, new_urls)
    lineage: Optional[list]  # (reason, n) rows; None in a drain round
    fresh: Optional[DataFrame]  # kept fresh keys, appended to seen
    bloom: bool  # roll the fresh keys into the bloom bitmaps
    handles: list  # round checkpoints and caches to release


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
        self.pages = pages
        if not config.broadcast_pages:
            # co-locate the web table by the fetch-join key ONCE (fetch.py,
            # "Scale"). DISK_ONLY: the web table (HTML bodies, the largest
            # state in the job) must never be resident in executor heap,
            # where it inflates G1 copying cost and competes with the
            # round's checkpoints (spark.local.dir is tmpfs in the bench).
            # run() persists it: the Crawler's one cache
            self.pages = pages.repartition(self.P, "host", "url_key")
        # the robots rules are small policy state: collect them once, so
        # every round's gate is a literal-map projection (no join, no
        # window shuffle) and the crawl-delay budgets a literal map
        from .robots import compile_robots

        robots_rows = (
            robots_rules.collect() if robots_rules is not None else []
        )
        self._robots_compiled = compile_robots(robots_rows)
        self.store = CheckpointStore(spark, config.checkpoint_dir)
        self.udfs = canon.register_udfs()
        # the allowed hosts, decided once as in the oracle: the F3 guard
        # and the F1 flag both test membership in this literal list
        self._allowed = (
            sorted(set(config.hosts)) if config.multi_host else [config.host]
        )
        # per-round seen-probe decisions ("broadcast"/"merge"), appended
        # by run() — observability for the auto guard (and its tests)
        self.probe_choices: list = []
        # driver-only bloom bitmaps (bucket -> np.uint64 words) for merge
        # rounds: built from the seen table by the first merge round of a
        # run(), rolled forward by later ones, dropped by any other round
        # (see _bloom_probe) — never checkpointed, seen is the exact source
        self._bloom_dict = None
        # the background commit run() submitted last and has not yet
        # joined (see run())
        self._pending_commit = None
        # robots crawl-delay → per-host budgets ({host: budget})
        self._host_budgets = None
        self._default_budget = 0
        if config.round_wall_secs > 0:
            import math as _math

            from .robots import robots_budgets

            self._default_budget = _math.ceil(
                config.round_wall_secs / config.default_delay_secs
            )
            self._host_budgets = robots_budgets(
                robots_rows, config.round_wall_secs,
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

    # -- background round commit ---------------------------------------
    def _join_commit(self) -> None:
        """Block until the previous round's commit (seen append,
        checkpoint release, metrics and lineage, state write, compaction)
        finishes; raise its exception if it failed."""
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
        if isinstance(seeds, DataFrame):
            if "priority" not in seeds.columns:
                seeds = seeds.withColumn("priority", F.lit(0.0))
            seeds_df = seeds.select(
                "url",
                (F.col("seed_order") + F.lit(order)).cast("int")
                .alias("seed_order"),
                F.col("priority").cast("double"),
            )
        else:
            seeds = list(seeds)
            seeds_df = _local_frame(self.spark, SEEDS, {
                "url": seeds,
                "seed_order": list(range(order, order + len(seeds))),
                "priority": [0.0] * len(seeds),
            })
        if smdf is not None:
            seeds_df = smdf.unionByName(seeds_df)
        # one job counts the seeds (the bounds of their dense-order
        # buckets) and the seeds the exact url_key tier must take; with
        # none, that tier's UDF branch stays out of the plan
        with described(self.spark, "seed-init"):
            n_seed, n_exact = seeds_df.agg(
                F.count("*"),
                F.count(F.when(~canon.url_native(F.col("url")), 1)),
            ).collect()[0]

        # the exact tier drops the seeds purl cannot key itself, so no
        # filter over the union clones its UDF or the native key tower
        cands = (
            canon.canonize_urls(
                seeds_df, "url", self.udfs["url_key"], exact=n_exact > 0,
            )
            .withColumn("host", canon.host_col("url"))
            .withColumn("seen_key", self._seen_key())
            .withColumn("parent_disc", F.lit(-1).cast("long"))
            .withColumn("link_index", F.col("seed_order"))
            .select(
                "url", "host", "url_key", "seen_key",
                "parent_disc", "link_index", "priority",
            )
        )
        # seed dense-order buckets on link_index (= seed_order); no seeds
        # take the constant bucket
        bucket = F.lit(0)
        if n_seed > 0:
            bucket = order_bucket(
                F.col("link_index").cast("long"), n_seed, self.P
            )
        n_attempts = attempts_max = None
        handles = []
        try:
            with described(self.spark, "seed-init"):
                if self.cfg.limit > 0:
                    # the limit state machine's scalars, observed on the
                    # candidates' checkpoint (dedup reads them again)
                    cands, row = checkpoint(
                        cands, StorageLevel.MEMORY_AND_DISK_DESER, handles,
                        F.max(F.struct("parent_disc", "link_index"))
                        .alias("mx"),
                    )
                    n_attempts, attempts_max = row["rows"], row["mx"]
                res = dedup_candidates(
                    cands, None, pushed=0, limit=self.cfg.limit,
                    limit_reached=False, bucket_col=bucket, buckets=self.P,
                    handles=handles, n_attempts=n_attempts,
                    attempts_max=(
                        None if attempts_max is None else tuple(attempts_max)
                    ),
                )
            # NOTE: reference seed-push failures are logged, not
            # flag-setting (crawler.go:320-329); the flag only matters for
            # parse-time pushes and with a 0-room budget the first parse
            # push trips it anyway — observably identical, asserted by
            # tests vs the oracle.
            if res.fresh is None:
                return 0, False
            self.store.append(
                "frontier", res.fresh.withColumn("round", F.lit(0)), 0
            )
            self._append_seen(res.fresh, 0)
        finally:
            release(handles)
        return res.pushed_end, res.limit_reached

    # -- round phases -----------------------------------------------------
    def _fetch_parse(self, r: int, frontier: DataFrame, handles: list):
        """Schedule → robots → fetch → parse, then the documents append
        and the order append, both on the round's own thread, so a round
        that raises later leaves no write running. Returns (parsed,
        carry, counts): ``counts`` holds the scheduled (``rows``) and
        fetched (``ok``) counts of SNK2 metrics, observed on parsed's
        checkpoint. The round's checkpoints go into ``handles``."""
        cfg = self.cfg
        scheduled, carry = schedule_round(
            frontier, cfg.host_budget, cfg.priority_order,
            host_budgets=self._host_budgets,
            default_budget=self._default_budget,
        )
        scheduled = spread_for_fetch(
            scheduled.withColumn("round", F.lit(r)), self.P, salt=r
        )
        allowed, denied = apply_robots(scheduled, self._robots_compiled)
        fetched = resolve_fetch(
            allowed,
            self.pages,
            self._allowed,
            broadcast_pages=cfg.broadcast_pages,
        )
        # the hooks run inside the Python parse loop: they force the
        # exact tier
        native = cfg.process_fn is None and cfg.remove_fn is None
        exact = True
        if native:
            # checkpoint the round batch with its routing flag computed
            # INTO it: the clean-page grammar runs once per page, and the
            # fetch join once, however many scans follow (the tier
            # split's two disjoint filters, when both tiers run).
            # DISK_ONLY for the same reason as the pages cache: HTML
            # bodies must never be heap-resident, and spark.local.dir
            # sits on tmpfs in the bench. Cost is bounded by ROUND size,
            # never corpus size. (Measured alternative, rejected:
            # skipping this materialization and streaming the join per
            # tier re-runs the probe-side hash build and the routing
            # grammar per tier — paired A/B at local[8]/400k pages:
            # 176.4 s -> 229.5 s.)
            from .parse import DIRTY_COL, mark_dirty

            # a round with no dirty page leaves the exact tier's
            # MapInArrow out of the plan, so no Python worker starts
            with described(self.spark, f"fetch-parse r{r}"):
                fetched, obs = checkpoint(
                    mark_dirty(fetched), StorageLevel.DISK_ONLY, handles,
                    F.count(F.when(F.col(DIRTY_COL), 1)).alias("dirty"),
                )
            exact = obs["dirty"] > 0
        parsed = parse_stage(
            fetched,
            process_fn=cfg.process_fn,
            remove_fn=cfg.remove_fn,
            native=native,
            exact=exact,
        )
        if self._robots_compiled is not None:
            denied_rows = denied.select(
                "url", "host", "url_key", "round", "disc_order", "priority",
                F.lit(0).alias("status"),
                F.lit(False).alias("fetched_ok"),
                F.lit(None).cast(parsed.schema["spans"].dataType).alias("spans"),
                F.lit(None).cast(parsed.schema["links"].dataType).alias("links"),
            )
            parsed = parsed.unionByName(denied_rows)
        # the parse runs once, here: every later consumer (the documents
        # and order appends, the candidate pipeline) scans the checkpoint
        with described(self.spark, f"fetch-parse r{r}"):
            parsed, counts = checkpoint(
                parsed, StorageLevel.MEMORY_AND_DISK_DESER, handles,
                F.count(F.when(F.col("fetched_ok"), 1)).alias("ok"),
            )

        # SNK1: documents (Process runs even after the limit flag)
        self.store.append(
            "documents",
            parsed.filter(F.col("fetched_ok")).select(
                F.col("url").alias("doc_id"), "spans"
            ),
            r,
        )
        self.store.append(
            "order",
            parsed.select(
                "url", "host", "url_key", "round", "disc_order",
                "priority", "status", "fetched_ok",
            ),
            r,
        )
        return parsed, carry, counts

    def _candidates(self, r: int, parsed: DataFrame, handles: list):
        """The round's canonicalized links. Returns (accepted, row): the
        accepted rows keyed for dedup, and the scalars observed on the
        candidate checkpoints, which go into ``handles``. ``row`` holds
        the Q3 error-taxonomy counts ``rows`` (raw), ``resolved`` and
        ``accepted`` (queue.go:9-21 reasons; 'duplicate' covers in-round
        and cross-round — the reference has a single ErrDuplicateURL),
        the accepted ``parent_disc`` bounds ``pd_lo``/``pd_hi`` (the
        dense-order buckets) and the max accepted order key ``att_max``
        (the limit-boundary trailing-attempt check)."""
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
        # root-relative case, purl per row (canonize_udf) for the rest
        # (canon.py). The checkpoint sits on the ONE-PASS prepared
        # projection, BELOW the fast/slow union, so the mask battery and
        # every native value expression run once per link (~4x faster
        # than re-evaluating them per branch, at 19.35M links). Its
        # exact-tier rows store NULL urls: they count only in ``rows``.
        cands_pre, row = self._flag_accepted(
            r, canon.canonize_links_prepared(links, "href"), handles,
            F.count(F.when(~F.col("_cn"), 1)).alias("exact"),
        )
        # a round with no dirty href leaves the UDF branch out of the
        # plan, so no Python worker starts for empty batches
        cands, cands_slow = canon.canonize_links_split(
            cands_pre, self.udfs["canonize"], exact=row["exact"] > 0
        )
        if cands_slow is not None:
            # the slow (dirty-href) side is checkpointed POST-UDF, so the
            # exact resolver runs once per dirty link, not once per
            # consumer. The leaf is also the optimizer barrier that keeps
            # filter pushdown from cloning the UDF into a Filter (~3x
            # Python CPU, measured in round 2).
            cands_slow, slow = self._flag_accepted(r, cands_slow, handles)
            cands = cands.unionByName(cands_slow)
            for k, pick in (("resolved", sum), ("accepted", sum),
                            ("pd_lo", min), ("pd_hi", max), ("att_max", max)):
                vals = [v for v in (row[k], slow[k]) if v is not None]
                row[k] = pick(vals) if vals else None
        accepted = cands.filter(F.col("_acc")).withColumn(
            "seen_key", self._seen_key()
        ).select(
            "url", "host", "url_key", "seen_key",
            "parent_disc", "link_index", "priority",
        )
        return accepted, row

    def _flag_accepted(self, r: int, cands: DataFrame, handles: list, *aggs):
        """``cands`` checkpointed with its accept flag (F1) stored as
        ``_acc``, and the row of ``aggs`` plus ``_candidates``' candidate
        scalars observed on that checkpoint. Accepted: resolved (url and
        url_key set) and passed by ``accept_fn``, else by F1 over the
        allowed hosts (a NULL host is not accepted)."""
        cfg = self.cfg
        ok = F.col("url").isNotNull() & F.col("url_key").isNotNull()
        if cfg.accept_fn is not None:
            # IsAcceptedFunc seam: the user callable REPLACES F1
            # (crawler.go:137-142), evaluated as an Arrow-batched
            # pandas UDF
            _fn = cfg.accept_fn

            @F.pandas_udf("boolean")
            def _accept_udf(urls: pd.Series) -> pd.Series:
                return urls.map(
                    lambda u: bool(_fn(u)) if u is not None else False
                ).astype(bool)

            acc = ok & _accept_udf(F.col("url"))
        else:
            acc = ok & F.coalesce(canon.accept_filter_with_host(
                "url", "host", self._allowed, cfg.reject, cfg.accept
            ), F.lit(False))
        cands = cands.withColumn("_acc", acc)
        acc, pd_ = F.col("_acc"), F.col("parent_disc")
        with described(self.spark, f"candidates r{r}"):
            return checkpoint(
                cands, StorageLevel.MEMORY_AND_DISK, handles, *aggs,
                F.count(F.when(ok, 1)).alias("resolved"),
                F.count(F.when(acc, 1)).alias("accepted"),
                F.min(F.when(acc, pd_)).alias("pd_lo"),
                F.max(F.when(acc, pd_)).alias("pd_hi"),
                F.max(F.when(acc, F.struct("parent_disc", "link_index")))
                .alias("att_max"),
            )

    def _dedup(self, accepted, row, pushed, limit_reached, handles):
        """Seen probe + dedup of the accepted candidates, its round
        caches appended to ``handles``. Returns the DedupResult and
        whether the round probed the bloom bitmaps."""
        cfg = self.cfg
        seen = self.store.read("seen")
        probe = cfg.seen_probe
        if probe == "auto":
            # per-round guard: broadcast only while the candidate
            # key set (bounded above by the accepted count, observed
            # on the candidate checkpoints — no extra job) fits the byte
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
        # dense order: the accepted parents' disc range is observed on the
        # candidates, so the global FIFO index uses analytic order-buckets
        # (monotone in (parent_disc, link_index)); a round with no
        # accepted link takes the constant bucket
        bucket = F.lit(0)
        if row["pd_lo"] is not None:
            pd_lo = int(row["pd_lo"])
            bucket = order_bucket(
                F.col("parent_disc") - F.lit(pd_lo),
                int(row["pd_hi"]) - pd_lo + 1,
                self.P,
            )
        limited = cfg.limit > 0
        res = dedup_candidates(
            accepted, seen.select(F.col("url_key").alias("seen_key")),
            pushed=pushed, limit=cfg.limit,
            limit_reached=limit_reached, bucket_col=bucket, buckets=self.P,
            handles=handles, bloom=bloom,
            n_attempts=int(row["accepted"]) if limited else None,
            seen_probe=probe,
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
            row["rows"], row["resolved"], row["accepted"]
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
        or None when both are absent. The round writes it as frontier
        batch r+1 and round r+1 reads that snapshot back, resumed or
        not: the parquet round-trip truncates the lineage, which would
        otherwise reference every earlier round's plan (measured: a 2 GB
        plan string by round ~10)."""
        nxt = None
        if carry is not None:
            nxt = carry.select(
                "url", "host", "url_key", "seen_key", "disc_order", "priority"
            )
        if fresh is not None:
            nxt = fresh if nxt is None else nxt.unionByName(fresh)
        return nxt

    def _commit(self, rc: _RoundCommit) -> None:
        """Round ``rc.r``'s background commit: the seen append (and, in
        a merge round that probed the bloom bitmaps, rolling the fresh
        keys into them), the release of the round's checkpoints, the
        metrics and lineage rows, the state write, and seen compaction.
        The state is written only after every round-r sink is durable
        (documents, order and the next frontier already are: the round
        wrote them)."""
        nb = rc.r + 1
        try:
            if rc.fresh is not None:
                self._append_seen(rc.fresh, nb)
                if rc.bloom:
                    with described(self.spark, f"bloom r{rc.r}"):
                        bitmaps = self._collect_fresh_bitmaps(rc.fresh)
                    self._roll_bloom_local(bitmaps)
        finally:
            # the seen append was the round's last read of them
            release(rc.handles)
        # a byte-sized table is written by the driver: no Spark job
        n_sched, n_ok, n_kept = rc.metrics
        self.store.append_local(
            "metrics",
            {"round": [rc.r], "scheduled": [n_sched], "fetched_ok": [n_ok],
             "failed": [n_sched - n_ok], "new_urls": [n_kept]},
            to_arrow_schema(METRICS), rc.r,
        )
        if rc.lineage is not None:
            self.store.append_local(
                "lineage",
                {"round": [rc.r] * len(rc.lineage),
                 "reason": [x[0] for x in rc.lineage],
                 "n": [int(x[1]) for x in rc.lineage]},
                to_arrow_schema(LINEAGE), rc.r,
            )
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

    # -- main loop ------------------------------------------------------
    def run(
        self,
        seeds: Sequence[str] = (),
        sitemap_entries: Optional[DataFrame] = None,
        resume: bool = False,
    ) -> CrawlResult:
        """Crawl from ``seeds`` (and ``sitemap_entries``), or resume from
        the checkpoint. The Crawler's own cache lives only while this
        runs. Two ``run()`` calls on one checkpoint directory at the same
        time are unsupported, and nothing guards against them."""
        caches = [] if self.cfg.broadcast_pages else [
            self.pages.persist(StorageLevel.DISK_ONLY)]
        try:
            return self._run(seeds, sitemap_entries, resume)
        finally:
            release(caches)

    def _run(self, seeds, sitemap_entries, resume) -> CrawlResult:
        cfg = self.cfg
        # the bitmaps are rebuilt from seen by this run's first merge
        # round: a reused Crawler's dict may hold another crawl's keys,
        # or miss keys of rounds an aborted run committed
        self._bloom_dict = None
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

        # Every round reads its frontier from snapshot batch r, resumed
        # or not, and writes documents, order and frontier batch r+1
        # itself. The rest of its writes (seen append, metrics, lineage,
        # state, compaction) run as one background commit on a
        # single-thread pool, so commits run in round order, while the
        # next round's schedule→fetch→parse head runs. That round joins
        # the commit right before its seen read, its first dependence on
        # round-r state. Crash contract: state r+1 is written only after
        # every round-r sink is durable, so a crash resumes at the last
        # committed round and truncates any later batch. No commit
        # outlives run(): leaving the pool's block waits out the pending
        # one, so a second Crawler on this checkpoint cannot race it.
        try:
            with ThreadPoolExecutor(max_workers=1) as pool:
                while n_frontier > 0 and (
                    cfg.max_rounds == 0 or r < cfg.max_rounds
                ):
                    handles, dedup, lineage, bloom = [], None, None, False
                    try:
                        frontier = self.store.read_batch("frontier", r)
                        parsed, carry, counts = self._fetch_parse(
                            r, frontier.drop("round"), handles
                        )
                        # a post-limit drain round runs no candidate
                        # pipeline: its metrics are parsed's counts
                        if not limit_reached:
                            accepted, row = self._candidates(
                                r, parsed, handles
                            )
                            # first dependence on the previous round's
                            # commit (seen batch, any compaction, the
                            # rolled bitmaps)
                            self._join_commit()
                            with described(self.spark, f"dedup r{r}"):
                                dedup, bloom = self._dedup(
                                    accepted, row, pushed, limit_reached,
                                    handles,
                                )
                            pushed, limit_reached = (
                                dedup.pushed_end, dedup.limit_reached
                            )
                            lineage = self._lineage(row, dedup)
                        n_sched, n_ok = counts["rows"], counts["ok"]
                        n_kept = dedup.n_kept if dedup is not None else 0
                        fresh = dedup.fresh if n_kept > 0 else None
                        nxt = self._next_frontier(carry, fresh)
                        if nxt is not None:
                            self.store.append(
                                "frontier",
                                nxt.withColumn("round", F.lit(r + 1)), r + 1,
                            )
                        # a drain round never joined the previous commit
                        # (it reads no seen): join it here, or its failure
                        # would be lost and this round's state write would
                        # move past it
                        self._join_commit()
                    except BaseException:
                        # the commit below would have released them
                        release(handles)
                        raise
                    n_frontier = n_frontier - n_sched + n_kept
                    self._pending_commit = pool.submit(
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
                            handles=handles,
                        ),
                    )
                    r += 1
                self._join_commit()
        except BaseException:
            # leaving the pool's block waited out the commit the failed
            # round left pending (round r-1's); its failure would be lost
            # behind this one
            pending, self._pending_commit = self._pending_commit, None
            if pending is not None and pending.exception() is not None:
                log.error("commit of round %d failed", r - 1,
                          exc_info=pending.exception())
            raise
        # only a drained frontier finishes the crawl; a max_rounds stop
        # leaves state resumable (north rule: resumable from any round)
        if n_frontier == 0:
            self.store.write_state(
                {"next_round": r, "pushed": pushed,
                 "limit_reached": limit_reached, "finished": True}
            )
        return CrawlResult(self.store, r, pushed, limit_reached)
