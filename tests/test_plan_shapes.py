"""Physical-plan shape assertions for the round-2 scale fixes: the seen
side must never shuffle or sort under the broadcast probe, and the
scheduler's carryover must not re-shuffle the frontier through a join."""

import pytest
from pyspark.sql import functions as F

from crawlspark.frontier import _anti_seen
from crawlspark.schedule import schedule_round


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _mk_seen(spark, n=1000):
    return spark.range(n).select(
        F.concat(F.lit("/k"), F.col("id")).alias("seen_key")
    )


def _mk_cands(spark, n=50, offset=990):
    return spark.range(n).select(
        F.concat(F.lit("/k"), (F.col("id") + offset)).alias("seen_key"),
        F.col("id").alias("parent_disc"),
        F.col("id").cast("int").alias("link_index"),
    )


def test_broadcast_probe_never_shuffles_seen(spark):
    seen = _mk_seen(spark)
    cands = _mk_cands(spark).persist()
    try:
        out = _anti_seen(cands, seen, "broadcast")
        plan = _plan(out)
        # the seen side is STREAMED through broadcast hash joins: the plan
        # must contain no shuffle exchange and no sort at all
        assert "BroadcastHashJoin" in plan
        assert "Exchange hashpartitioning" not in plan
        assert "Sort " not in plan and "SortMergeJoin" not in plan
        # exactness: identical set algebra to the plain anti-join
        got = sorted(r["seen_key"] for r in out.collect())
        want = sorted(
            r["seen_key"]
            for r in _anti_seen(cands, seen, "merge").collect()
        )
        assert got == want and len(got) == 40  # 990..999 are duplicates
    finally:
        cands.unpersist()


def test_schedule_flag_split_has_no_join(spark):
    frontier = spark.range(200).select(
        F.concat(F.lit("h"), (F.col("id") % 5)).alias("host"),
        F.concat(F.lit("/p"), F.col("id")).alias("url_key"),
        F.concat(F.lit("/p"), F.col("id")).alias("seen_key"),
        F.concat(F.lit("http://h/p"), F.col("id")).alias("url"),
        F.col("id").alias("disc_order"),
        F.lit(0.0).alias("priority"),
    )
    scheduled, carry = schedule_round(frontier, host_budget=7)
    # carryover is a flag split of the ranking windows — no join re-shuffle
    for df in (scheduled, carry):
        plan = _plan(df)
        assert "Join" not in plan
    # partition: scheduled ∪ carry == frontier, disjoint, budget respected
    s = {r["seen_key"] for r in scheduled.collect()}
    c = {r["seen_key"] for r in carry.collect()}
    assert not (s & c)
    assert len(s) + len(c) == 200
    assert len(s) == 5 * 7
    per_host = (
        scheduled.groupBy("host").count().collect()
    )
    assert all(r["count"] <= 7 for r in per_host)


def test_per_host_budget_column(spark):
    frontier = spark.range(100).select(
        F.concat(F.lit("h"), (F.col("id") % 2)).alias("host"),
        F.concat(F.lit("/p"), F.col("id")).alias("url_key"),
        F.concat(F.lit("/p"), F.col("id")).alias("seen_key"),
        F.concat(F.lit("http://h/p"), F.col("id")).alias("url"),
        F.col("id").alias("disc_order"),
        F.lit(0.0).alias("priority"),
    )
    scheduled, carry = schedule_round(
        frontier, host_budget=0, host_budgets={"h0": 3}, default_budget=10
    )
    # the budgets are a literal map in the plan, not a join
    assert "Join" not in _plan(scheduled)
    counts = {
        r["host"]: r["count"]
        for r in scheduled.groupBy("host").count().collect()
    }
    assert counts == {"h0": 3, "h1": 10}
    # FIFO: the scheduled rows are the lowest disc_orders per host
    h0 = sorted(
        r["disc_order"]
        for r in scheduled.filter("host = 'h0'").collect()
    )
    assert h0 == [0, 2, 4]


def test_dense_order_bucket_col_no_sampling_identical_index(spark):
    """The bucketed dense order (bucket_col = analytic monotone buckets
    over the order key, with per-bucket counts from ``bucket_counts``)
    must (1) give the same dense, gap-free index, starting at
    ``start``, as a driver-side sort, (2) put NO
    repartitionByRange/RangePartitioning in the plan and run no job
    until read, (3) stay exact under bucket skew and out-of-range
    clamping, and (4) index an empty input with the constant bucket to
    zero rows, ending at ``start``."""
    import crawlspark.frontier as fr

    df = spark.range(5000).select(
        (F.col("id") * 7919 % 97).alias("parent_disc"),  # heavy skew: 97 keys
        F.col("id").cast("int").alias("link_index"),
    )
    order = [F.col("parent_disc"), F.col("link_index")]
    want = [
        (pd, li, i)
        for i, (pd, li) in enumerate(
            sorted(tuple(r) for r in df.collect()), start=3
        )
    ]

    # analytic buckets over a DELIBERATELY wrong span (parent_disc runs
    # to 96, so the clamp to bucket 7 fires) — monotone is the only
    # requirement for exactness
    bucket = fr.order_bucket(F.col("parent_disc"), 50, 8)
    [counts] = df.agg(fr.bucket_counts(bucket, 8)).first()
    sc = spark.sparkContext
    before = set(sc.statusTracker().getJobIdsForGroup(None))
    out_b, end_b = fr.with_dense_order(
        df, order, "_idx", bucket, counts, start=3
    )
    assert set(sc.statusTracker().getJobIdsForGroup(None)) == before
    plan = out_b._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan.lower()
    got_b = [
        (r["parent_disc"], r["link_index"], r["_idx"])
        for r in out_b.orderBy("_idx").collect()
    ]
    assert end_b == 3 + 5000
    assert got_b == want
    # dense, 0-gap, starts at `start`
    assert [i for _, _, i in got_b] == list(range(3, 3 + 5000))

    empty = df.limit(0)
    [counts_e] = empty.agg(fr.bucket_counts(F.lit(0), 1)).first()
    out_e, end_e = fr.with_dense_order(
        empty, order, "_idx", F.lit(0), counts_e, start=3
    )
    assert out_e.collect() == [] and end_e == 3


def test_link_canon_plan_stays_small(spark):
    """canonize_links_prepared is a stack of select layers, each
    intermediate built once: its analyzed and optimized plans stay under
    10 kchars. As a single Column tree that copied every shared
    subexpression into each use, the same projection read ~68 kchars."""
    from crawlspark import canon

    df = spark.createDataFrame(
        [("http://h.example/a/", 1, 0, "/b?q#f")],
        "parent_url string, parent_disc long, link_index int, href string",
    )
    df = df.select("*", *canon.parent_cols(F.col("parent_url")))
    qe = canon.canonize_links_prepared(df, "href")._jdf.queryExecution()
    analyzed = qe.analyzed().toString()
    optimized = qe.optimizedPlan().toString()
    assert len(analyzed) <= 10_000, len(analyzed)
    assert len(optimized) <= 10_000, len(optimized)
    # the layers survive CollapseProject: one Project per layer, not one
    # Project holding every copy
    assert optimized.count("Project [") > 3


def _dirty_two_host_web():
    """Two hosts of 12 pages each, linked only through hrefs the native
    canonicalization refuses (dot-segments, ./ prefixes, fragments), so
    every round runs the exact tier."""
    from crawlspark.synth import _page, _row

    pages = []
    for h in ("a.example", "b.example"):
        for i in range(12):
            j, k = (i + 1) % 12, (i + 5) % 12
            pages.append(_row(f"http://{h}/s{i % 3}/p{i}.html", html=_page(
                f'<p>page {i}</p>\n'
                f'<a href="../s{j % 3}/p{j}.html">n</a>\n'
                f'<a href="/s{k % 3}/x/../p{k}.html">k</a>\n'
                f'<a href="./../s{j % 3}/./p{j}.html#f">f</a>'
            )))
    seeds = ["http://a.example/s0/p0.html", "http://b.example/s0/p0.html"]
    # crawl-delay budgets (a: 2 a round, b: the default 4) and one
    # Disallow prefix, so the robots gate and its denied-rows union run
    robots = [
        ("a.example", "/", True, 6.0),
        ("b.example", "/s2/", False, None),
    ]
    return pages, seeds, robots


@pytest.fixture(scope="module")
def dirty_crawl(spark, tmp_path_factory):
    """One 4-round crawl of the two-host web. Records the analyzed plan
    size of every frontier and seen append, and the description of
    every job ``run()`` started."""
    from crawlspark.engine import CrawlConfig, Crawler
    from crawlspark.schemas import PAGES, ROBOTS_RULE
    from crawlspark.storage import CheckpointStore

    pages, seeds, robots = _dirty_two_host_web()
    sizes = []
    append = CheckpointStore.append

    def spy(self, table, df, batch):
        if table in ("frontier", "seen"):
            plan = df._jdf.queryExecution().analyzed().toString()
            sizes.append((table, batch, len(plan)))
        return append(self, table, df, batch)

    crawler = Crawler(
        spark, spark.createDataFrame(pages, PAGES),
        CrawlConfig(
            checkpoint_dir=str(tmp_path_factory.mktemp("dirty") / "ckpt"),
            multi_host=True, hosts=["a.example", "b.example"],
            round_wall_secs=12.0, max_rounds=4,
        ),
        robots_rules=spark.createDataFrame(robots, ROBOTS_RULE),
    )
    sc = spark.sparkContext
    before = set(sc.statusTracker().getJobIdsForGroup(None))
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(CheckpointStore, "append", spy)
        result = crawler.run(seeds)
    store = sc._jsc.sc().statusStore()
    descs = {}
    for j in set(sc.statusTracker().getJobIdsForGroup(None)) - before:
        d = store.job(j).description()
        descs[j] = d.get() if d.isDefined() else None
    return result, sizes, descs


def test_round_appends_analyze_small(dirty_crawl):
    """Every materialization point of a round is a local checkpoint, so
    the frontier and seen appends' plans start from a LogicalRDD leaf:
    each analyzes to at most 10 kchars, every round. With persists at
    those points the same appends carried the whole round's lineage:
    about 130 kchars on this crawl, 186 on crawlbench's ``dirty``."""
    result, sizes, _ = dirty_crawl
    assert result.rounds == 4
    rounds = {b for t, b, _ in sizes if t == "frontier"}
    assert rounds == set(range(5))  # the seeds' batch and rounds 0-3
    assert {b for t, b, _ in sizes if t == "seen"} == rounds
    assert all(n <= 10_000 for _, _, n in sizes), sizes


def test_every_crawl_job_is_labeled(dirty_crawl):
    """Every Spark job ``run()`` starts carries a job description (its
    phase, or the table it appends), so event logs attribute each stage
    to a phase."""
    _, _, jobs = dirty_crawl
    assert jobs
    assert [j for j, d in jobs.items() if not d] == []


def test_round_scalars_run_no_job_of_their_own(dirty_crawl):
    """A round's driver scalars are observed on the checkpoints that
    materialize its frames, so no job of their own runs: none counts
    the dirty pages (``parse-split``), the exact-tier links
    (``canon-split``), the candidates (``fused-agg``) or a drain
    round's rows (``drain``), and nothing takes their place. Before,
    this 4-round crawl ran 153 jobs, 36 of them under those four
    descriptions."""
    _, _, jobs = dirty_crawl
    gone = ("parse-split", "canon-split", "fused-agg", "drain")
    assert [d for d in jobs.values() if d and d.startswith(gone)] == []
    assert len(jobs) <= 153 - 36, len(jobs)


def test_accept_flag_runs_no_join(dirty_crawl):
    """The F1 accept flag and the F3 fetch guard test host membership
    as a literal predicate over one allowed-host list, so no broadcast
    of a host table runs: the ``candidates r{r}`` jobs are the candidate
    checkpoints alone, two a round here (every round runs the exact
    tier). With a broadcast host join before each checkpoint this
    crawl ran 16 of them and 111 jobs in all."""
    result, _, jobs = dirty_crawl
    cands = [d for d in jobs.values() if d and d.startswith("candidates r")]
    assert len(cands) == 2 * result.rounds, sorted(cands)
    assert len(jobs) <= 99, len(jobs)
