"""End-to-end: the Spark engine must reproduce the oracle's crawl order,
seen set, span documents and per-round counts exactly (north rule)."""

import os

import pytest
from pyspark.sql import functions as F

from crawlspark.engine import CrawlConfig, Crawler
from crawlspark.oracle import crawl as oracle_crawl
from crawlspark.schemas import PAGES
from crawlspark.synth import basic16, chain, pages_index, powerlaw, richsite


def run_spark_crawl(spark, tmp_path, pages, seeds, **cfg_kwargs):
    pages_df = spark.createDataFrame(pages, PAGES)
    cfg = CrawlConfig(checkpoint_dir=str(tmp_path / "ckpt"), **cfg_kwargs)
    crawler = Crawler(spark, pages_df, cfg)
    return crawler.run(seeds)


def has_python_rdd(df):
    """Whether reading ``df`` runs a PythonRDD (Python tasks)."""
    return "PythonRDD" in df._jdf.queryExecution().toRdd().toDebugString()


def has_python_node(df):
    """Whether ``df``'s physical plan evaluates a Python UDF or map."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "MapInArrow" in plan or "ArrowEvalPython" in plan


def collect_order(result):
    got = [
        (r["url"], r["round"], r["disc_order"], r["fetched_ok"])
        for r in result.order_df().collect()
    ]
    return sorted(got, key=lambda t: t[2])


def assert_matches_oracle(result, oracle):
    got = collect_order(result)
    # compare in discovery order: with per-host budgets, processing order
    # within the crawl interleaves carryover (small disc) with fresh rows
    # across rounds; disc_order is the canonical total order and each
    # record carries its processing round, so this is a full-fidelity check
    want = sorted(
        ((r.url, r.round, r.disc_order, r.fetched_ok) for r in oracle.order),
        key=lambda t: t[2],
    )
    assert got == want
    got_seen = {r["url_key"] for r in result.seen_df().collect()}
    assert got_seen == oracle.seen
    # span documents: per-doc sequence equality (kind, text, media_ref, order)
    got_docs = {
        r["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]
        ]
        for r in result.documents_df().collect()
    }
    want_docs = {
        doc_id: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]
        for doc_id, spans in oracle.documents
    }
    assert got_docs == want_docs
    # per-round counts
    got_counts = {
        r["round"]: (r["scheduled"], r["fetched_ok"], r["failed"], r["new_urls"])
        for r in result.metrics_df().collect()
    }
    want_counts = {
        c["round"]: (c["scheduled"], c["fetched_ok"], c["failed"], c["new_urls"])
        for c in oracle.counts
    }
    assert got_counts == want_counts


def test_basic16(spark, tmp_path):
    pages, seeds = basic16()
    # no seeds: the seed dense order runs on an empty input
    for s, pushed in ((seeds, 16), ([], 0)):
        result = run_spark_crawl(
            spark, tmp_path / str(pushed), pages, s, host="example.com"
        )
        oracle = oracle_crawl(pages_index(pages), s, "example.com")
        assert result.pushed == pushed
        assert_matches_oracle(result, oracle)
    # a crawl with no seeds writes no table: each reads back empty
    for df in (result.order_df(), result.seen_df(), result.documents_df(),
               result.metrics_df(), result.lineage_df()):
        assert df.count() == 0


def test_basic16_limit(spark, tmp_path):
    pages, seeds = basic16()
    result = run_spark_crawl(
        spark, tmp_path, pages, seeds, host="example.com", limit=5
    )
    oracle = oracle_crawl(pages_index(pages), seeds, "example.com", limit=5)
    assert result.pushed == 6  # limit+1 semantics
    assert result.limit_reached
    assert_matches_oracle(result, oracle)


def test_seed_limit_boundary(spark, tmp_path):
    """Seeds that fill the room exactly (limit + 1 unique keys): a
    duplicate seed AFTER the last unique one is a push attempt past the
    budget and trips the limit at seeding; the same duplicate BEFORE it
    does not (round 0's link pushes trip it). Both equal the oracle."""
    pages, _ = basic16()
    uniq = [p["url"] for p in pages[:6]]
    dup = uniq[1] + "#again"  # same url_key as uniq[1]
    for name, seeds, at_seeding in (
        ("trailing", uniq + [dup], True),
        ("inner", uniq[:-1] + [dup, uniq[-1]], False),
    ):
        result = run_spark_crawl(
            spark, tmp_path / name, pages, seeds, host="example.com", limit=5
        )
        oracle = oracle_crawl(
            pages_index(pages), seeds, "example.com", limit=5
        )
        assert result.limit_reached and oracle.limit_reached
        assert result.pushed == 6
        assert_matches_oracle(result, oracle)
        # a limit hit at seeding makes round 0 a drain round, which runs
        # no candidate pipeline and writes no lineage
        assert (result.lineage_df().count() == 0) == at_seeding


def test_seeds_and_links_take_purl_form(spark, tmp_path):
    """Seeds, hrefs and media srcs that purl rewrites — an uppercase
    scheme, an empty query, an empty fragment — are stored in purl's
    form, as the oracle stores them."""
    from crawlspark.synth import _page, _row

    pages, _ = basic16()
    pages.append(_row("http://example.com/odd.html", html=_page(
        '<a href="http://example.com/sub1/sub1-0.html?">a</a>\n'
        '<a href="/sub1/sub1-1.html#">b</a>\n'
        '<img src="/img/x.png?">'
    )))
    seeds = [
        "http://example.com?",
        "HTTP://example.com/site2.html",
        "http://example.com/odd.html",
    ]
    result = run_spark_crawl(spark, tmp_path, pages, seeds, host="example.com")
    oracle = oracle_crawl(pages_index(pages), seeds, "example.com")
    assert_matches_oracle(result, oracle)


def test_seed_keyed_once(spark, tmp_path, monkeypatch):
    """A seed purl must rewrite (a dot-segment) is keyed by one
    url_key_udf evaluation: the drop of unkeyable seeds stays above the
    UDF, so filter pushdown cannot clone it. The plan checked is that of
    the seed candidates dedup materializes, the plan that keys them."""
    from crawlspark import engine

    pages, _ = basic16()
    seeds = ["http://example.com", "http://example.com/sub1/../site1.html"]
    dedup, plans = engine.dedup_candidates, []

    def spy(cands, seen, *a, **k):
        if seen is None:
            plans.append(cands._jdf.queryExecution().executedPlan().toString())
        return dedup(cands, seen, *a, **k)

    monkeypatch.setattr(engine, "dedup_candidates", spy)
    result = run_spark_crawl(spark, tmp_path, pages, seeds, host="example.com")
    [plan] = plans
    assert plan.count("ArrowEvalPython [url_key_udf") == 1, plan
    assert_matches_oracle(
        result, oracle_crawl(pages_index(pages), seeds, "example.com")
    )


def test_richsite_failures_and_variants(spark, tmp_path):
    pages, seeds = richsite()
    result = run_spark_crawl(spark, tmp_path, pages, seeds, host="rich.example")
    oracle = oracle_crawl(pages_index(pages), seeds, "rich.example")
    assert_matches_oracle(result, oracle)
    # sanity: failures exist and documents carry media spans
    assert any(not r.fetched_ok for r in oracle.order)
    assert any(
        any(s["kind"] == "media" for s in spans) for _, spans in oracle.documents
    )


def test_host_budget(spark, tmp_path):
    pages, seeds = basic16()
    result = run_spark_crawl(
        spark, tmp_path, pages, seeds, host="example.com", host_budget=3
    )
    oracle = oracle_crawl(pages_index(pages), seeds, "example.com", host_budget=3)
    assert_matches_oracle(result, oracle)


def test_accept_reject_filters(spark, tmp_path):
    pages, seeds = basic16()
    kw = dict(host="example.com", reject=[r"sub2-[4-9]\.html"])
    result = run_spark_crawl(spark, tmp_path, pages, seeds, **kw)
    oracle = oracle_crawl(
        pages_index(pages), seeds, "example.com", reject=kw["reject"]
    )
    assert result.pushed == 10
    assert_matches_oracle(result, oracle)


def test_multi_host_powerlaw_budget(spark, tmp_path):
    """Multi-host crawl with a duplicated hosts list, and with an empty
    one (every URL is off-host)."""
    pages, seeds = powerlaw(n_pages=200, n_hosts=5, seed=11)
    pages_df = spark.createDataFrame(pages, PAGES)
    all_hosts = sorted({p["host"] for p in pages})
    for hosts in (all_hosts + all_hosts[:1], []):
        cfg = CrawlConfig(
            checkpoint_dir=str(tmp_path / str(len(hosts))),
            multi_host=True, hosts=hosts, host_budget=10, max_rounds=6,
        )
        crawler = Crawler(spark, pages_df, cfg)
        oracle = oracle_crawl(
            pages_index(pages), seeds, "", multi_host=True, hosts=set(hosts),
            host_budget=10, max_rounds=6,
        )
        assert_matches_oracle(crawler.run(seeds), oracle)


def test_exact_tiers_only_for_dirty_rows(spark, tmp_path, monkeypatch):
    """A round starts an exact Python tier only when it has rows for it.
    Round 0 fetches a clean page with a root-relative link, round 1 a
    page the clean grammar rejects (a charref) with a relative link,
    round 2 a clean page with no link: parse and canonicalization pass
    exact=False, True, False, and only exact=True plans hold a Python
    node. The second seed needs the exact url_key (a dot-segment); the
    seed frame runs no Python to be read."""
    from crawlspark import canon, engine
    from crawlspark.synth import _page, _row

    base = "http://t.example"
    pages = [
        _row(f"{base}/", html=_page('<a href="/b.html">b</a>')),
        _row(f"{base}/b.html",
             html=_page('<p>x &amp; y</p>\n<a href="c.html">c</a>')),
        _row(f"{base}/b.html/c.html", html=_page("<p>end</p>")),
    ]
    seeds = [f"{base}/", f"{base}/x/../"]
    calls = {"parse": [], "canon": [], "seeds": []}

    def spy(owner, name, kind):
        fn = getattr(owner, name)

        def wrapper(df, *a, exact=True, **k):
            out = fn(df, *a, exact=exact, **k)
            calls[kind].append((exact, df, out))
            return out

        monkeypatch.setattr(owner, name, wrapper)

    spy(engine, "parse_stage", "parse")
    spy(canon, "canonize_links_split", "canon")
    spy(canon, "canonize_urls", "seeds")
    result = run_spark_crawl(spark, tmp_path, pages, seeds, host="t.example")
    assert [e for e, _, _ in calls["parse"]] == [False, True, False]
    assert [e for e, _, _ in calls["canon"]] == [False, True, False]
    assert all(has_python_node(out) == e for e, _, out in calls["parse"])
    assert all((slow is not None) == e
               for e, _, (_, slow) in calls["canon"])
    [(exact, seeds_df, keyed)] = calls["seeds"]
    assert exact and has_python_node(keyed)
    assert not has_python_rdd(seeds_df)
    oracle = oracle_crawl(pages_index(pages), seeds, "t.example")
    assert result.rounds == 3
    assert_matches_oracle(result, oracle)


def test_chain_rounds(spark, tmp_path, monkeypatch):
    """A 6-round crawl equals the oracle, releases every cache it made,
    and every round reads its frontier from its parquet snapshot, once."""
    from crawlspark.storage import CheckpointStore

    pages, seeds = chain(6)
    read_batch, reads = CheckpointStore.read_batch, []

    def spy(self, table, batch):
        reads.append((table, batch))
        return read_batch(self, table, batch)

    monkeypatch.setattr(CheckpointStore, "read_batch", spy)
    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs())
    result = run_spark_crawl(spark, tmp_path, pages, seeds, host="chain.example")
    assert set(sc._jsc.getPersistentRDDs()) == before
    assert sorted(b for t, b in reads if t == "frontier") == list(range(6))
    oracle = oracle_crawl(pages_index(pages), seeds, "chain.example")
    assert result.rounds == 6
    assert_matches_oracle(result, oracle)


def test_seen_probe_auto_guard(spark, tmp_path, monkeypatch):
    """The auto probe guard (VERDICT r2 / ADVICE r2): per round, the
    broadcast seen-probe is chosen only while the candidate set fits the
    byte budget; beyond it the round falls back to the shuffling merge
    anti-join. Output must be identical under every mode."""
    pages, seeds = basic16()
    pages_df = spark.createDataFrame(pages, PAGES)
    oracle = oracle_crawl(pages_index(pages), seeds, "example.com")

    def run(**kw):
        ckpt = tmp_path / ("ckpt_" + "_".join(f"{k}" for k in kw))
        cfg = CrawlConfig(checkpoint_dir=str(ckpt), host="example.com", **kw)
        c = Crawler(spark, pages_df, cfg)
        return c, c.run(seeds)

    # default auto: every round is comfortably under 64 MiB -> broadcast
    c_auto, res_auto = run()
    assert c_auto.cfg.seen_probe == "auto"
    assert c_auto.probe_choices and set(c_auto.probe_choices) == {"broadcast"}
    assert_matches_oracle(res_auto, oracle)

    # bloom work is counted from here on: it belongs to merge rounds
    # whose bitmaps fit broadcast_max_bytes, so none of the legs below
    # may build or probe a bloom filter
    from crawlspark import bloom

    calls = []
    for name in ("flag_candidates", "build_or_update"):
        fn = getattr(bloom, name)
        monkeypatch.setattr(
            bloom, name,
            lambda *a, _n=name, _f=fn, **k: calls.append(_n) or _f(*a, **k),
        )

    # auto with a 0-byte budget: every round must fall back to merge;
    # its 2 GiB of bitmaps exceed broadcast_max_bytes, so no prefilter
    c_merge, res_merge = run(
        broadcast_probe_max_bytes=0, use_bloom=True, bloom_bits=1 << 30
    )
    assert c_merge.probe_choices and set(c_merge.probe_choices) == {"merge"}
    assert_matches_oracle(res_merge, oracle)

    # explicit override still honored; broadcast rounds do no bloom work
    c_b, res_b = run(seen_probe="broadcast", use_bloom=True)
    assert set(c_b.probe_choices) == {"broadcast"}
    assert_matches_oracle(res_b, oracle)
    assert calls == []
    assert not os.path.exists(os.path.join(res_b.store.root, "bloom"))


def test_failed_commit_before_drain_round_raises(spark, tmp_path, monkeypatch):
    """A round's commit runs in the background while the next round
    starts. Round 1 of basic16 at limit=5 hits the limit, so round 2 is
    a drain round: it reads no seen table and so never joined round 1's
    commit before submitting its own. A failed round-1 metrics write must
    still make run() raise, and _state.json must not move past round 1;
    resuming then finishes the crawl equal to the oracle."""
    import json

    from crawlspark.storage import CheckpointStore

    pages, seeds = basic16()
    append_local = CheckpointStore.append_local

    def failing(self, table, columns, schema, batch):
        if table == "metrics" and batch == 1:
            raise OSError("injected metrics write failure")
        return append_local(self, table, columns, schema, batch)

    monkeypatch.setattr(CheckpointStore, "append_local", failing)
    with pytest.raises(OSError, match="injected"):
        run_spark_crawl(spark, tmp_path, pages, seeds, host="example.com",
                        limit=5)
    state = json.loads((tmp_path / "ckpt" / "_state.json").read_text())
    assert state["next_round"] == 1 and not state["finished"]

    monkeypatch.undo()
    pages_df = spark.createDataFrame(pages, PAGES)
    cfg = CrawlConfig(checkpoint_dir=str(tmp_path / "ckpt"),
                      host="example.com", limit=5)
    result = Crawler(spark, pages_df, cfg).run(seeds, resume=True)
    oracle = oracle_crawl(pages_index(pages), seeds, "example.com", limit=5)
    assert result.pushed == 6 and result.limit_reached
    assert_matches_oracle(result, oracle)


def test_failed_seen_append_in_normal_round_raises(spark, tmp_path,
                                                   monkeypatch):
    """A normal round's seen append runs in the background commit chain.
    A failed round-1 seen write (batch 2) must make run() raise, leave
    _state.json at next_round 1, and a resume must equal the oracle."""
    import json

    from crawlspark.storage import CheckpointStore

    pages, seeds = basic16()
    append = CheckpointStore.append

    def failing(self, table, df, batch):
        if table == "seen" and batch == 2:
            raise OSError("injected seen write failure")
        return append(self, table, df, batch)

    monkeypatch.setattr(CheckpointStore, "append", failing)
    with pytest.raises(OSError, match="injected"):
        run_spark_crawl(spark, tmp_path, pages, seeds, host="example.com")
    state = json.loads((tmp_path / "ckpt" / "_state.json").read_text())
    assert state["next_round"] == 1 and not state["finished"]

    monkeypatch.undo()
    pages_df = spark.createDataFrame(pages, PAGES)
    cfg = CrawlConfig(checkpoint_dir=str(tmp_path / "ckpt"),
                      host="example.com")
    result = Crawler(spark, pages_df, cfg).run(seeds, resume=True)
    assert_matches_oracle(
        result, oracle_crawl(pages_index(pages), seeds, "example.com")
    )


def test_failed_round_leaves_no_append_running(spark, tmp_path, monkeypatch):
    """A round that raises after its fetch/parse phase (here round 0,
    once its candidates are checkpointed) must leave no checkpoint write
    behind it: a write that starts after run() raised could land after a
    resume's truncate. The order append is slowed so that one running
    off the round's thread would start late; a resume then equals the
    oracle."""
    import time

    from crawlspark.storage import CheckpointStore

    pages, seeds = basic16()
    append, delay, starts = CheckpointStore.append, 2.0, []

    def spy(self, table, df, batch):
        if table == "order":
            time.sleep(delay)
        starts.append((table, batch, time.monotonic()))
        return append(self, table, df, batch)

    candidates = Crawler._candidates

    def failing_candidates(self, *args):
        candidates(self, *args)
        raise RuntimeError("injected candidates failure")

    monkeypatch.setattr(CheckpointStore, "append", spy)
    monkeypatch.setattr(Crawler, "_candidates", failing_candidates)
    with pytest.raises(RuntimeError, match="injected"):
        run_spark_crawl(spark, tmp_path, pages, seeds, host="example.com")
    raised = time.monotonic()
    time.sleep(delay + 1.0)  # room for a write still running to start
    late = [(t, b) for t, b, at in starts if at > raised]
    assert ("order", 0) in {(t, b) for t, b, _ in starts} and late == []

    monkeypatch.undo()
    pages_df = spark.createDataFrame(pages, PAGES)
    cfg = CrawlConfig(checkpoint_dir=str(tmp_path / "ckpt"),
                      host="example.com")
    result = Crawler(spark, pages_df, cfg).run(seeds, resume=True)
    assert_matches_oracle(
        result, oracle_crawl(pages_index(pages), seeds, "example.com")
    )


def test_failed_round_waits_out_pending_commit(spark, tmp_path,
                                               monkeypatch, caplog):
    """Round 0's commit runs in the background while round 1 starts. If
    round 1 raises, run() must first wait that commit out: no checkpoint
    write may start or end after run() raised, no commit thread may be
    left alive, and a fresh Crawler then resumes to the oracle's result.
    If the commit itself failed too, run() raises the round's own error
    and logs the commit's failure with its round."""
    import json
    import logging
    import threading
    import time

    from crawlspark.storage import CheckpointStore

    pages, seeds = basic16()
    oracle = oracle_crawl(pages_index(pages), seeds, "example.com")
    append, write_state = CheckpointStore.append, CheckpointStore.write_state
    calls, commit_fails, delay = [], [], 2.0

    def spy_append(self, table, df, batch):
        calls.append(time.monotonic())
        try:
            if table == "seen" and batch == 1:  # round 0's commit
                time.sleep(delay)
                if commit_fails:
                    raise OSError("injected seen write failure")
            return append(self, table, df, batch)
        finally:
            calls.append(time.monotonic())

    def spy_state(self, state):
        calls.append(time.monotonic())
        try:
            return write_state(self, state)
        finally:
            calls.append(time.monotonic())

    candidates = Crawler._candidates

    def candidates_failing_in_round_1(self, r, *args):
        out = candidates(self, r, *args)
        if r == 1:
            raise RuntimeError("injected candidates failure in round 1")
        return out

    def pool_threads():
        return {t for t in threading.enumerate()
                if t.name.startswith("ThreadPoolExecutor")}

    monkeypatch.setattr(CheckpointStore, "append", spy_append)
    monkeypatch.setattr(CheckpointStore, "write_state", spy_state)
    monkeypatch.setattr(Crawler, "_candidates", candidates_failing_in_round_1)

    # leg 1: the commit succeeds, late
    threads = pool_threads()
    with pytest.raises(RuntimeError, match="round 1"):
        run_spark_crawl(spark, tmp_path, pages, seeds, host="example.com")
    raised = time.monotonic()
    time.sleep(delay + 1.0)  # room for a write still running to end
    assert calls and max(calls) < raised
    assert pool_threads() <= threads
    state = json.loads((tmp_path / "ckpt" / "_state.json").read_text())
    assert state["next_round"] == 1

    # leg 2: the slowed commit fails as well
    commit_fails.append(True)
    with caplog.at_level(logging.ERROR, logger="crawlspark.engine"):
        with pytest.raises(RuntimeError, match="candidates"):
            run_spark_crawl(spark, tmp_path / "leg2", pages, seeds,
                            host="example.com")
    assert any("round 0" in r.getMessage() and r.exc_info
               for r in caplog.records)

    monkeypatch.undo()
    pages_df = spark.createDataFrame(pages, PAGES)
    cfg = CrawlConfig(checkpoint_dir=str(tmp_path / "ckpt"),
                      host="example.com")
    result = Crawler(spark, pages_df, cfg).run(resume=True)
    assert_matches_oracle(result, oracle)


@pytest.mark.parametrize("fail_in", ["candidates", "dense_order"])
def test_failed_round_releases_its_checkpoints(spark, tmp_path,
                                               monkeypatch, fail_in):
    """A round that raises frees what it materialized. Round 1 raises
    once it has checkpointed its fetched batch, parsed rows and
    candidates, or in its dense order, after dedup checkpointed the
    deduped set; once run() has raised, the session holds exactly the
    persistent RDDs it held before run()."""
    from crawlspark import frontier

    pages, seeds = basic16()
    candidates, dense_order = Crawler._candidates, frontier.with_dense_order
    rounds = []

    def candidates_spy(self, r, *args):
        rounds.append(r)
        out = candidates(self, r, *args)
        if r == 1 and fail_in == "candidates":
            raise RuntimeError("injected candidates failure in round 1")
        return out

    def dense_order_spy(*args, **kwargs):
        if rounds[-1:] == [1] and fail_in == "dense_order":
            raise RuntimeError("injected dense-order failure in round 1")
        return dense_order(*args, **kwargs)

    monkeypatch.setattr(Crawler, "_candidates", candidates_spy)
    monkeypatch.setattr(frontier, "with_dense_order", dense_order_spy)
    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs())
    with pytest.raises(RuntimeError, match="round 1"):
        run_spark_crawl(spark, tmp_path, pages, seeds, host="example.com")
    assert set(sc._jsc.getPersistentRDDs()) == before


def test_crawler_frees_its_own_caches(spark, tmp_path):
    """The Crawler's own cache, the repartitioned pages table of
    ``broadcast_pages=False``, lives only while run() runs. After the
    crawl the session holds exactly the persistent RDDs it held before
    run(), and the crawl equals the oracle."""
    pages, seeds = powerlaw(n_pages=120, n_hosts=4, seed=5)
    hosts = sorted({p["host"] for p in pages})
    cfg = CrawlConfig(
        checkpoint_dir=str(tmp_path / "ckpt"), multi_host=True, hosts=hosts,
        broadcast_pages=False, host_budget=10, max_rounds=3,
    )
    crawler = Crawler(spark, spark.createDataFrame(pages, PAGES), cfg)
    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs())
    result = crawler.run(seeds)
    assert set(sc._jsc.getPersistentRDDs()) == before
    oracle = oracle_crawl(
        pages_index(pages), seeds, "", multi_host=True,
        hosts=set(hosts), host_budget=10, max_rounds=3,
    )
    assert_matches_oracle(result, oracle)


def test_multi_host_config_rejects_what_the_oracle_ignores(tmp_path):
    """Multi-host F1 is membership in ``hosts`` alone: a multi-host
    config without hosts, or with reject or accept patterns, raises."""
    ckpt = str(tmp_path / "ckpt")
    with pytest.raises(ValueError, match="multi_host"):
        CrawlConfig(checkpoint_dir=ckpt, multi_host=True)
    for kw in (dict(reject=["x"]), dict(accept=["y"])):
        with pytest.raises(ValueError, match="multi_host"):
            CrawlConfig(checkpoint_dir=ckpt, multi_host=True, hosts=["h"], **kw)
    CrawlConfig(checkpoint_dir=ckpt, host="h", reject=["x"], accept=["y"])


def test_release_frees_every_handle_past_a_failure(spark, caplog):
    """``release`` frees the checkpoints after a handle that cannot be
    freed, logs that failure, and raises nothing: a round's cleanup must
    not replace the exception that made it clean up."""
    from crawlspark.frontier import release

    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs())
    a = spark.range(10).localCheckpoint(eager=True)
    b = spark.range(20).localCheckpoint(eager=True)
    assert len(set(sc._jsc.getPersistentRDDs()) - before) == 2
    with caplog.at_level("ERROR", logger="crawlspark.frontier"):
        release([a, object(), b])
    assert set(sc._jsc.getPersistentRDDs()) == before
    assert "could not release" in caplog.text
