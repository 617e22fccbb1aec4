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


def collect_order(result):
    rows = result.order_df().orderBy("disc_order").collect()
    return [(r["url"], r["round"], r["disc_order"], r["fetched_ok"]) for r in rows]


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
    result = run_spark_crawl(spark, tmp_path, pages, seeds, host="example.com")
    oracle = oracle_crawl(pages_index(pages), seeds, "example.com")
    assert result.pushed == 16
    assert_matches_oracle(result, oracle)


def test_basic16_limit(spark, tmp_path):
    pages, seeds = basic16()
    result = run_spark_crawl(
        spark, tmp_path, pages, seeds, host="example.com", limit=5
    )
    oracle = oracle_crawl(pages_index(pages), seeds, "example.com", limit=5)
    assert result.pushed == 6  # limit+1 semantics
    assert result.limit_reached
    assert_matches_oracle(result, oracle)


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
    pages, seeds = powerlaw(n_pages=200, n_hosts=5, seed=11)
    hosts = sorted({p["host"] for p in pages})
    result = run_spark_crawl(
        spark, tmp_path, pages, seeds,
        multi_host=True, hosts=hosts, host_budget=10, max_rounds=6,
    )
    oracle = oracle_crawl(
        pages_index(pages), seeds, "", multi_host=True, hosts=set(hosts),
        host_budget=10, max_rounds=6,
    )
    assert_matches_oracle(result, oracle)


def test_chain_rounds(spark, tmp_path):
    """A 6-round crawl equals the oracle and releases every cache it
    made, the in-memory frontier handoffs (local checkpoints) included."""
    pages, seeds = chain(6)
    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs())
    result = run_spark_crawl(spark, tmp_path, pages, seeds, host="chain.example")
    assert set(sc._jsc.getPersistentRDDs()) == before
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


def test_orphaned_commit_failure_is_logged(spark, tmp_path, caplog):
    """A commit chain left pending by a run() that aborted is waited out
    at the next run() entry; its failure is logged with its round."""
    import logging
    from concurrent.futures import Future

    pages, _ = basic16()
    cfg = CrawlConfig(checkpoint_dir=str(tmp_path / "ckpt"),
                      host="example.com")
    crawler = Crawler(spark, spark.createDataFrame(pages, PAGES), cfg)
    crawler.store.write_state({"next_round": 4, "pushed": 16,
                               "limit_reached": False, "finished": True})
    failed = Future()
    failed.set_exception(OSError("injected seen write failure"))
    crawler._pending_commit, crawler._pending_round = failed, 3
    with caplog.at_level(logging.ERROR, logger="crawlspark.engine"):
        crawler.run(resume=True)
    assert crawler._pending_commit is None
    assert any("round 3" in r.getMessage() and r.exc_info
               for r in caplog.records)
