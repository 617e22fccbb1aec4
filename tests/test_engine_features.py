"""Engine feature tests: robots gate, sitemap seeding, priority mode,
checkpoint/resume, determinism across runs."""

import pytest
from pyspark.sql import functions as F

from crawlspark.engine import CrawlConfig, Crawler
from crawlspark.oracle import crawl as oracle_crawl
from crawlspark.schemas import PAGES, ROBOTS_RULE, SITEMAP_ENTRY
from crawlspark.synth import basic16, pages_index, richsite


def make_crawler(spark, tmp_path, pages, robots=None, **cfg_kwargs):
    pages_df = spark.createDataFrame(pages, PAGES)
    cfg = CrawlConfig(checkpoint_dir=str(tmp_path / "ckpt"), **cfg_kwargs)
    return Crawler(spark, pages_df, cfg, robots_rules=robots)


def test_robots_denied_counted_not_fetched(spark, tmp_path):
    pages, seeds = basic16()
    rules = spark.createDataFrame(
        [("example.com", "/sub2/", False, None)], ROBOTS_RULE
    )
    res = make_crawler(
        spark, tmp_path, pages, robots=rules, host="example.com"
    ).run(seeds)
    order = {r["url_key"]: r for r in res.order_df().collect()}
    # /sub2/ listing and its children are attempted-but-denied
    assert not order["/sub2"]["fetched_ok"]
    # sub2-0..3 were discovered via site1 links (push is not robots-gated —
    # the reference consults robots at fetch time, crawler.go:31-33)
    assert "/sub2/sub2-0.html" in order
    assert not order["/sub2/sub2-0.html"]["fetched_ok"]
    # sub2-4..9 never discovered (their only source listing was denied)
    assert "/sub2/sub2-9.html" not in order
    # documents exist only for allowed+fetched pages
    docs = {r["doc_id"] for r in res.documents_df().collect()}
    assert "http://example.com/sub2/sub2-0.html" not in docs
    assert "http://example.com/site1.html" in docs


def test_robots_longest_prefix_wins(spark, tmp_path):
    pages, seeds = basic16()
    rules = spark.createDataFrame(
        [
            ("example.com", "/sub2/", False, None),
            ("example.com", "/sub2/sub2-1", True, None),
        ],
        ROBOTS_RULE,
    )
    res = make_crawler(
        spark, tmp_path, pages, robots=rules, host="example.com"
    ).run(seeds)
    order = {r["url_key"]: r for r in res.order_df().collect()}
    assert not order["/sub2/sub2-0.html"]["fetched_ok"]
    assert order["/sub2/sub2-1.html"]["fetched_ok"]


def test_robots_compiled_path_equals_join_path_and_is_narrow(spark):
    """The literal-map robots gate (compiled once per crawl) decides
    identically to the broadcast-join + longest-prefix-window fallback —
    including prefix-length ties, where deny sorts before allow — and its
    plan has ZERO exchanges (the round-2 plan shuffled on seen_key here
    every round)."""
    from crawlspark.robots import apply_robots, compile_robots

    rules = spark.createDataFrame(
        [
            ("h.com", "/a/", False, None),
            ("h.com", "/a/keep", True, None),
            ("h.com", "/t", True, None),   # tie with next: deny wins
            ("h.com", "/t", False, None),
            ("other.com", "/", False, None),
        ],
        ROBOTS_RULE,
    )
    scheduled = spark.createDataFrame(
        [
            # seen_key is host-prefixed in multi-host mode (globally
            # unique — the engine never reuses a key across hosts)
            ("http://h.com/a/x.html", "h.com", "h.com/a/x.html"),
            ("http://h.com/a/keep/y.html", "h.com", "h.com/a/keep/y.html"),
            ("http://h.com/t/z.html", "h.com", "h.com/t/z.html"),
            ("http://h.com/free.html", "h.com", "h.com/free.html"),
            ("http://other.com/p.html", "other.com", "other.com/p.html"),
            ("http://norules.com/p.html", "norules.com", "norules.com/p.html"),
        ],
        "url string, host string, seen_key string",
    )
    compiled = compile_robots(rules)
    assert compiled is not None

    def keys(df):
        return sorted(r["seen_key"] for r in df.collect())

    a_fast, d_fast = apply_robots(scheduled, rules, compiled)
    a_join, d_join = apply_robots(scheduled, rules, None)
    assert keys(a_fast) == keys(a_join)
    assert keys(d_fast) == keys(d_join)
    assert keys(d_fast) == [
        "h.com/a/x.html", "h.com/t/z.html", "other.com/p.html"
    ]

    plan = a_fast._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Join" not in plan

    # cutoff fallback: an over-large rule set refuses to compile
    import crawlspark.robots as R

    old = R.COMPILE_MAX_RULES
    try:
        R.COMPILE_MAX_RULES = 3
        assert compile_robots(rules) is None
    finally:
        R.COMPILE_MAX_RULES = old


def test_sitemap_entries_seed_first_with_priority(spark, tmp_path):
    pages, seeds = basic16()
    sm = spark.createDataFrame(
        [("http://example.com/site2.html", 0.9, None, None, 0)], SITEMAP_ENTRY
    )
    res = make_crawler(spark, tmp_path, pages, host="example.com").run(
        seeds, sitemap_entries=sm
    )
    oracle = oracle_crawl(
        pages_index(pages), seeds, "example.com",
        sitemap_entries=[("http://example.com/site2.html", 0.9)],
    )
    rows = sorted(
        res.order_df().collect(), key=lambda r: r["disc_order"]
    )
    assert rows[0]["url"] == "http://example.com/site2.html"
    assert rows[0]["priority"] == 0.9
    assert res.pushed == oracle.visited == 16
    got = [(r["url"], r["disc_order"]) for r in rows]
    want = sorted(
        ((r.url, r.disc_order) for r in oracle.order), key=lambda t: t[1]
    )
    assert got == want


def test_priority_budget_engine_matches_oracle(spark, tmp_path):
    """Priority-queue mode (north rule): sitemap priorities order the
    frontier under per-host budgets; engine must match the oracle's
    discovery order exactly."""
    pages, seeds = basic16()
    sm = spark.createDataFrame(
        [
            ("http://example.com/sub2/", 0.9, None, None, 0),
            ("http://example.com/site2.html", 0.5, None, None, 1),
        ],
        SITEMAP_ENTRY,
    )
    res = make_crawler(
        spark, tmp_path, pages, host="example.com",
        host_budget=2, priority_order=True,
    ).run(seeds, sitemap_entries=sm)
    oracle = oracle_crawl(
        pages_index(pages), seeds, "example.com",
        sitemap_entries=[
            ("http://example.com/sub2/", 0.9),
            ("http://example.com/site2.html", 0.5),
        ],
        host_budget=2, priority_order=True,
    )
    got = sorted(
        ((r["url"], r["round"], r["disc_order"]) for r in res.order_df().collect()),
        key=lambda t: t[2],
    )
    want = sorted(
        ((r.url, r.round, r.disc_order) for r in oracle.order), key=lambda t: t[2]
    )
    assert got == want
    assert {r["url_key"] for r in res.seen_df().collect()} == oracle.seen


def test_lineage_reason_counts(spark, tmp_path):
    pages, seeds = richsite()
    res = make_crawler(spark, tmp_path, pages, host="rich.example").run(seeds)
    lin = {}
    for r in res.lineage_df().collect():
        lin[r["reason"]] = lin.get(r["reason"], 0) + r["n"]
    # richsite home page has one off-host link (rejected) and a dup link
    assert lin["rejected"] >= 1
    assert lin["duplicate"] >= 1
    # pushed in lineage == total visited minus seeds
    assert lin["pushed"] == res.pushed - len(seeds)
    assert lin.get("unparseable", 0) >= 0 and lin.get("budget", 0) == 0


def test_resume_mid_crawl_identical(spark, tmp_path):
    pages, seeds = richsite()
    full = make_crawler(
        spark, tmp_path / "full", pages, host="rich.example"
    ).run(seeds)
    # interrupted run: stop after 1 round, then resume to completion
    part = make_crawler(
        spark, tmp_path / "part", pages, host="rich.example", max_rounds=1
    ).run(seeds)
    assert part.rounds == 1
    resumed = make_crawler(
        spark, tmp_path / "part", pages, host="rich.example"
    ).run(seeds, resume=True)

    def order_tuples(res):
        return sorted(
            (r["url"], r["round"], r["disc_order"], r["fetched_ok"])
            for r in res.order_df().collect()
        )

    assert order_tuples(resumed) == order_tuples(full)
    assert resumed.pushed == full.pushed
    seen_a = {r["url_key"] for r in resumed.seen_df().collect()}
    seen_b = {r["url_key"] for r in full.seen_df().collect()}
    assert seen_a == seen_b


def test_rerun_same_config_deterministic(spark, tmp_path):
    pages, seeds = richsite()
    a = make_crawler(spark, tmp_path / "a", pages, host="rich.example").run(seeds)
    b = make_crawler(spark, tmp_path / "b", pages, host="rich.example").run(seeds)
    def checksum(res):
        return res.order_df().agg(
            F.sum(
                F.pmod(
                    F.xxhash64("url", F.col("disc_order").cast("string")),
                    F.lit(1 << 32),
                )
            )
        ).collect()[0][0]

    assert checksum(a) == checksum(b)


def test_seen_flat_layout(spark, tmp_path):
    """The seen table is flat: every batch dir holds its parquet files
    directly (no sub-directories), at most one per partition of the
    dedup exchange the fresh keys come from, its rows are exactly
    (url_key, first_round), and the seen set equals the oracle's."""
    import os

    pages, seeds = richsite()
    res = make_crawler(spark, tmp_path, pages, host="rich.example").run(seeds)
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    seen_root = tmp_path / "ckpt" / "seen"
    batch_dirs = [d for d in os.listdir(seen_root) if d.startswith("batch=")]
    assert batch_dirs
    for b in batch_dirs:
        entries = os.listdir(seen_root / b)
        assert not [e for e in entries if (seen_root / b / e).is_dir()], b
        files = [e for e in entries if e.endswith(".parquet")]
        assert 1 <= len(files) <= width, (b, files)
    seen = res.seen_df()
    assert seen.columns == ["url_key", "first_round"]
    oracle = oracle_crawl(pages_index(pages), seeds, "rich.example")
    assert {r["url_key"] for r in seen.collect()} == oracle.seen


def test_torn_round_seen_bloom_resume_no_key_dropped(
    spark, tmp_path, monkeypatch
):
    """VERDICT r2 #8 — the one previously-unpinned crash window: a round
    crashes AFTER appending seen batch r+1 but BEFORE the round's state
    commit. Resume must truncate the torn batch back to the committed
    round and replay to a result identical to an uninterrupted run — no
    key dropped, no key duplicated, no bloom false-skip. The merge probe
    drives the bloom path; its bitmaps are not checkpointed, so the
    resumed run rebuilds them from the truncated seen table."""
    import shutil

    pages, seeds = richsite()
    kw = dict(host="rich.example", use_bloom=True, bloom_buckets=4,
              seen_probe="merge")
    full = make_crawler(spark, tmp_path / "full", pages, **kw).run(seeds)

    part = make_crawler(
        spark, tmp_path / "part", pages, max_rounds=1, **kw
    ).run(seeds)
    assert part.rounds == 1
    ckpt = tmp_path / "part" / "ckpt"
    assert not (ckpt / "bloom").exists()
    # forge the torn round-1 writes the crash window leaves behind:
    # seen advanced to batch 2, order/documents half-written for round
    # 1, but _state.json still says next_round=1
    shutil.copytree(ckpt / "seen" / "batch=1", ckpt / "seen" / "batch=2")
    shutil.copytree(ckpt / "order" / "batch=0", ckpt / "order" / "batch=1")
    state_path = ckpt / "_state.json"
    import json

    state = json.loads(state_path.read_text())
    assert state["next_round"] == 1 and not state["finished"]

    from crawlspark import bloom

    builds = []
    build = bloom.build_or_update
    monkeypatch.setattr(
        bloom, "build_or_update",
        lambda *a, **k: builds.append(1) or build(*a, **k),
    )
    resumed = make_crawler(spark, tmp_path / "part", pages, **kw).run(
        seeds, resume=True
    )
    assert builds  # bitmaps rebuilt from seen, then rolled forward

    def order_tuples(res):
        return sorted(
            (r["url"], r["round"], r["disc_order"], r["fetched_ok"])
            for r in res.order_df().collect()
        )

    assert order_tuples(resumed) == order_tuples(full)
    assert resumed.pushed == full.pushed
    seen_full = {r["url_key"] for r in full.seen_df().collect()}
    seen_res = [r["url_key"] for r in resumed.seen_df().collect()]
    assert set(seen_res) == seen_full
    assert len(seen_res) == len(seen_full)  # no duplicated key either
