"""E2E tests for the round-2 engine features: robots crawl-delay →
per-host politeness budgets, and the user-hook seams (IsAcceptedFunc /
ProcessFunc / RemoveFunc analogues) — each pinned against the pure-Python
reference oracle running with the identical hooks/budgets."""

import pytest

from crawlspark import oracle as ora
from crawlspark import synth
from crawlspark.engine import CrawlConfig, Crawler
from crawlspark.schemas import PAGES, ROBOTS_RULE
from crawlspark.synth import pages_index, richsite


def _two_host_site():
    """Two hosts, each a chain root fanning out to 8 leaves."""
    pages = []
    for h in ("slow.example", "fast.example"):
        base = f"http://{h}"
        links = "\n".join(
            f'<a href="/leaf{i}.html">leaf {i}</a>' for i in range(8)
        )
        pages.append(synth._row(f"{base}/", html=synth._page(links)))
        for i in range(8):
            pages.append(
                synth._row(f"{base}/leaf{i}.html", html=synth._page(""))
            )
    return pages, ["http://slow.example/", "http://fast.example/"]


def _run(spark, tmp_path, pages, seeds, robots=None, **cfg):
    pages_df = spark.createDataFrame(pages, PAGES)
    ckpt = str(tmp_path / "ckpt")
    robots_df = (
        spark.createDataFrame(robots, ROBOTS_RULE) if robots else None
    )
    return Crawler(
        spark, pages_df, CrawlConfig(checkpoint_dir=ckpt, **cfg),
        robots_rules=robots_df,
    ).run(seeds)


def _order_tuples(result):
    return [
        (r["url"], r["round"], r["disc_order"])
        for r in result.order_df().orderBy("disc_order").collect()
    ]


def _oracle_tuples(oracle):
    # oracle.order is in fetch order; disc_order is the canonical total
    # order both sides sort by (same convention as test_engine_e2e)
    return sorted(oracle.order_tuples, key=lambda t: t[2])


def test_crawl_delay_budgets_match_oracle(spark, tmp_path):
    """slow.example has crawl-delay 10s; with a 30s round wall its budget
    is ceil(30/10)=3/round, while fast.example gets the default
    ceil(30/3)=10/round — scheduling (and therefore crawl order and round
    assignment) must equal the oracle's with the same budget map."""
    pages, seeds = _two_host_site()
    robots = [
        ("slow.example", "/", True, 10.0),
    ]
    res = _run(
        spark, tmp_path, pages, seeds,
        robots=robots,
        multi_host=True,
        hosts=["slow.example", "fast.example"],
        round_wall_secs=30.0,
        default_delay_secs=3.0,
    )
    expected = ora.crawl(
        pages_index(pages), seeds, "",
        multi_host=True, hosts={"slow.example", "fast.example"},
        host_budgets={"slow.example": 3}, default_budget=10,
    )
    assert _order_tuples(res) == _oracle_tuples(expected)
    # the budget actually bit: slow.example needs extra rounds for 9 URLs
    slow_rounds = {
        r["round"]
        for r in res.order_df().filter("host = 'slow.example'").collect()
    }
    assert len(slow_rounds) >= 3
    fast_rounds = {
        r["round"]
        for r in res.order_df().filter("host = 'fast.example'").collect()
    }
    assert len(fast_rounds) <= 2
    m = {
        r["round"]: r["scheduled"]
        for r in res.metrics_df().collect()
    }
    assert m[1] <= 3 + 10  # per-host caps respected after round 0


def test_crawl_delay_without_rules_uses_default(spark, tmp_path):
    """No robots rules: every host gets ceil(round_wall/default)."""
    pages, seeds = _two_host_site()
    res = _run(
        spark, tmp_path, pages, seeds,
        multi_host=True, hosts=["slow.example", "fast.example"],
        round_wall_secs=9.0, default_delay_secs=3.0,  # budget 3/host/round
    )
    expected = ora.crawl(
        pages_index(pages), seeds, "",
        multi_host=True, hosts={"slow.example", "fast.example"},
        default_budget=3,
    )
    assert _order_tuples(res) == _oracle_tuples(expected)


def test_crawl_delay_shorter_than_default_wins(spark, tmp_path):
    """A host advertising a crawl-delay SHORTER than the configured
    default gets the LARGER budget its own rule allows — reference
    semantics: Worker.Delay applies only 'if there is not robots.txt
    crawl delay' (crawler.go:110-113), never as a floor (ADVICE r2).
    fast.example: delay 1s, wall 9s ⇒ budget 9 (old max() bug gave 3);
    slow.example: no rule ⇒ default ceil(9/3)=3."""
    pages, seeds = _two_host_site()
    robots = [
        ("fast.example", "/", True, 1.0),
    ]
    res = _run(
        spark, tmp_path, pages, seeds,
        robots=robots,
        multi_host=True, hosts=["slow.example", "fast.example"],
        round_wall_secs=9.0, default_delay_secs=3.0,
    )
    expected = ora.crawl(
        pages_index(pages), seeds, "",
        multi_host=True, hosts={"slow.example", "fast.example"},
        host_budgets={"fast.example": 9}, default_budget=3,
    )
    assert _order_tuples(res) == _oracle_tuples(expected)
    # the larger budget actually bit: fast.example finishes its 9 pages
    # in fewer rounds than slow.example needs for its own
    fast_rounds = {
        r["round"]
        for r in res.order_df().filter("host = 'fast.example'").collect()
    }
    slow_rounds = {
        r["round"]
        for r in res.order_df().filter("host = 'slow.example'").collect()
    }
    assert max(fast_rounds) < max(slow_rounds)


# ---------------------------------------------------------------------------
# user hooks
# ---------------------------------------------------------------------------


# hooks are lambdas/closures so cloudpickle ships them BY VALUE to
# executors (a module-level function in a test file would pickle by
# reference and fail to import worker-side — the same rule applies to
# real user code launched from a __main__ script)
_accept_no_a1 = (
    lambda url: url.startswith("http://rich.example")
    and "/articles/a1" not in url
)
_upper_text_spans = lambda url, spans: [  # noqa: E731
    {**s, "text": s["text"].upper()} if s["kind"] == "text" else s
    for s in spans
]
_drop_vowel_e = lambda ch: ch == "e"  # noqa: E731


def test_accept_fn_hook_matches_oracle(spark, tmp_path):
    """Custom IsAcceptedFunc (rejects /articles/a1*) steers BOTH engines
    identically: same order, same seen set."""
    pages, seeds = richsite()
    res = _run(spark, tmp_path, pages, seeds, host="rich.example",
               accept_fn=_accept_no_a1)
    expected = ora.crawl(
        pages_index(pages), seeds, "rich.example", accept_fn=_accept_no_a1
    )
    assert _order_tuples(res) == _oracle_tuples(expected)
    urls = [u for (u, _, _) in expected.order_tuples]
    assert not any("/articles/a1." in u for u in urls)
    # sanity: the hook actually rejected pages the default crawl visits
    base = ora.crawl(pages_index(pages), seeds, "rich.example")
    assert len(urls) < len(base.order_tuples)


def test_process_and_remove_hooks_match_oracle(spark, tmp_path):
    """ProcessFunc (uppercase text spans) + RemoveFunc (strip 'e' before
    whitespace normalization) flow through the Arrow parse stage and the
    oracle identically."""
    pages, seeds = richsite()
    res = _run(
        spark, tmp_path, pages, seeds, host="rich.example",
        process_fn=_upper_text_spans, remove_fn=_drop_vowel_e,
    )
    expected = ora.crawl(
        pages_index(pages), seeds, "rich.example",
        process_fn=_upper_text_spans, remove_fn=_drop_vowel_e,
    )
    got = {
        r["doc_id"]: [s.asDict() for s in r["spans"]]
        for r in res.documents_df().collect()
    }
    exp = dict(expected.documents)
    assert got == exp
    # hooks demonstrably applied: no lowercase 'e' survives in text spans
    texts = [s["text"] for spans in got.values() for s in spans
             if s["kind"] == "text"]
    assert texts and all("e" not in t for t in texts)
    assert any(t != t.lower() for t in texts)  # uppercased
