"""Routing-equality suite for the JVM-native parse tier (parse.py).

The contract: parse_stage(native=True) ≡ parse_stage(native=False) row for
row on ANY input — clean pages take the native projection, dirty pages
route to the exact Arrow parse, and the split must be invisible in the
output. The canon.py precedent is
test_spark_canon.py::test_native_canonize_matches_udf.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crawlspark.parse import clean_page_pred, parse_stage
from crawlspark.schemas import PAGES
from crawlspark.synth import basic16, chain, powerlaw, richsite


def _fetched_df(spark, pages, extra_rows=()):
    """Build a fetched-shaped DataFrame from synth pages rows: frontier
    passthrough columns + (status, content_html, guard_ok)."""
    rows = []
    for i, p in enumerate(pages):
        rows.append(
            (
                p["url"], p["host"], p["url_key"], 0, i, 0.0,
                p["status"], p["content_html"] if p["status"] == 200 else None,
                True,
            )
        )
    rows.extend(extra_rows)
    schema = (
        "url string, host string, url_key string, round int, "
        "disc_order long, priority double, status int, "
        "content_html string, guard_ok boolean"
    )
    return spark.createDataFrame(rows, schema)


def _collect_parsed(df):
    out = []
    for r in df.orderBy("disc_order").collect():
        spans = (
            None
            if r["spans"] is None
            else [tuple(s) for s in r["spans"]]
        )
        links = (
            None
            if r["links"] is None
            else [tuple(x) for x in r["links"]]
        )
        out.append(
            (
                r["url"], r["host"], r["url_key"], r["round"],
                r["disc_order"], r["priority"], r["status"],
                r["fetched_ok"], spans, links,
            )
        )
    return out


FAILED_ROWS = [
    # guard failure: content ignored, null spans/links
    ("http://off.example/x", "off.example", "/x", 0, 10_000, 0.0, 200,
     "<p>never parsed</p>", False),
    # non-200: null spans/links
    ("http://h0.example/dead", "h0.example", "/dead", 0, 10_001, 0.0, 404,
     None, True),
    # 200 but missing body (resolver miss)
    ("http://h0.example/null", "h0.example", "/null", 0, 10_002, 0.0, 200,
     None, True),
]


@pytest.mark.parametrize(
    "graph",
    ["basic16", "richsite", "powerlaw", "chain"],
)
def test_native_matches_arrow_on_synth_corpora(spark, graph):
    pages = {
        "basic16": lambda: basic16()[0],
        "richsite": lambda: richsite(n_articles=12)[0],
        "powerlaw": lambda: powerlaw(n_pages=400, n_hosts=8)[0],
        "chain": lambda: chain(30)[0],
    }[graph]()
    fetched = _fetched_df(spark, pages, FAILED_ROWS)
    exact = _collect_parsed(parse_stage(fetched, native=False))
    fast = _collect_parsed(parse_stage(fetched, native=True))
    assert fast == exact


DIRTY_PAGES = [
    # each must fail clean_page_pred and still parse identically via the
    # exact tier
    "<p>a &amp; b &lt;tag&gt;</p>",                      # entities in text
    '<a href="/x?a=1&amp;b=2">q</a>',                    # entity in href
    "<p>x</p><!-- hidden <a href=\"/no\">n</a> -->",     # comment
    "<script>var a='<a href=\"/no\">x</a>';</script><p>y</p>",  # script
    "<style>.a{color:red}</style><p>z</p>",              # style
    "<P>UPPER</P>",                                       # uppercase tags
    '<a href="/x" class="c">attrs</a>',                  # extra attribute
    "<a href='/single'>sq</a>",                          # single quotes
    '<a href="">empty</a>',                              # empty href
    '<a href="/a" href="/b">dup</a>',                    # duplicate attr
    "<div id=\"d\"><p>attr'd container</p></div>",       # attr'd non-anchor
    "<p>\u2009only\u2003exotic ws\u200a</p>",           # unicode ws text
    "<p>\x1c\x1d</p>",                                   # isspace ctrl chars
    '<img src="img/rel.png">',                           # relative media src
    '<img src="/img/pct%20e.png">',                      # % in media src
    '<img src="//cdn.example/i.png">',                   # proto-relative src
    '<img src="#frag">',                                 # unresolvable src
    '<img src="/a b/i.png">',                            # space in src path
    "<p>a<b>b</b >c</p>",                                # space in end tag
    '<a\nhref="/nl">nl</a>',                             # newline in tag
    "<p>tail <a href=",                                  # truncated tag at EOF
]

# Odd-looking pages the grammar deliberately ADMITS because the native
# tier is provably bit-exact on them (html.parser emits trailing
# unclosed-tag text as plain data, exactly like the segmenter):
CLEAN_ODD_PAGES = [
    "<p>tail text",                                      # unclosed tag, text tail
    "text with no tags at all",
    "",                                                  # empty body
    "<br/><hr/>",                                        # self-closing, no text
]


def test_dirty_pages_route_to_exact_tier_and_match(spark):
    rows = []
    for i, html in enumerate(DIRTY_PAGES):
        rows.append(
            (f"http://d.example/p/{i}", "d.example", f"/p/{i}", 0, i, 0.0,
             200, html, True)
        )
    fetched = spark.createDataFrame(
        rows,
        "url string, host string, url_key string, round int, "
        "disc_order long, priority double, status int, "
        "content_html string, guard_ok boolean",
    )
    # all of them must be routed to the exact tier
    n_clean = fetched.filter(
        clean_page_pred(F.col("url"), F.col("content_html"))
    ).count()
    assert n_clean == 0
    exact = _collect_parsed(parse_stage(fetched, native=False))
    fast = _collect_parsed(parse_stage(fetched, native=True))
    assert fast == exact


def test_clean_odd_pages_native_and_match(spark):
    """Pages that LOOK like tag soup but are provably native-safe: they
    must take the fast tier (no Python) and still equal the exact parse."""
    rows = []
    for i, html in enumerate(CLEAN_ODD_PAGES):
        rows.append(
            (f"http://c.example/p/{i}", "c.example", f"/p/{i}", 0, i, 0.0,
             200, html, True)
        )
    fetched = spark.createDataFrame(
        rows,
        "url string, host string, url_key string, round int, "
        "disc_order long, priority double, status int, "
        "content_html string, guard_ok boolean",
    )
    n_clean = fetched.filter(
        clean_page_pred(F.col("url"), F.col("content_html"))
    ).count()
    assert n_clean == len(CLEAN_ODD_PAGES)
    exact = _collect_parsed(parse_stage(fetched, native=False))
    fast = _collect_parsed(parse_stage(fetched, native=True))
    assert fast == exact


def test_clean_parent_edge_cases_match(spark):
    """Pages whose URL (the media-resolution parent) is odd: the native
    tier must either resolve identically or route to Python."""
    rows = []
    cases = [
        # percent-escaped parent path (parent_ok requires only the
        # scheme://host prefix to be %-free — path %'s are irrelevant to
        # rooted resolution)
        ("http://e.example/p%20x", '<img src="/i.png">'),
        # parent with query/fragment
        ("http://e.example/p?a=1", '<img src="/i.png"><a href="/n">n</a>'),
        # uppercase-scheme parent (fails ABS_CLEAN → dirty routing)
        ("HTTP://e.example/p", '<img src="/i.png">'),
        # abs media src, kept verbatim incl. dot segments + fragment
        ("http://e.example/p", '<img src="http://m.example/a/../b#f">'),
        # rooted src with leading spaces (trim ≡ strip on printable srcs)
        ("http://e.example/p2", '<img src="  /lead.png">'),
    ]
    for i, (url, html) in enumerate(cases):
        host = "e.example"
        rows.append((url, host, f"/k{i}", 0, i, 0.0, 200, html, True))
    fetched = spark.createDataFrame(
        rows,
        "url string, host string, url_key string, round int, "
        "disc_order long, priority double, status int, "
        "content_html string, guard_ok boolean",
    )
    exact = _collect_parsed(parse_stage(fetched, native=False))
    fast = _collect_parsed(parse_stage(fetched, native=True))
    assert fast == exact


def test_bench_graph_is_fully_native(spark):
    """The scaling-gate premise: EVERY page of the bench powerlaw graph
    (both generators) passes the clean grammar, so the crawl bench pays
    zero per-page Python."""
    from crawlspark.synth import powerlaw_spark

    pages, _ = powerlaw(n_pages=600, n_hosts=8)
    df = spark.createDataFrame(pages, PAGES)
    n_dirty = df.filter(
        ~clean_page_pred(F.col("url"), F.col("content_html"))
    ).count()
    assert n_dirty == 0

    pages_df, _ = powerlaw_spark(spark, n_pages=600, n_hosts=8)
    n_dirty_spark = pages_df.filter(
        ~clean_page_pred(F.col("url"), F.col("content_html"))
    ).count()
    assert n_dirty_spark == 0


def test_engine_native_toggle_identical(spark, tmp_path):
    """Full-crawl A/B: richsite (media spans + every href form) crawled
    with the native tier on vs forced off (an identity ``process_fn``
    hook routes every page to the exact tier) — identical order table
    and span documents."""
    from crawlspark.engine import CrawlConfig, Crawler

    pages, seeds = richsite(n_articles=8)
    pages_df = spark.createDataFrame(pages, PAGES)

    def crawl(native, ckpt):
        cfg = CrawlConfig(
            checkpoint_dir=str(ckpt),
            host="rich.example",
            process_fn=None if native else (lambda url, spans: spans),
        )
        res = Crawler(spark, pages_df, cfg).run(seeds)
        order = [
            tuple(r)
            for r in res.order_df()
            .orderBy("disc_order")
            .select("url", "round", "disc_order", "status", "fetched_ok")
            .collect()
        ]
        docs = {
            r["doc_id"]: [tuple(s) for s in r["spans"]]
            for r in res.documents_df().collect()
        }
        return order, docs

    order_on, docs_on = crawl(True, tmp_path / "on")
    order_off, docs_off = crawl(False, tmp_path / "off")
    assert order_on == order_off
    assert docs_on == docs_off
