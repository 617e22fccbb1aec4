"""Spark-side equivalence: the Catalyst regexp chain (T1) and the native
accept filter / pandas UDFs must agree with the pure-Python contract when
run through a real session, including plan-level checks (pushdown,
codegen)."""

import pytest
from pyspark.sql import functions as F

from crawlspark import canon
from crawlspark.purl import accept, normalize, normalize_key, parse_url
from crawlspark.textnorm import normalize_text, normalize_text_col
from tests.test_textnorm import CORPUS


def test_textnorm_catalyst_chain_matches_python(spark):
    df = spark.createDataFrame([(i, s) for i, (s, _) in enumerate(CORPUS)], "i int, s string")
    got = {
        r["i"]: r["n"]
        for r in df.select("i", normalize_text_col("s").alias("n")).collect()
    }
    for i, (inp, want) in enumerate(CORPUS):
        assert got[i] == want == normalize_text(inp)


def test_udfs_match_purl_through_spark(spark):
    udfs = canon.register_udfs()
    rows = [
        ("http://google.com/sub", "search?q=1"),
        ("http://google.com", "#frag"),
        ("http://h.example/dir/page.html", "../up.html"),
        ("http://h.example/a/", "//cdn.example/x.png"),
        ("http://h.example", "mailto:x@y"),
    ]
    df = spark.createDataFrame(rows, "parent string, href string")
    out = df.select(
        "parent", "href",
        udfs["canonize"](F.col("parent"), F.col("href")).alias("c"),
    ).withColumn("key", udfs["url_key"](F.col("c.url"))["url_key"]).collect()
    for r in out:
        u = normalize(parse_url(r["parent"]), r["href"])
        want_resolved = u.to_string() if u else None
        assert r["c"]["url"] == want_resolved
        if u is not None:
            assert r["c"]["url_key"] == r["key"] == normalize_key(
                parse_url(want_resolved)
            )
    # a URL purl cannot parse, and a null one, key to null
    keys = spark.createDataFrame(
        [("http://a b.com/",), (None,)], "url string"
    ).select(udfs["url_key"](F.col("url")).alias("k")).collect()
    assert [tuple(r["k"]) for r in keys] == [(None, None), (None, None)]


def test_accept_filter_col_matches_purl(spark):
    urls = [
        "http://example.com/site1.html",
        "http://example.com/notwant",
        "http://other.com/x",
        "http://example.com:8080/x",
    ]
    reject, acc = ["notwant"], [r"\.html$", "x"]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = {
        r["url"]: r["ok"]
        for r in df.select(
            "url",
            canon.accept_filter_col("url", "example.com", reject, acc).alias("ok"),
        ).collect()
    }
    for u in urls:
        assert got[u] == accept(parse_url(u), "example.com", reject, acc)


def _href_rows(bulk: bool) -> list:
    """(parent_url, rid, href) rows over every href shape; ``bulk`` adds
    200 absolute machine-generated links (the native-path bulk case)."""
    from tests.test_canon_vectorized import HREFS, PARENTS

    rows = [(p, 0, h) for p in PARENTS for h in HREFS]
    if bulk:
        rows += [(PARENTS[0], 0, f"http://h{j % 7}.example/p/{j}?x={j}#f{j}")
                 for j in range(200)]
    return [(p, i, h) for i, (p, _, h) in enumerate(rows)]


def _prepared_input(spark, rows):
    """The engine's link shape: parent_url plus its hoisted parent
    columns (canon.parent_cols) above the href."""
    df = spark.createDataFrame(rows, "parent_url string, rid long, href string")
    return df.select(
        "parent_url", "rid", "href", *canon.parent_cols(F.col("parent_url"))
    )


def _pd_reference(rows) -> dict:
    """The oracle's (url, host, url_key) per link, straight from purl;
    all None for a link the reference skips."""
    out = {}
    for parent, rid, href in rows:
        u = normalize(parse_url(parent), href)
        out[rid] = (
            (None, None, None) if u is None
            else (u.to_string(), u.host, normalize_key(u))
        )
    return out


def _as_dict(df) -> dict:
    return {
        r["rid"]: (r["url"], r["host"], r["url_key"]) for r in df.collect()
    }


def test_native_canonize_matches_udf(spark):
    """The JVM-native canonicalization tier plus the exact UDF must agree
    with purl row for row over every href shape."""
    rows = _href_rows(bulk=True)
    fast, slow = canon.canonize_links_split(
        canon.canonize_links_prepared(_prepared_input(spark, rows), "href"),
        canon.register_udfs()["canonize"],
    )
    assert _as_dict(fast.unionByName(slow)) == _pd_reference(rows)
    # sanity: the native branch actually covered the machine-generated bulk
    assert fast.count() >= 200


def test_canonize_urls_matches_purl(spark):
    """The seed path (canonize_urls: native + exact url_key_udf) gives
    every raw URL purl's canonical string and key — an uppercase scheme
    or an empty query is rewritten, not kept raw — and "" keys to "/".
    A URL purl cannot key (a null one) is dropped."""
    from tests.test_canon_vectorized import PARENTS, URLS
    from tests.test_percent_encoding import ESCAPED_URLS

    raws = URLS + ESCAPED_URLS + PARENTS + [None, ""]
    df = spark.createDataFrame(list(enumerate(raws)), "rid long, url string")
    out = canon.canonize_urls(df, "url", canon.register_udfs()["url_key"])
    got = {r["rid"]: (r["url"], r["url_key"]) for r in out.collect()}
    want = {}
    for rid, raw in enumerate(raws):
        u = parse_url(raw)
        if u is not None:
            want[rid] = (u.to_string(), normalize_key(u))
    assert got == want
    assert len(raws) - 2 not in got
    assert got[len(raws) - 1] == ("", "/")
    # both tiers exercised
    n_native = df.filter(canon.url_native(F.col("url"))).count()
    assert 0 < n_native < len(raws)


def test_native_canonize_precomputed_parent_cols(spark):
    """The engine hoists the parent-derived columns (_pprefix/_phost/
    _parent_ok) above the link explode. Over that precomputed input the
    split (native + udf) must (a) produce output identical to the exact
    UDF applied to every row through Spark and (b) never leak the private
    columns into the output schema."""
    rows = _href_rows(bulk=False)
    udf = canon.register_udfs()["canonize"]
    pre = _prepared_input(spark, rows)
    assert {"_pprefix", "_phost", "_parent_ok"} <= set(pre.columns)

    fast, slow = canon.canonize_links_split(
        canon.canonize_links_prepared(pre, "href"), udf
    )
    out = fast.unionByName(slow)
    assert not any(c.startswith(("_p", "_c")) for c in out.columns)
    got_split = _as_dict(out)

    all_udf = pre.select(
        "rid", udf(F.col("parent_url"), F.col("href")).alias("c")
    ).select("rid", "c.url", "c.host", "c.url_key")
    assert got_split == _as_dict(all_udf) == _pd_reference(rows)
    # the precomputed root-relative tier did route some rows natively
    assert fast.count() >= 1


def test_prepared_split_cached_matches_udf(spark):
    """The engine's round shape — canonize_links_prepared over the
    hoisted parent columns, PERSISTED, then canonize_links_split's union
    over the cache — must produce the same rows as purl over every href
    shape (with and without the absolute bulk), the
    prepared projection must store NULL url/host/url_key and the raw
    (parent_url, href) pair exactly on the non-native rows, and no
    private column (_cn/_cp/_cf or the hoisted _p*) may leak into the
    prepared projection or the union's output schema."""
    udf = canon.register_udfs()["canonize"]
    for bulk in (False, True):
        rows = _href_rows(bulk)
        pre = canon.canonize_links_prepared(
            _prepared_input(spark, rows), "href"
        ).persist()
        try:
            assert not any(c.startswith("_p") for c in pre.columns)
            # the prepared projection's invariants
            for r in pre.collect():
                if r["_cn"]:
                    assert r["url"] is not None and r["url_key"] is not None
                    assert r["_cp"] is None and r["_cf"] is None
                else:
                    assert r["url"] is None and r["host"] is None
                    assert r["url_key"] is None
                    assert r["_cp"] is not None  # parent_url is never null

            fast, slow = canon.canonize_links_split(pre, udf)
            out = fast.unionByName(slow)
            assert set(out.columns) == {"rid", "url", "host", "url_key"}
            assert _as_dict(out) == _pd_reference(rows)
            # both tiers genuinely exercised on this corpus
            n_fast = fast.count()
            assert n_fast >= (200 if bulk else 1)
            assert slow.count() == len(rows) - n_fast > 0
        finally:
            pre.unpersist()


def test_parquet_scan_pushdown(spark, tmp_path):
    """Filter + projection must reach the parquet scan (the 100 TB
    contract: a scan reading all columns for a 2-column projection is
    wrong)."""
    from crawlspark.schemas import PAGES
    from crawlspark.synth import richsite

    pages, _ = richsite()
    path = str(tmp_path / "pages")
    spark.createDataFrame(pages, PAGES).write.parquet(path)
    df = (
        spark.read.parquet(path)
        .filter(F.col("host") == "rich.example")
        .select("url_key", "status")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(host), EqualTo(host,rich.example)" in plan
    assert "ReadSchema: struct<host:string,url_key:string,status:int" in plan


def test_politeness_topk_no_host_exchange_before_salt(spark):
    """The two-phase politeness top-k must not hash-partition on bare
    host in phase 1 (that exchange is exactly the hot-host skew)."""
    from crawlspark.schedule import schedule_round

    frontier = spark.range(1000).select(
        F.concat(F.lit("h"), (F.col("id") % 3).cast("string")).alias("host"),
        F.col("id").alias("disc_order"),
        F.lit(0.0).alias("priority"),
        F.col("id").cast("string").alias("url_key"),
        F.col("id").cast("string").alias("seen_key"),
        F.col("id").cast("string").alias("url"),
    )
    sched, carry = schedule_round(frontier, host_budget=5)
    plan = sched._jdf.queryExecution().executedPlan().toString()
    # phase-1 window partitions by (host, salt); only the tiny survivor set
    # (≤ salt×budget per host) is exchanged by bare host
    assert "hashpartitioning(host" in plan
    assert "_salt" in plan
