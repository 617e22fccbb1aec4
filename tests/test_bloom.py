"""Bloom prefilter: no false negatives ever (exactness), useful selectivity
on non-members, and end-to-end crawl equality with the bloom path on."""

from types import SimpleNamespace

from pyspark.sql import functions as F

from crawlspark import bloom
from crawlspark.engine import CrawlConfig, Crawler
from crawlspark.oracle import crawl as oracle_crawl
from crawlspark.schemas import PAGES
from crawlspark.synth import pages_index, richsite


def n_new(spark, keys, bdict, cfg):
    """Keys the bitmaps call provably new (``_maybe`` false)."""
    flagged = bloom.flag_candidates(spark, keys, "k", bdict, cfg)
    return flagged.filter(~F.col("_maybe")).count()


def test_bloom_no_false_negatives_and_selectivity(spark):
    cfg = bloom.BloomConfig(buckets=8, bits_per_bucket=1 << 16)
    members = spark.range(2000).select(
        F.concat(F.lit("/page/"), F.col("id").cast("string")).alias("k")
    )
    bdict = bloom.to_dict(bloom.build_or_update(members, "k", cfg))
    assert set(bdict) <= set(range(8))
    assert n_new(spark, members, bdict, cfg) == 0  # every member positive

    others = spark.range(2000).select(
        F.concat(F.lit("/other/"), F.col("id").cast("string")).alias("k")
    )
    # false-positive rate must be low at this sizing (~2k keys in 512Kbit)
    assert n_new(spark, others, bdict, cfg) > 1900


def test_bloom_incremental_update(spark):
    """Bitmaps rolled forward the way the engine does it between merge
    rounds (fresh-key bitmaps OR-ed into the driver copy) keep every
    key of every round."""
    cfg = bloom.BloomConfig(buckets=4, bits_per_bucket=1 << 14)
    a = spark.range(100).select(F.concat(F.lit("a"), "id").alias("k"))
    b = spark.range(100).select(F.concat(F.lit("b"), "id").alias("k"))
    holder = SimpleNamespace(
        _bloom_dict=bloom.to_dict(bloom.build_or_update(a, "k", cfg))
    )
    Crawler._roll_bloom_local(
        holder, bloom.to_dict(bloom.build_or_update(b, "k", cfg))
    )
    d = holder._bloom_dict
    assert n_new(spark, a, d, cfg) == 0 and n_new(spark, b, d, cfg) == 0


def test_crawl_with_bloom_matches_oracle(spark, tmp_path, monkeypatch):
    probes = []
    flag = bloom.flag_candidates
    monkeypatch.setattr(
        bloom, "flag_candidates",
        lambda *a, **kw: probes.append(1) or flag(*a, **kw),
    )
    pages, seeds = richsite()
    pages_df = spark.createDataFrame(pages, PAGES)
    cfg = CrawlConfig(
        checkpoint_dir=str(tmp_path / "ck"), host="rich.example",
        use_bloom=True, bloom_buckets=4, bloom_bits=1 << 16,
        seen_probe="merge",
    )
    res = Crawler(spark, pages_df, cfg).run(seeds)
    assert probes  # the merge rounds took the bloom path
    oracle = oracle_crawl(pages_index(pages), seeds, "rich.example")
    got = sorted(
        (r["url"], r["round"], r["disc_order"]) for r in res.order_df().collect()
    )
    want = sorted((r.url, r.round, r.disc_order) for r in oracle.order)
    assert got == want
    assert {r["url_key"] for r in res.seen_df().collect()} == oracle.seen
