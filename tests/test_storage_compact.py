"""Seen-table compaction (storage.compact / maybe_compact): bounded file
count, crash-window recovery, and exact resume semantics through a
compacted dir (VERDICT r3 task #6).
"""

from __future__ import annotations

import json
import os

import pytest

from crawlspark.storage import CheckpointStore


def _mk_rows(spark, batch, keys):
    return spark.createDataFrame(
        [(k, batch) for k in keys], "url_key string, first_round int"
    )


def _keys(df):
    return sorted((r["url_key"], r["first_round"]) for r in df.collect())


def _parquet_files(path):
    out = []
    for root, _, files in os.walk(path):
        out += [os.path.join(root, f) for f in files if f.endswith(".parquet")]
    return out


def test_compact_merges_and_bounds_files(spark, tmp_path):
    st = CheckpointStore(spark, str(tmp_path))
    want = []
    for b in range(6):
        keys = [f"k{b}_{i}" for i in range(5)]
        st.append("seen", _mk_rows(spark, b, keys), b)
        want += [(k, b) for k in keys]
    n_before = len(_parquet_files(str(tmp_path / "seen")))
    st.compact("seen", 5)
    # single batch dir holding a single file
    dirs = [d for d in os.listdir(tmp_path / "seen") if d.startswith("batch=")]
    assert dirs == ["batch=5"]
    files = _parquet_files(str(tmp_path / "seen"))
    assert len(files) == 1 < n_before
    assert os.path.dirname(files[0]) == str(tmp_path / "seen" / "batch=5")
    assert _keys(st.read("seen")) == sorted(want)
    # appends after compaction coexist; a second compaction folds them in
    st.append("seen", _mk_rows(spark, 6, ["k6_0"]), 6)
    st.compact("seen", 6)
    assert _keys(st.read("seen")) == sorted(want + [("k6_0", 6)])


def test_maybe_compact_fanin_gate(spark, tmp_path):
    st = CheckpointStore(spark, str(tmp_path))
    for b in range(3):
        st.append("seen", _mk_rows(spark, b, [f"k{b}"]), b)
    assert not st.maybe_compact("seen", 2, fanin=4)
    assert len(os.listdir(tmp_path / "seen")) == 3
    st.append("seen", _mk_rows(spark, 3, ["k3"]), 3)
    assert st.maybe_compact("seen", 3, fanin=4)
    dirs = [d for d in os.listdir(tmp_path / "seen") if d.startswith("batch=")]
    assert dirs == ["batch=3"]
    assert not st.maybe_compact("seen", 3, fanin=4)  # idempotent


def test_truncate_after_rewrites_compacted_dir(spark, tmp_path):
    """Resume to a round OLDER than the compaction point: the compacted
    dir must be filtered on first_round, not dropped wholesale — exactly
    the keys of rounds <= max_batch survive (resume-from-any-round)."""
    st = CheckpointStore(spark, str(tmp_path))
    for b in range(5):
        st.append("seen", _mk_rows(spark, b, [f"k{b}"]), b)
    st.compact("seen", 4)
    st.truncate_after("seen", 2)
    assert _keys(st.read("seen")) == [("k0", 0), ("k1", 1), ("k2", 2)]
    # the rewritten dir is itself compacted: a second, deeper truncate works
    st.truncate_after("seen", 0)
    assert _keys(st.read("seen")) == [("k0", 0)]
    # and plain (uncompacted) dirs still just get dropped
    st.append("seen", _mk_rows(spark, 1, ["k1b"]), 1)
    st.truncate_after("seen", 0)
    assert _keys(st.read("seen")) == [("k0", 0)]


def test_torn_compaction_recovered_on_reopen(spark, tmp_path):
    """Crash INSIDE the commit window (journal written, merged dirs
    partially removed, rename not done): reopening the store must finish
    the compaction with no key lost or duplicated."""
    import shutil

    st = CheckpointStore(spark, str(tmp_path))
    want = []
    for b in range(4):
        st.append("seen", _mk_rows(spark, b, [f"k{b}"]), b)
        want.append((f"k{b}", b))
    path = str(tmp_path / "seen")

    # manufacture the torn state the same way _write_compacted would:
    # tmp fully written + journal committed, then "crash" after removing
    # only SOME of the merged dirs
    real_finish = CheckpointStore._finish_compaction
    try:
        CheckpointStore._finish_compaction = lambda self, *a: None
        st.compact("seen", 3)
    finally:
        CheckpointStore._finish_compaction = real_finish
    assert os.path.exists(os.path.join(path, "_compact_journal.json"))
    shutil.rmtree(os.path.join(path, "batch=1"))  # partial removal

    st2 = CheckpointStore(spark, str(tmp_path))  # recovery on open
    assert not os.path.exists(os.path.join(path, "_compact_journal.json"))
    dirs = [d for d in os.listdir(path) if d.startswith("batch=")]
    assert dirs == ["batch=3"]
    assert _keys(st2.read("seen")) == sorted(want)


def test_crawl_with_aggressive_compaction_identical(spark, tmp_path):
    """E2E: a 30-round chain crawl with fanin=3 (compacting every ~3
    rounds) produces the identical order table and seen set as the
    uncompacted crawl, and resume-mid-crawl still matches."""
    from crawlspark.engine import CrawlConfig, Crawler
    from crawlspark.schemas import PAGES
    from crawlspark.synth import chain

    pages, seeds = chain(30)
    pages_df = spark.createDataFrame(pages, PAGES)

    def crawl(fanin, ckpt, max_rounds=0, resume=False):
        cfg = CrawlConfig(
            checkpoint_dir=str(ckpt), host="example.com",
            seen_compact_fanin=fanin, max_rounds=max_rounds,
        )
        return Crawler(spark, pages_df, cfg).run(seeds, resume=resume)

    res_c = crawl(3, tmp_path / "compact")
    res_u = crawl(0, tmp_path / "plain")
    key = lambda res: sorted(
        (r["url"], r["round"], r["disc_order"])
        for r in res.order_df().collect()
    )
    assert key(res_c) == key(res_u)
    assert (
        sorted(r["url_key"] for r in res_c.seen_df().collect())
        == sorted(r["url_key"] for r in res_u.seen_df().collect())
    )
    # file-count bound actually holds after 30 rounds
    seen_dirs = [
        d for d in os.listdir(tmp_path / "compact" / "seen")
        if d.startswith("batch=")
    ]
    assert len(seen_dirs) <= 3

    # stop at round 10, resume with compaction still on: identical end state
    crawl(3, tmp_path / "resume", max_rounds=10)
    res_r = crawl(3, tmp_path / "resume", resume=True)
    assert key(res_r) == key(res_u)


def test_append_local_failed_write_keeps_previous_batch(tmp_path):
    """append_local replaces a batch file atomically: a retried write that
    raises leaves the previous file in place and readable (pyarrow only,
    no Spark)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    st = CheckpointStore(None, str(tmp_path))
    schema = pa.schema([("round", pa.int32()), ("n", pa.int64())])
    st.append_local("metrics", {"round": [3], "n": [7]}, schema, 3)
    with pytest.raises((pa.ArrowInvalid, pa.ArrowTypeError)):
        st.append_local("metrics", {"round": [3], "n": ["x"]}, schema, 3)
    batch = tmp_path / "metrics" / "batch=3"
    assert sorted(os.listdir(batch)) == ["part-00000.parquet"]
    assert pq.read_table(batch / "part-00000.parquet").to_pylist() == [
        {"round": 3, "n": 7}
    ]
