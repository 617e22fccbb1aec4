"""Local mirror of the driver's correctness harness: run each
__spark_entry__ query on Spark and its oracle_sql on DuckDB over the same
parquet, compare row count + column names + sorted values."""

import math
import os
import subprocess
import sys

import duckdb
import pytest

SF = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def duck_con():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    return con


def canon(rows, cols):
    out = []
    for row in rows:
        vals = []
        for c in cols:
            v = row[c]
            if isinstance(v, float):
                v = round(v, 6)
                if math.isnan(v):
                    v = "NaN"
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda t: tuple(str(x) for x in t))
    return out


def compare(spark, name):
    import __spark_entry__ as entry

    q = entry.queries()[name]
    sql = entry.oracle_sql()[name]
    sdf = q(spark, SF)
    scols = sorted(sdf.columns)
    srows = [r.asDict() for r in sdf.collect()]

    con = duck_con()
    res = con.execute(sql)
    dcols = [d[0] for d in res.description]
    drows = [dict(zip(dcols, r)) for r in res.fetchall()]
    con.close()

    assert scols == sorted(dcols), f"{name}: columns {scols} != {sorted(dcols)}"
    assert len(srows) == len(drows), f"{name}: rows {len(srows)} != {len(drows)}"
    a, b = canon(srows, scols), canon(drows, scols)
    mism = [i for i, (x, y) in enumerate(zip(a, b)) if x != y][:5]
    assert a == b, f"{name}: value mismatch at {mism}: {[(a[i], b[i]) for i in mism]}"


SQL_QUERIES = [
    "politeness_topk", "budget_limit", "seen_antijoin", "span_explode",
    "dedup_exact", "dedup_exact_hash", "ngram_jaccard", "embedding_topk",
    "lang_id", "quality_score", "token_count", "fingerprint", "ws_normalize",
    # md5-rekeyed sketches + literal-expected crawl goldens (round 2):
    "minhash_lsh", "simhash_dups", "ann_lsh_topk", "media_features",
    "crawl_order_basic16", "crawl_span_documents", "crawl_metrics",
]


@pytest.mark.parametrize("name", SQL_QUERIES)
def test_sql_query_matches_duckdb(spark, name):
    compare(spark, name)


def test_every_query_has_an_oracle():
    """The driver's hard correctness gate: every operator claimed in
    queries() is DuckDB-checkable."""
    import __spark_entry__ as entry

    assert set(entry.oracle_sql()) == set(entry.queries())


def test_sketch_queries_deterministic(spark):
    import __spark_entry__ as entry

    for name in ("minhash_lsh", "ann_lsh_topk"):
        df = entry.queries()[name](spark, SF)
        df2 = entry.queries()[name](spark, SF)
        assert sorted(map(str, df.collect())) == sorted(map(str, df2.collect()))


def test_entry_smoke(spark):
    import __spark_entry__ as entry

    df = entry.entry(spark)
    assert df.columns == ["doc_id", "spans"]
    n = df.count()
    assert n > 0
    # the seed is enqueued un-normalized (no trailing slash) — doc_id is the
    # URL exactly as crawled
    first = df.filter(df.doc_id == "http://rich.example").collect()
    assert len(first) == 1 and len(first[0]["spans"]) > 0


_EXIT_SCRIPT = """
import __spark_entry__ as entry
from crawlspark.session import get_spark
from crawlspark.synth import chain

spark = get_spark(cores=1, app="entry-exit", driver_mem="1g")
pages, seeds = chain(2)
res = entry._run_crawl(spark, pages, seeds, host="chain.example")
assert res.order_df().count() == 2
print(entry._checkpoint_root())
print(res.store.root)
"""


def test_entry_checkpoints_removed_at_exit(tmp_path):
    """_run_crawl puts each crawl's checkpoint under one per-process
    directory, and that directory is gone once the process exits."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", _EXIT_SCRIPT], cwd=repo, capture_output=True,
        text=True, timeout=600, env={**os.environ, "TMPDIR": str(tmp_path)},
    )
    assert out.returncode == 0, out.stderr[-3000:]
    root, ckpt = out.stdout.split()[-2:]
    assert os.path.dirname(root) == str(tmp_path)
    assert os.path.dirname(ckpt) == root
    assert not os.path.exists(root)
