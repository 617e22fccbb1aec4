"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: a full deterministic crawl (frontier →
politeness schedule → resolver fetch → parse → span documents) over the
synthetic rich site, unioned with the sf0.001 documents table lifted into
the same interleaved span-document shape.

``queries()`` — one entry per implemented operator (SURVEY.md §2 +
training-data ops); ``oracle_sql()`` — DuckDB equivalents for the
SQL-expressible ones (hash-sketch and crawl-lifecycle ops are
deterministic but engine-specific ⇒ rows-only checks).
"""

from __future__ import annotations

import atexit
import functools
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crawlspark import analysis
from crawlspark.engine import CrawlConfig, Crawler
from crawlspark.frontier import bucket_counts, order_bucket, with_dense_order
from crawlspark.media import media_features
from crawlspark.schedule import schedule_round
from crawlspark.schemas import PAGES, SPAN
from crawlspark.synth import basic16, richsite
from crawlspark.textnorm import duckdb_normalize_sql

SF0001 = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# crawl helpers (rows-only queries: deterministic, not SQL-expressible)
# ---------------------------------------------------------------------------


@functools.cache
def _checkpoint_root() -> str:
    """This process's one directory for crawl checkpoints, removed at
    exit: the query frames read their checkpoint tables lazily, so no
    checkpoint can go earlier."""
    root = tempfile.mkdtemp(prefix="crawlspark_entry_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


def _run_crawl(spark: SparkSession, pages, seeds, **cfg):
    pages_df = spark.createDataFrame(pages, PAGES)
    ckpt = tempfile.mkdtemp(dir=_checkpoint_root())
    crawler = Crawler(
        spark, pages_df, CrawlConfig(checkpoint_dir=ckpt, **cfg)
    )
    return crawler.run(seeds)


def _spanify_sf_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lift the flat sf documents table into the interleaved span shape
    (sentence text spans + a deterministic media span per document)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sents = F.split(F.col("text"), r"\. ")
    text_spans = F.transform(
        sents,
        lambda s, i: F.struct(
            F.lit("text").alias("kind"),
            s.alias("text"),
            F.lit("").alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )
    media_span = F.array(
        F.struct(
            F.lit("media").alias("kind"),
            F.lit("").alias("text"),
            F.concat(F.lit("http://media.example/img/"),
                     F.col("doc_id").cast("string"),
                     F.lit(".png")).alias("media_ref"),
            F.size(sents).cast("int").alias("offset"),
        )
    )
    return d.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(text_spans, media_span).cast(
            "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
        ).alias("spans"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: crawl the deterministic rich site end-to-end and return
    its interleaved span documents, unioned with the sf0.001 documents
    lifted into the same shape."""
    pages, seeds = richsite()
    result = _run_crawl(
        spark, pages, seeds, host="rich.example", use_bloom=True
    )
    crawled = result.documents_df()
    return crawled.unionByName(_spanify_sf_documents(spark, SF0001))


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def _q_crawl_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages, seeds = basic16()
    res = _run_crawl(spark, pages, seeds, host="example.com")
    return (
        res.order_df()
        .select("url", "round", "disc_order", "fetched_ok")
        .orderBy("disc_order")
    )


def _q_crawl_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages, seeds = richsite()
    res = _run_crawl(spark, pages, seeds, host="rich.example")
    return res.documents_df().select(
        "doc_id", F.posexplode("spans").alias("i", "span")
    ).select(
        "doc_id",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    ).orderBy("doc_id", "offset")


def _q_politeness_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's two-phase per-host politeness top-k (Q5), driven by an
    events-derived frontier so DuckDB can check it with a plain window."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    frontier = ev.select(
        F.col("user_id").cast("string").alias("host"),
        F.col("event_id").alias("disc_order"),
        F.col("value").alias("priority"),
        F.col("event_id").cast("string").alias("url_key"),
        F.col("event_id").cast("string").alias("seen_key"),
        F.col("event_id").cast("string").alias("url"),
    )
    sched, _carry = schedule_round(frontier, host_budget=3, priority_order=True)
    return sched.select(
        "host",
        F.col("disc_order").alias("event_id"),
        F.col("priority").alias("value"),
    )


def _q_budget_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global limit+1 budget via the distributed dense-order index (Q1/Q2
    machinery) — checked against row_number in DuckDB."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_id")
    lo, hi = ev.agg(F.min("event_id"), F.max("event_id")).collect()[0]
    buckets = spark.sparkContext.defaultParallelism
    bucket = F.lit(0)
    if lo is not None:
        bucket = order_bucket(
            F.col("event_id") - F.lit(lo), hi - lo + 1, buckets
        )
    [counts] = ev.agg(bucket_counts(bucket, buckets)).first()
    idx, _n = with_dense_order(
        ev, [F.col("event_id")], "disc_order", bucket, counts
    )
    return idx.filter(F.col("disc_order") < 101).select(
        "event_id", "disc_order"
    )


def _q_seen_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seen-set dedup as left_anti (Q1 cross-round): customers with no
    orders."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return c.join(
        o.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_anti"
    ).select("c_custkey")


def _q_span_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return d.select(
        "doc_id", F.posexplode(F.split(F.col("text"), r"\. ")).alias("offset", "sent")
    ).select("doc_id", F.col("offset").cast("long").alias("offset"), "sent")


def _q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media pipeline: ref → deterministic REAL PNG bytes (full pixel
    encode) → real header decode (IHDR byte parsing) → REAL perceptual
    phash (stdlib zlib+numpy pixel decode + average-hash). Every column
    except the raw bytes is oracle-checked, phash against literal values
    computed INDEPENDENTLY from the raw synth pixels (no encode/decode
    in the oracle path — the image_near_dups certification pattern)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    refs = d.select(
        F.concat(
            F.lit("http://media.example/img/"),
            F.col("doc_id").cast("string"),
            F.lit(".png"),
        ).alias("media_ref")
    )
    return media_features(refs).select(
        "media_ref", "n_bytes", "format", "width", "height", "phash"
    )


def _q_crawl_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNK2 end-to-end as a driver query: the per-round metrics sink of
    the richsite crawl (scheduled / fetched_ok / failed / new_urls —
    reference per-worker done counters + summary, crawler.go:163-167,
    307-311, 351-356)."""
    pages, seeds = richsite()
    res = _run_crawl(spark, pages, seeds, host="rich.example")
    return (
        res.metrics_df()
        .select("round", "scheduled", "fetched_ok", "failed", "new_urls")
        .orderBy("round")
    )


def _q_image_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-dup image pairs over the deterministic synthetic
    image corpus: real PNG encode → binary column → real stdlib pixel
    decode → average-hash → 16-bit-chunk LSH → exact hamming ≤ 3
    (crawlspark.media.image_near_dups)."""
    from crawlspark.media import image_near_dups

    return image_near_dups(spark, sf_dir).orderBy("img_a", "img_b")


def _image_near_dups_sql() -> str:
    """Literal-expected oracle for the perceptual image near-dup
    pipeline, computed INDEPENDENTLY of the Spark path: brute-force
    all-pairs hamming over average-hashes taken straight from the synth
    pixel arrays (no PNG encode, no decode, no LSH). The Spark side
    additionally roundtrips every image through a real PNG encode (all
    five scanline filters) and the stdlib zlib+numpy decoder, so a
    literal match also certifies that roundtrip and certifies the
    chunk-LSH join finds exactly the brute-force pair set."""
    from crawlspark.media import (IMG_SIZE, average_hash,
                                  synth_image_pixels)

    n = 240
    sigs = [average_hash(synth_image_pixels(i, IMG_SIZE)) for i in range(n)]
    rows = ", ".join(
        f"({a}, {b}, {bin(sigs[a] ^ sigs[b]).count('1')})"
        for a in range(n)
        for b in range(a + 1, n)
        if bin(sigs[a] ^ sigs[b]).count("1") <= 3
    )
    return f"""
SELECT CAST(img_a AS INTEGER) AS img_a, CAST(img_b AS INTEGER) AS img_b,
       CAST(hamming AS INTEGER) AS hamming
FROM (VALUES {rows}) AS t(img_a, img_b, hamming)
ORDER BY img_a, img_b
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # crawl engine (rows-only: lifecycle ops, not single SQL statements)
        "crawl_order_basic16": _q_crawl_order,
        "crawl_span_documents": _q_crawl_documents,
        "crawl_metrics": _q_crawl_metrics,
        # crawl building blocks, SQL-checkable
        "politeness_topk": _q_politeness_topk,
        "budget_limit": _q_budget_limit,
        "seen_antijoin": _q_seen_antijoin,
        "span_explode": _q_span_explode,
        # text / training-data ops
        "dedup_exact": analysis.dedup_exact,
        "dedup_exact_hash": analysis.dedup_exact_hash,
        "ngram_jaccard": analysis.ngram_jaccard_pairs,
        "minhash_lsh": analysis.minhash_lsh_pairs,
        "simhash_dups": analysis.simhash_dups,
        "embedding_topk": analysis.embedding_topk,
        "ann_lsh_topk": analysis.ann_lsh_topk,
        "lang_id": analysis.lang_id,
        "quality_score": analysis.quality_score,
        "token_count": analysis.token_count,
        "fingerprint": analysis.fingerprint,
        "ws_normalize": analysis.ws_normalize,
        "media_features": _q_media_features,
        "image_near_dups": _q_image_near_dups,
        "embedding_near_dups": analysis.embedding_near_dups,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_STOP = analysis._STOPWORDS


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _crawl_order_sql() -> str:
    """Literal-expected oracle: the basic16 golden crawl order is fixed
    (reference integration_test.go:38-59), so the oracle is the pure-
    Python reference simulator's output inlined as VALUES."""
    from crawlspark import oracle as _oracle
    from crawlspark.synth import pages_index

    pages, seeds = basic16()
    res = _oracle.crawl(pages_index(pages), seeds, "example.com")
    rows = ", ".join(
        f"({_sql_str(r.url)}, {r.round}, {r.disc_order}, "
        f"{'TRUE' if r.fetched_ok else 'FALSE'})"
        for r in res.order
    )
    return f"""
SELECT url, CAST("round" AS INTEGER) AS "round",
       CAST(disc_order AS BIGINT) AS disc_order, fetched_ok
FROM (VALUES {rows}) AS t(url, "round", disc_order, fetched_ok)
"""


def _crawl_documents_sql() -> str:
    """Literal-expected oracle for the richsite span documents: the
    exploded (doc_id, kind, text, media_ref, offset) rows from the
    pure-Python reference simulator, inlined as VALUES."""
    from crawlspark import oracle as _oracle
    from crawlspark.synth import pages_index

    pages, seeds = richsite()
    res = _oracle.crawl(pages_index(pages), seeds, "rich.example")
    lits = []
    for doc_id, spans in res.documents:
        for s in spans:
            lits.append(
                f"({_sql_str(doc_id)}, {_sql_str(s['kind'])}, "
                f"{_sql_str(s['text'])}, {_sql_str(s['media_ref'])}, "
                f"{s['offset']})"
            )
    rows = ", ".join(lits)
    return f"""
SELECT doc_id, kind, text, media_ref, CAST("offset" AS INTEGER) AS "offset"
FROM (VALUES {rows}) AS t(doc_id, kind, text, media_ref, "offset")
"""


def _crawl_metrics_sql() -> str:
    """Literal-expected oracle for the richsite per-round metrics: the
    pure-Python reference simulator's counts inlined as VALUES."""
    from crawlspark import oracle as _oracle
    from crawlspark.synth import pages_index

    pages, seeds = richsite()
    res = _oracle.crawl(pages_index(pages), seeds, "rich.example")
    rows = ", ".join(
        f"({c['round']}, {c['scheduled']}, {c['fetched_ok']}, "
        f"{c['failed']}, {c['new_urls']})"
        for c in res.counts
    )
    return f"""
SELECT CAST("round" AS INTEGER) AS "round",
       CAST(scheduled AS BIGINT) AS scheduled,
       CAST(fetched_ok AS BIGINT) AS fetched_ok,
       CAST(failed AS BIGINT) AS failed,
       CAST(new_urls AS BIGINT) AS new_urls
FROM (VALUES {rows}) AS t("round", scheduled, fetched_ok, failed, new_urls)
ORDER BY "round"
"""


def _minhash_sql(
    num_perm: int = 64, bands: int = 16, threshold: float = 0.5,
    max_docs: int = 2000,
) -> str:
    """Bit-exact DuckDB mirror of analysis.minhash_lsh_pairs: md5-prefix
    base hashes, the same (a·x+b) mod p permutation literals, md5 band
    keys, band equi-join, agreement-fraction estimate."""
    params = analysis.minhash_perm_params(num_perm)
    perm_values = ", ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(params)
    )
    rpb = num_perm // bands
    agree = (
        "round(CAST(len(list_filter(list_zip(mh_a, mh_b), z -> z[1] = z[2]))"
        f" AS DOUBLE) / {num_perm}, 6)"
    )
    return f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
  WHERE doc_id < {max_docs}
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(0, greatest(len(t) - 3, 0)),
           i -> concat_ws(' ', t[i+1], t[i+2], t[i+3]))) AS s
  FROM d
), shf AS (
  SELECT doc_id, s FROM sh WHERE len(s) > 0
), ex AS (
  SELECT doc_id, ('0x' || substr(md5(unnest(s)), 1, 8))::BIGINT AS x FROM shf
), perms(i, a, b) AS (VALUES {perm_values}),
mh AS (
  SELECT doc_id, i,
         CAST(min((a::HUGEINT * x + b) % {analysis.MINHASH_P}) AS BIGINT) AS m
  FROM ex CROSS JOIN perms GROUP BY doc_id, i
), sig AS (
  SELECT doc_id, list(m ORDER BY i) AS mh FROM mh GROUP BY doc_id
), bandt AS (
  SELECT doc_id, mh, b,
         md5(array_to_string(list_slice(mh, b*{rpb}+1, b*{rpb}+{rpb}), ','))
           AS band_key
  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, {bands - 1})) AS b) bs
), pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
                  a.mh AS mh_a, b2.mh AS mh_b
  FROM bandt a JOIN bandt b2 USING (b, band_key)
  WHERE a.doc_id < b2.doc_id
)
SELECT doc_a, doc_b, {agree} AS est_jaccard
FROM pairs
WHERE {agree} >= {threshold}
"""


def _simhash_sql(max_hamming: int = 3, max_docs: int = 2000) -> str:
    """DuckDB mirror of analysis.simhash_dups: 60-bit md5-prefix token
    hashes, majority-bit signature, brute-force hamming filter (the LSH
    chunk guarantee makes the Spark candidate set ≡ the exact hamming
    predicate, so the oracle may compute it directly)."""
    bits = analysis.SIMHASH_BITS
    return f"""
WITH d AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
  FROM documents WHERE doc_id < {max_docs}
), th AS (
  SELECT doc_id,
         list_transform(toks, t -> ('0x' || substr(md5(t), 1, 15))::BIGINT)
           AS hs
  FROM d WHERE len(toks) > 0
), bitrows AS (
  SELECT doc_id, b,
         CASE WHEN 2 * len(list_filter(hs, h -> (h >> b) & 1 = 1)) >= len(hs)
              THEN 1::BIGINT << b ELSE 0::BIGINT END AS bit
  FROM th CROSS JOIN (SELECT unnest(generate_series(0, {bits - 1})) AS b) bs
), sig AS (
  SELECT doc_id, CAST(sum(bit) AS BIGINT) AS sig FROM bitrows GROUP BY doc_id
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sig, b.sig)) <= {max_hamming}
"""


def _ann_sql(
    query_vec_id: int = 0, k: int = 10, planes: int = 12,
    max_hamming: int = 2, seed: int = 42, dim: int = 64,
) -> str:
    """DuckDB mirror of analysis.ann_lsh_topk: identical hyperplane
    literals, sequential-fold dot products for the signature bits (same
    IEEE op order as F.aggregate), hamming≤r candidate predicate (≡ the
    Spark bucket equi-join's multi-probe set), exact cosine re-rank.
    ``dim`` is the embeddings dim of the driver testdata (64)."""
    H = analysis.ann_hyperplanes(planes, dim, seed)
    sig_terms = " + ".join(
        "(CASE WHEN list_reduce(list_transform(list_zip(vec, ["
        + ", ".join(repr(float(x)) for x in H[p])
        + "]), z -> z[1] * z[2]), (a, b) -> a + b) > 0 THEN "
        + str(1 << p)
        + " ELSE 0 END)"
        for p in range(planes)
    )
    return f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings
), s AS (
  SELECT vec_id, vec, {sig_terms} AS sig FROM v
), q AS (
  SELECT vec AS qvec, sig AS qsig FROM s WHERE vec_id = {query_vec_id}
)
SELECT vec_id,
       round(list_dot_product(vec, qvec)
             / (sqrt(list_dot_product(vec, vec))
                * sqrt(list_dot_product(qvec, qvec))), 4) AS cosine
FROM s, q
WHERE vec_id != {query_vec_id}
  AND bit_count(xor(sig::BIGINT, qsig::BIGINT)) <= {max_hamming}
ORDER BY cosine DESC, vec_id
LIMIT {k}
"""


def _embedding_near_dups_sql(
    planes: int = 12, max_hamming: int = 2, min_cosine: float = 0.25,
    seed: int = 42, dim: int = 64,
) -> str:
    """DuckDB mirror of analysis.embedding_near_dups: identical
    hyperplane literals and sequential-fold signature bits (same IEEE op
    order as F.aggregate), all-pairs hamming ≤ r predicate (≡ the Spark
    chunk-LSH equi-join by pigeonhole — exact, not approximate), and the
    cosine computed with the same sequential folds (list_reduce ≡
    F.aggregate) so the ≥ threshold boundary is bit-identical."""
    H = analysis.ann_hyperplanes(planes, dim, seed)
    sig_terms = " + ".join(
        "(CASE WHEN list_reduce(list_transform(list_zip(vec, ["
        + ", ".join(repr(float(x)) for x in H[p])
        + "]), z -> z[1] * z[2]), (a, b) -> a + b) > 0 THEN "
        + str(1 << p)
        + " ELSE 0 END)"
        for p in range(planes)
    )
    return f"""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings
), s AS (
  SELECT vec_id, vec, {sig_terms} AS sig FROM v
), cand AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         CAST(bit_count(xor(a.sig::BIGINT, b.sig::BIGINT)) AS INTEGER)
           AS hamming,
         list_reduce(list_transform(list_zip(a.vec, b.vec),
                                    z -> z[1] * z[2]), (x, y) -> x + y)
           / (sqrt(list_reduce(list_transform(a.vec, z -> z * z),
                               (x, y) -> x + y))
              * sqrt(list_reduce(list_transform(b.vec, z -> z * z),
                                 (x, y) -> x + y))) AS cos_exact
  FROM s a JOIN s b ON a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, hamming, round(cos_exact, 4) AS cosine
FROM cand
WHERE hamming <= {max_hamming} AND cos_exact >= {min_cosine}
"""


def _media_sql() -> str:
    """Oracle for the media pipeline. width/height are recomputed IN SQL
    from the md5 formula fake_media_bytes encodes into a real IHDR (and
    decode_image parses back out). phash is a literal map computed
    INDEPENDENTLY of the Spark path — average-hash straight over the raw
    synth pixel arrays, no PNG encode, no decode — so a match certifies
    the full encode(all 5 scanline filters)→decode→hash roundtrip.
    n_bytes literals are encoder-derived (zlib output size has no
    independent formula): a regression pin, not an independent check —
    disclosed here. Map covers doc_id 0..499 (the sf0.01 documents
    table the driver correctness gate runs on); an unexpected doc_id
    surfaces as a NULL-row mismatch rather than a silent pass."""
    from crawlspark.media import (average_hash, fake_media_bytes,
                                  fake_media_pixels)

    vals = []
    for i in range(500):
        ref = f"http://media.example/img/{i}.png"
        ph = format(average_hash(fake_media_pixels(ref)), "016x")
        vals.append(f"({i}, {len(fake_media_bytes(ref))}, '{ph}')")
    return f"""
WITH refs AS (
  SELECT doc_id,
         'http://media.example/img/' || CAST(doc_id AS VARCHAR) || '.png'
           AS media_ref
  FROM documents
), d AS (
  SELECT doc_id, media_ref, md5(media_ref) AS dig FROM refs
), expected(e_doc_id, e_n_bytes, e_phash) AS (
  VALUES {", ".join(vals)}
)
SELECT media_ref,
       CAST(e_n_bytes AS INTEGER) AS n_bytes,
       'png' AS format,
       CAST(16 + (('0x' || substr(dig, 1, 2))::INTEGER % 64) AS INTEGER)
         AS width,
       CAST(16 + (('0x' || substr(dig, 3, 2))::INTEGER % 64) AS INTEGER)
         AS height,
       e_phash AS phash
FROM d LEFT JOIN expected ON doc_id = e_doc_id
"""


def _lang_sql() -> str:
    score_cols = ",\n    ".join(
        "len(list_filter(toks, x -> x IN ({lst}))) AS s_{lang}".format(
            lst=", ".join(f"'{w}'" for w in _STOP[lang]), lang=lang
        )
        for lang in sorted(_STOP)
    )
    langs = sorted(_STOP)
    best = "greatest({})".format(", ".join(f"s_{la}" for la in langs))
    case = "CASE WHEN {best} = 0 THEN 'unk' {whens} END".format(
        best=best,
        whens=" ".join(f"WHEN s_{la} = {best} THEN '{la}'" for la in langs),
    )
    return f"""
WITH t AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents
), s AS (
  SELECT doc_id,
    {score_cols}
  FROM t
)
SELECT doc_id, {case} AS pred_lang FROM s
"""


def oracle_sql() -> dict[str, str]:
    en = ", ".join(f"'{w}'" for w in _STOP["en"])
    return {
        "crawl_order_basic16": _crawl_order_sql(),
        "crawl_span_documents": _crawl_documents_sql(),
        "crawl_metrics": _crawl_metrics_sql(),
        "minhash_lsh": _minhash_sql(),
        "simhash_dups": _simhash_sql(),
        "ann_lsh_topk": _ann_sql(),
        "media_features": _media_sql(),
        "image_near_dups": _image_near_dups_sql(),
        "embedding_near_dups": _embedding_near_dups_sql(),
        "politeness_topk": """
SELECT CAST(user_id AS VARCHAR) AS host, event_id, value
FROM (
  SELECT user_id, event_id, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY value DESC, event_id) AS rn
  FROM events
) WHERE rn <= 3
""",
        "budget_limit": """
SELECT event_id, CAST(row_number() OVER (ORDER BY event_id) - 1 AS BIGINT)
       AS disc_order
FROM events
QUALIFY row_number() OVER (ORDER BY event_id) - 1 < 101
""",
        "seen_antijoin": """
SELECT c_custkey FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
        "span_explode": """
SELECT doc_id,
       CAST(unnest(generate_series(1, len(string_split(text, '. ')))) - 1
            AS BIGINT) AS offset,
       unnest(string_split(text, '. ')) AS sent
FROM documents
""",
        "dedup_exact": """
SELECT doc_id, text FROM (
  SELECT doc_id, text,
         row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
  FROM documents
) WHERE rn = 1
""",
        "dedup_exact_hash": """
SELECT doc_id, md5(text) AS text_hash FROM (
  SELECT doc_id, text,
         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM documents
) WHERE rn = 1
""",
        "ngram_jaccard": """
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE doc_id < 400
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(0, greatest(len(t) - 3, 0)),
           i -> concat_ws(' ', t[i+1], t[i+2], t[i+3]))) AS s
  FROM d
), e0 AS (
  SELECT doc_id, len(s) AS n, unnest(s) AS shingle FROM sh
), e AS (
  -- document-frequency cap on hot shingles (mirrors the Spark df_cap)
  SELECT * FROM e0 QUALIFY count(*) OVER (PARTITION BY shingle) <= 100
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       round(CAST(count(*) AS DOUBLE) / (a.n + b.n - count(*)), 6) AS jaccard
FROM e a JOIN e b USING (shingle)
WHERE a.doc_id < b.doc_id
GROUP BY doc_a, doc_b, a.n, b.n
HAVING round(CAST(count(*) AS DOUBLE) / (a.n + b.n - count(*)), 6) >= 0.6
""",
        "embedding_topk": """
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
  FROM embeddings
), q AS (SELECT vec AS qv FROM v WHERE vec_id = 0)
SELECT vec_id,
       round(list_dot_product(vec, qv)
             / (sqrt(list_dot_product(vec, vec)) * sqrt(list_dot_product(qv, qv))),
             4) AS cosine
FROM v, q
WHERE vec_id != 0
ORDER BY cosine DESC, vec_id
LIMIT 10
""",
        "lang_id": _lang_sql(),
        "quality_score": f"""
WITH b AS (
  SELECT doc_id,
         string_split(text, ' ') AS toks,
         length(text) AS n_chars,
         length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))
           AS punct
  FROM documents
)
SELECT doc_id,
       CAST(len(toks) AS INTEGER) AS n_tokens,
       round(CAST(n_chars AS DOUBLE) / len(toks), 4) AS mean_token_len,
       round(CAST(punct AS DOUBLE) / n_chars, 4) AS punct_ratio,
       round(CAST(len(list_filter(toks, x -> x IN ({en}))) AS DOUBLE)
             / len(toks), 4) AS stopword_ratio,
       round(CAST(len(list_filter(toks, x -> x IN ({en}))) AS DOUBLE)
             / len(toks) * 2.0
             + least(len(toks) / 100.0, 1.0), 4) AS quality
FROM b
""",
        "token_count": """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 ]'))
            AS INTEGER) AS piece_tokens,
       CAST(ceil(length(text) / 4.0) AS BIGINT) AS bpe_estimate
FROM documents
""",
        "fingerprint": f"""
SELECT doc_id, md5({duckdb_normalize_sql('text')}) AS fp FROM documents
""",
        "ws_normalize": f"""
SELECT doc_id,
       {duckdb_normalize_sql("regexp_replace(text, ' ', chr(9) || '  ' || chr(9), 'g')")}
         AS norm_text
FROM documents
""",
    }
