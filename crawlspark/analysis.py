"""Training-data pipeline operators over the document/embedding tables —
the large-scale data-prep companions to the crawl engine (task brief:
dedup, similarity search, text analysis, fingerprinting).

Each operator is a function ``(spark, sf_dir) -> DataFrame`` over the
driver-generated parquet tables (documents: doc_id,text,lang,source,
n_chars; embeddings: vec_id, embedding float[], label; events: ...).
SQL-expressible ones have a DuckDB oracle in __spark_entry__.oracle_sql;
hash-sketch ones (MinHash/SimHash/LSH) are deterministic but engine-
specific, so the driver records rows-only checks for them.

Scale notes are inline per operator; common rules:
- everything stays in native Catalyst expressions (whole-stage codegen)
  except the seeded-projection UDF for LSH signatures (vectorized numpy);
- self-joins go through explode→equi-join (shuffle on the shingle/band
  key), never a cartesian;
- top-k uses window-per-key or global sort+limit, with the two-phase
  trick from schedule.py where a hot key could skew.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .textnorm import normalize_text_col


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup, first-wins by doc_id (the Q1 window pattern applied to
    content instead of URL keys). Scale: single hash shuffle on text —
    at 100 TB hash first (md5) so the shuffle carries 16 bytes, not the
    document; here text is the key directly for oracle comparability."""
    d = _docs(spark, sf_dir)
    w = Window.partitionBy("text").orderBy("doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "text")
    )


def dedup_exact_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keyed on md5(text) — the shuffle-light variant that
    survives 100 TB (16-byte keys). md5 is identical across engines, so
    this one is still oracle-checkable."""
    d = _docs(spark, sf_dir)
    h = d.withColumn("text_hash", F.md5(F.col("text")))
    w = Window.partitionBy("text_hash").orderBy("doc_id")
    return (
        h.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "text_hash")
    )


def _shingles(col, n: int = 3):
    """Distinct word n-gram shingles as a native expression (no UDF):
    tokens via split, windows via transform over a sequence."""
    toks = F.split(col, " ")
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(n)]
        ),
    )
    return F.array_distinct(grams)


def ngram_jaccard_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.6,
    max_docs: int = 400,
    df_cap: int = 100,
) -> DataFrame:
    """N-gram Jaccard near-dup pairs: shingle → explode → equi-join
    on shingle → pair-count → |A∩B|/(|A|+|B|-|A∩B|) ≥ t.

    Scale: the shingle join shuffles on the shingle hash; a shingle shared
    by k documents emits k² join rows, so hot shingles (stop-grams) are
    dropped via the ``df_cap`` document-frequency cap BEFORE the self-join
    — one count-window over the exploded shingles (same shuffle key as the
    join). Dropped shingles no longer contribute to |A∩B| (the denominator
    keeps the full shingle-set sizes), making the score a documented
    lower-bound approximation for pairs that share stop-grams — the price
    of bounded join fan-out at 100 TB. The DuckDB oracle applies the
    identical cap."""
    d = (
        _docs(spark, sf_dir)
        .filter(F.col("doc_id") < max_docs)
        .select("doc_id", _shingles(F.col("text")).alias("sh"))
        .withColumn("n_sh", F.size("sh"))
    )
    ex = d.select("doc_id", "n_sh", F.explode("sh").alias("shingle"))
    ex = (
        ex.withColumn(
            "_df", F.count("*").over(Window.partitionBy("shingle"))
        )
        .filter(F.col("_df") <= df_cap)
        .drop("_df")
    )
    a = ex.select(
        F.col("doc_id").alias("doc_a"),
        F.col("n_sh").alias("na"),
        "shingle",
    )
    b = ex.select(
        F.col("doc_id").alias("doc_b"),
        F.col("n_sh").alias("nb"),
        "shingle",
    )
    pairs = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count("*").alias("common"))
        .withColumn(
            "jaccard",
            F.round(
                F.col("common") / (F.col("na") + F.col("nb") - F.col("common")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return pairs


#: universal-hash modulus for MinHash permutations: smallest prime > 2^32.
#: Base hashes are 32-bit (md5 hex prefix), a < 2^31 ⇒ a·x+b < 2^63: the
#: whole permutation family stays in signed-64 arithmetic (JVM codegen safe,
#: ANSI-overflow safe) and is bit-identical in DuckDB via HUGEINT.
MINHASH_P = 4294967311


def minhash_perm_params(num_perm: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) universal-hash coefficients, derived from
    md5 so the identical literals can be inlined into the DuckDB oracle."""
    import hashlib

    params = []
    for i in range(num_perm):
        dig = hashlib.md5(f"minhash-{seed}-{i}".encode()).hexdigest()
        a = 1 + int(dig[:8], 16) % ((1 << 31) - 1)
        b = int(dig[8:16], 16) % MINHASH_P
        params.append((a, b))
    return params


def _md5_prefix_long(col, n_hex: int):
    """First ``n_hex`` hex chars of md5 as a bigint — the engine-neutral
    hash primitive shared with the DuckDB oracles (('0x'||substr(md5(x),
    1,n))::BIGINT on the DuckDB side)."""
    return F.conv(F.substring(F.md5(col), 1, n_hex), 16, 10).cast("long")


def minhash_lsh_pairs(
    spark: SparkSession,
    sf_dir: str,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    max_docs: int = 2000,
) -> DataFrame:
    """MinHash + banded LSH near-dup candidates, verified with estimated
    Jaccard (fraction of agreeing minhashes ≥ threshold).

    Everything native and single-pass: each shingle is md5-hashed ONCE to
    a 32-bit base value, then the ``num_perm`` permutations are cheap
    (a·x+b) mod p multiply-adds over the cached base array (``array_min``
    + ``transform`` — whole-stage codegen; no re-hashing of strings per
    permutation, no UDF). Bands via md5 over the per-band minhash slice;
    candidate pairs via explode+equi-join on (band_id, band_key). No
    cartesian product anywhere. The hash family is md5-based specifically
    so the DuckDB oracle reproduces it bit-for-bit (hash-checked driver
    row)."""
    d = (
        _docs(spark, sf_dir)
        .filter(F.col("doc_id") < max_docs)
        .select("doc_id", _shingles(F.col("text")).alias("sh"))
        .filter(F.size("sh") > 0)
    )
    base = d.select(
        "doc_id",
        F.transform(F.col("sh"), lambda s: _md5_prefix_long(s, 8)).alias("hx"),
    )
    params = minhash_perm_params(num_perm)
    mh = base.select(
        "doc_id",
        F.array(
            *[
                F.array_min(
                    F.transform(
                        F.col("hx"),
                        lambda x: (F.lit(a) * x + F.lit(b)) % F.lit(MINHASH_P),
                    )
                )
                for (a, b) in params
            ]
        ).alias("minhash"),
    )
    rows_per_band = num_perm // bands
    banded = mh.select(
        "doc_id",
        "minhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.md5(
                            F.concat_ws(
                                ",",
                                F.transform(
                                    F.slice(
                                        "minhash", b * rows_per_band + 1,
                                        rows_per_band,
                                    ),
                                    lambda v: v.cast("string"),
                                ),
                            )
                        ).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "minhash", "band.band_id", "band.band_hash")

    a = banded.select(
        F.col("doc_id").alias("doc_a"), F.col("minhash").alias("mh_a"),
        "band_id", "band_hash",
    )
    b = banded.select(
        F.col("doc_id").alias("doc_b"), F.col("minhash").alias("mh_b"),
        "band_id", "band_hash",
    )
    cand = (
        a.join(b, ["band_id", "band_hash"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "mh_a", "mh_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    est = cand.withColumn(
        "est_jaccard",
        F.round(
            F.size(
                F.filter(
                    F.zip_with("mh_a", "mh_b", lambda x, y: x == y),
                    lambda v: v,
                )
            )
            / F.lit(num_perm),
            6,
        ),
    )
    return est.filter(F.col("est_jaccard") >= threshold).select(
        "doc_a", "doc_b", "est_jaccard"
    )


#: SimHash signature width: 60 bits (15 md5 hex chars per token hash) so
#: the DuckDB oracle reproduces every bit; 4 LSH chunks of 15 bits keep
#: the hamming≤3 ⇒ shared-chunk guarantee (pigeonhole over 4 chunks).
SIMHASH_BITS = 60
SIMHASH_CHUNKS = 4


def simhash_dups(
    spark: SparkSession, sf_dir: str, max_hamming: int = 3, max_docs: int = 2000
) -> DataFrame:
    """SimHash near-dup pairs: 60-bit token-hash majority signature,
    4-band LSH on 15-bit chunks (any pair within hamming ≤ 3 shares ≥ one
    exact chunk), exact hamming verify. Token hashes are md5-prefix
    bigints (hash-checkable in DuckDB); the majority-bit fold is a
    vectorized numpy pandas-UDF over the token-hash arrays; everything
    else native and bucketed (chunk equi-join, never a cartesian)."""
    d = (
        _docs(spark, sf_dir)
        .filter(F.col("doc_id") < max_docs)
        .select(
            "doc_id",
            F.transform(
                F.array_distinct(F.split(F.col("text"), " ")),
                lambda t: _md5_prefix_long(t, 15),
            ).alias("token_hashes"),
        )
        .filter(F.size("token_hashes") > 0)
    )

    @F.pandas_udf("long")
    def simhash(hashes: pd.Series) -> pd.Series:
        out = np.empty(len(hashes), dtype=np.int64)
        for i, hs in enumerate(hashes):
            arr = np.asarray(hs, dtype=np.int64).astype(np.uint64)
            bits = (
                (arr[:, None] >> np.arange(SIMHASH_BITS, dtype=np.uint64)) & 1
            ).sum(0)
            sig = np.uint64(0)
            for bpos in np.nonzero(bits * 2 >= len(arr))[0]:
                sig |= np.uint64(1) << np.uint64(bpos)
            out[i] = np.int64(sig)
        return pd.Series(out)

    chunk_bits = SIMHASH_BITS // SIMHASH_CHUNKS
    sig = d.select("doc_id", simhash("token_hashes").alias("sig"))
    chunks = sig.select(
        "doc_id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_id"),
                        F.shiftrightunsigned(F.col("sig"), c * chunk_bits)
                        .bitwiseAND(F.lit((1 << chunk_bits) - 1))
                        .alias("chunk"),
                    )
                    for c in range(SIMHASH_CHUNKS)
                ]
            )
        ).alias("ch"),
    ).select("doc_id", "sig", "ch.chunk_id", "ch.chunk")
    a = chunks.select(
        F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"),
        "chunk_id", "chunk",
    )
    b = chunks.select(
        F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"),
        "chunk_id", "chunk",
    )
    pairs = (
        a.join(b, ["chunk_id", "chunk"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
        .withColumn(
            "hamming",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )
    return pairs


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------


def _cosine(a, b):
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v))
    return dot / (na * nb)


def embedding_topk(
    spark: SparkSession, sf_dir: str, query_vec_id: int = 0, k: int = 10
) -> DataFrame:
    """Brute-force cosine top-k against a query vector — the exactness
    baseline for ANN. Native F.zip_with/F.aggregate arithmetic in double
    precision; global sort+limit (Spark takeOrdered — no full sort at
    scale). The query vector ships as a literal (broadcast-by-plan)."""
    e = _emb(spark, sf_dir).withColumn(
        "vec", F.transform(F.col("embedding"), lambda x: x.cast("double"))
    )
    q = e.filter(F.col("vec_id") == query_vec_id).select("vec").collect()[0]["vec"]
    qlit = F.array(*[F.lit(float(x)) for x in q])
    return (
        e.filter(F.col("vec_id") != query_vec_id)
        .select(
            "vec_id",
            F.round(_cosine(F.col("vec"), qlit), 4).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(k)
    )


def ann_hyperplanes(planes: int, dim: int, seed: int = 42) -> "np.ndarray":
    """Seeded random hyperplanes, shared by the Spark plan, the driver-side
    query-signature computation, and the DuckDB oracle literals."""
    rng = np.random.RandomState(seed)
    return rng.randn(planes, dim)


def _plane_sig(vec_col, hyper) -> "F.Column":
    """Native hyperplane signature: bit p = sign of ⟨vec, H_p⟩, folded
    left-to-right (``F.aggregate`` ≙ DuckDB's sequential list_dot_product
    — identical IEEE-754 op order, so the oracle computes the same bits)."""
    sig = F.lit(0)
    for p in range(hyper.shape[0]):
        dot = F.aggregate(
            F.zip_with(
                vec_col,
                F.array(*[F.lit(float(h)) for h in hyper[p]]),
                lambda x, y: x * y,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        sig = sig + F.when(dot > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return sig


def _py_sig(vec, hyper) -> int:
    """Driver-side signature of the query vector — same sequential fold."""
    sig = 0
    for p in range(hyper.shape[0]):
        acc = 0.0
        for x, y in zip(vec, hyper[p]):
            acc = acc + x * float(y)
        if acc > 0:
            sig |= 1 << p
    return sig


def hamming_ball(sig: int, planes: int, radius: int) -> list[int]:
    """All signatures within ``radius`` bit-flips of ``sig`` (the multi-
    probe set: 1 + C(p,1) + C(p,2) … buckets)."""
    out = {sig}
    frontier = {sig}
    for _ in range(radius):
        nxt = set()
        for s in frontier:
            for b in range(planes):
                nxt.add(s ^ (1 << b))
        out |= nxt
        frontier = nxt
    return sorted(out)


def ann_lsh_topk(
    spark: SparkSession,
    sf_dir: str,
    query_vec_id: int = 0,
    k: int = 10,
    planes: int = 12,
    max_hamming: int = 2,
    seed: int = 42,
) -> DataFrame:
    """LSH-bucketed approximate nearest neighbours: seeded random
    hyperplane signatures (native dot-product fold), candidate set via a
    **bucket equi-join** — the query's hamming-``max_hamming`` neighbor
    signatures (79 buckets for 12 planes, radius 2) are enumerated
    driver-side and broadcast, so the probe plan is a BroadcastHashJoin
    on ``sig``, not a full-table hamming filter. Exact cosine re-rank of
    candidates only.

    Scale: with the signature table stored partitioned/bucketed by
    ``sig``, the same equi-join prunes to the probed buckets and the scan
    touches |candidate buckets| vectors instead of all N; the signature
    build is one pass, done at ingest."""
    e = _emb(spark, sf_dir).withColumn(
        "vec", F.transform(F.col("embedding"), lambda x: x.cast("double"))
    )
    qvec = (
        e.filter(F.col("vec_id") == query_vec_id).select("vec").collect()[0]["vec"]
    )
    dim = len(qvec)
    hyper = ann_hyperplanes(planes, dim, seed)
    qsig = _py_sig(qvec, hyper)

    signed = e.select("vec_id", "vec", _plane_sig(F.col("vec"), hyper).alias("sig"))
    probe = spark.createDataFrame(
        [(s,) for s in hamming_ball(qsig, planes, max_hamming)], "sig int"
    )
    qlit = F.array(*[F.lit(float(x)) for x in qvec])
    return (
        signed.filter(F.col("vec_id") != query_vec_id)
        .join(F.broadcast(probe), "sig")
        .select(
            "vec_id", F.round(_cosine(F.col("vec"), qlit), 4).alias("cosine")
        )
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(k)
    )


def embedding_near_dups(
    spark: SparkSession,
    sf_dir: str,
    planes: int = 12,
    max_hamming: int = 2,
    min_cosine: float = 0.25,
    seed: int = 42,
) -> DataFrame:
    """All-pairs embedding-cosine near-duplicate detection — the
    dedup-by-embedding family (complements text minhash/simhash): seeded
    hyperplane signatures (same native sequential-fold bits as
    ``ann_lsh_topk``, so DuckDB computes identical signatures), signature
    chunked into ``max_hamming + 1`` pieces — pigeonhole: any pair within
    signature-hamming ≤ max_hamming shares ≥ one exact chunk — candidate
    pairs via an equi-join on the bounded ``(chunk_id, chunk)`` key, then
    exact hamming + exact cosine ≥ ``min_cosine`` verification.

    Semantics (exact, oracle-checkable): returns precisely the pairs with
    ``hamming(sig_a, sig_b) <= max_hamming AND cosine >= min_cosine`` —
    the angular-LSH candidate condition is part of the operator contract,
    as in every production embedding-dedup pipeline (candidates outside
    every probe bucket are by definition not near-duplicates at the
    chosen plane budget).

    Scale shape: candidate generation carries only (vec_id, sig) through
    the explode+join — the 64-float vectors are joined back by id for the
    cosine verify on the (small) candidate set, so the wide arrays never
    ride the LSH shuffle. No cartesian product anywhere; same skeleton as
    ``simhash_dups``/``image_near_dups``."""
    e = _emb(spark, sf_dir).withColumn(
        "vec", F.transform(F.col("embedding"), lambda x: x.cast("double"))
    )
    dim = len(e.select("embedding").first()["embedding"])
    hyper = ann_hyperplanes(planes, dim, seed)
    signed = e.select(
        "vec_id", _plane_sig(F.col("vec"), hyper).alias("sig")
    )

    n_chunks = max_hamming + 1
    chunk_bits = -(-planes // n_chunks)  # ceil
    mask = (1 << chunk_bits) - 1
    chunks = signed.select(
        "vec_id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_id"),
                        F.shiftrightunsigned(
                            F.col("sig").cast("long"), c * chunk_bits
                        )
                        .bitwiseAND(F.lit(mask))
                        .alias("chunk"),
                    )
                    for c in range(n_chunks)
                ]
            )
        ).alias("ch"),
    ).select("vec_id", "sig", "ch.chunk_id", "ch.chunk")
    a = chunks.select(
        F.col("vec_id").alias("vec_a"), F.col("sig").alias("sig_a"),
        "chunk_id", "chunk",
    )
    b = chunks.select(
        F.col("vec_id").alias("vec_b"), F.col("sig").alias("sig_b"),
        "chunk_id", "chunk",
    )
    cand = (
        a.join(b, ["chunk_id", "chunk"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .dropDuplicates(["vec_a", "vec_b"])
        .withColumn(
            "hamming",
            F.bit_count(
                F.col("sig_a").cast("long").bitwiseXOR(
                    F.col("sig_b").cast("long")
                )
            ).cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("vec_a", "vec_b", "hamming")
    )
    va = e.select(F.col("vec_id").alias("vec_a"), F.col("vec").alias("va"))
    vb = e.select(F.col("vec_id").alias("vec_b"), F.col("vec").alias("vb"))
    return (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .withColumn("cos_exact", _cosine(F.col("va"), F.col("vb")))
        .filter(F.col("cos_exact") >= F.lit(float(min_cosine)))
        .select(
            "vec_a",
            "vec_b",
            "hamming",
            F.round(F.col("cos_exact"), 4).alias("cosine"),
        )
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

_STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "for", "on"],
    "de": ["der", "die", "und", "das", "ist", "ein", "zu", "den", "mit", "von"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "los", "por"],
    "fr": ["le", "la", "de", "et", "un", "est", "en", "que", "les", "des"],
}


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: distinct-token overlap with per-language
    stopword lists, argmax with fixed tie order (de < en < es < fr then
    'unk' when all zero). Pure native array expressions."""
    d = _docs(spark, sf_dir).select(
        "doc_id", F.array_distinct(F.split(F.col("text"), " ")).alias("toks")
    )
    scores = [
        F.size(
            F.filter(
                F.col("toks"),
                lambda t: t.isin(*_STOPWORDS[lang]),
            )
        ).alias(f"s_{lang}")
        for lang in sorted(_STOPWORDS)
    ]
    scored = d.select("doc_id", *scores)
    langs = sorted(_STOPWORDS)
    best = F.greatest(*[F.col(f"s_{lang}") for lang in langs])
    pred = F.when(best == 0, F.lit("unk"))
    for lang in langs:
        pred = pred.when(F.col(f"s_{lang}") == best, F.lit(lang))
    return scored.select("doc_id", pred.alias("pred_lang"))


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality heuristics: token count, mean token length,
    punctuation ratio, English-stopword ratio, and a composite score —
    all native string/array expressions (codegen, pushdown-friendly)."""
    d = _docs(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    n_toks = F.size(toks)
    n_chars = F.length("text")
    punct = n_chars - F.length(F.regexp_replace("text", r"[.,!?;:]", ""))
    stop = F.size(F.filter(toks, lambda t: t.isin(*_STOPWORDS["en"])))
    return d.select(
        "doc_id",
        n_toks.alias("n_tokens"),
        F.round(n_chars / n_toks, 4).alias("mean_token_len"),
        F.round(punct / n_chars, 4).alias("punct_ratio"),
        F.round(stop / n_toks, 4).alias("stopword_ratio"),
        F.round(
            (stop / n_toks) * 2.0 + F.least(n_toks / 100.0, F.lit(1.0)), 4
        ).alias("quality"),
    )


def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token count + a BPE-ish subword estimate (regex word/
    punct pieces + char/4 blend) — the cheap corpus-size accounting pass."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("ws_tokens"),
        F.size(
            F.regexp_extract_all(
                F.col("text"), F.lit(r"[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 ]"), 0
            )
        ).alias("piece_tokens"),
        F.ceil(F.length("text") / 4.0).cast("long").alias("bpe_estimate"),
    )


def fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic document fingerprint: md5 over the whitespace-
    normalized text (T1 — the crawl engine's normalizer doubling as the
    canonical form) — identical across engines, so oracle-checkable."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.md5(normalize_text_col(F.col("text"))).alias("fp"),
    )


def ws_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 whitespace normalization as a Catalyst chain, applied to a
    deterministically mangled variant of each document (tabs/CRLF injected
    so the operator provably does work)."""
    d = _docs(spark, sf_dir)
    mangled = F.regexp_replace(F.col("text"), " ", "\t  \t")
    return d.select(
        "doc_id", normalize_text_col(mangled).alias("norm_text")
    )
