"""Partitioned Bloom prefilter for the URL-seen set (north rule).

Replaces the reference's unbounded in-memory ``map[string]struct{}``
(queue.go:36) as the *cheap* membership test at 10^10-key scale. Exactness
is never delegated to the Bloom filter: a candidate that tests negative is
definitely new (skips the anti-join); positives go through the exact
``left_anti`` join (SURVEY.md §4 "Bloom-filter exactness tension").

Where it runs: only in rounds that take the merge seen probe (the
shuffling anti-join of unbounded rounds). A broadcast-probe round already
hashes its bounded candidate keys and streams ``seen`` once with no
shuffle, so a filter cannot remove anything worth its build and probe
there; the engine does no bloom work in such rounds, nor at seeding.
On merge rounds it costs more than it saves at the sizes measured so far
(4,000 and 16,000 pages, BENCH/BLOOM_GATE.md): negatives skip only the
candidate side of the anti-join's shuffle, while the probe's pandas UDF
and each round's fresh-key bitmap job are paid in full.

Design:
- Keys are hashed JVM-side with ``xxhash64`` (h1 = xxhash64(key),
  h2 = xxhash64(key, 1)) so build and probe agree without any Python
  hashing; probe positions use double hashing pos_i = (h1 + i·h2) mod m.
- The filter is bucketed: ``bucket = pmod(h1, B)`` with an m-bit bitmap
  per bucket, built distributed via ``applyInPandas`` (vectorized numpy
  bit-ops per Arrow group — no per-row Python). The bitmaps live only on
  the driver: the first merge round of a run builds them from the full
  seen table (the exact source, so resume needs no snapshot) and later
  merge rounds OR in the bitmaps of their fresh keys.
- Probe path here is the broadcast tier: all bucket bitmaps are
  broadcast (B × m/8 bytes; 64 × 1 MiB default = 64 MiB ≈ 4×10^8 keys at
  ~10 bits/key with k=5) and released with the round. Beyond
  ``broadcast_max_bytes`` the engine runs the round without the filter
  (plain anti-join; Spark's runtime Bloom still assists); the bucket
  layout is what a join-side probe tier would shard on.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Dict, Optional

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BLOOM_SCHEMA = "bucket int, bitmap binary"


@dataclass
class BloomConfig:
    buckets: int = 64
    bits_per_bucket: int = 1 << 23  # 1 MiB per bucket
    num_hashes: int = 5
    broadcast_max_bytes: int = 512 << 20

    @property
    def total_bytes(self) -> int:
        return self.buckets * (self.bits_per_bucket // 8)


def _with_hashes(df: DataFrame, key_col: str) -> DataFrame:
    return df.withColumn("_h1", F.xxhash64(F.col(key_col))).withColumn(
        "_h2", F.xxhash64(F.col(key_col), F.lit(1))
    )


def _set_bits(words: np.ndarray, h1: np.ndarray, h2: np.ndarray, cfg: BloomConfig):
    m = np.uint64(cfg.bits_per_bucket)
    h1 = h1.astype(np.uint64)
    h2 = h2.astype(np.uint64)
    for i in range(cfg.num_hashes):
        pos = (h1 + np.uint64(i) * h2) % m
        np.bitwise_or.at(words, (pos >> np.uint64(6)).astype(np.int64),
                         np.uint64(1) << (pos & np.uint64(63)))


def _test_bits(words: np.ndarray, h1: np.ndarray, h2: np.ndarray, cfg: BloomConfig):
    m = np.uint64(cfg.bits_per_bucket)
    h1 = h1.astype(np.uint64)
    h2 = h2.astype(np.uint64)
    out = np.ones(len(h1), dtype=bool)
    for i in range(cfg.num_hashes):
        pos = (h1 + np.uint64(i) * h2) % m
        bits = (words[(pos >> np.uint64(6)).astype(np.int64)]
                >> (pos & np.uint64(63))) & np.uint64(1)
        out &= bits.astype(bool)
    return out


def build_or_update(
    new_keys: DataFrame,
    key_col: str,
    cfg: BloomConfig,
) -> DataFrame:
    """Distributed build: per-bucket numpy bitmaps of the keys. Returns
    (bucket, bitmap) rows; the engine ORs them into its driver copy."""
    hashed = _with_hashes(new_keys.select(key_col), key_col).withColumn(
        "bucket", F.pmod(F.col("_h1"), F.lit(cfg.buckets)).cast("int")
    )

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        words = np.zeros(cfg.bits_per_bucket // 64, dtype=np.uint64)
        _set_bits(words, pdf["_h1"].values, pdf["_h2"].values, cfg)
        return pd.DataFrame(
            {"bucket": [int(pdf["bucket"].iloc[0])], "bitmap": [words.tobytes()]}
        )

    return hashed.groupBy("bucket").applyInPandas(build, BLOOM_SCHEMA)


def to_dict(bloom_df: DataFrame) -> Dict[int, np.ndarray]:
    return {
        r["bucket"]: np.frombuffer(r["bitmap"], dtype=np.uint64)
        for r in bloom_df.collect()
    }


def flag_candidates(
    spark: SparkSession,
    cands: DataFrame,
    key_col: str,
    bloom_dict: Dict[int, np.ndarray],
    cfg: BloomConfig,
    handles: Optional[list] = None,
) -> DataFrame:
    """Add a ``_maybe`` column: True ⇔ the key MAY be in the seen set
    (Bloom positive), False ⇔ provably new. Probe is a vectorized pandas
    UDF over natively computed hashes. Callers that consume both halves
    should materialize the result (dedup checkpoints it) so the probe
    evaluates once. The bitmaps'
    broadcast is appended to ``handles``: the caller destroys it once
    nothing can recompute the result."""
    bc = spark.sparkContext.broadcast(bloom_dict)
    if handles is not None:
        handles.append(bc)

    @F.pandas_udf("boolean")
    def probe(h1: pd.Series, h2: pd.Series) -> pd.Series:
        blooms = bc.value
        h1v = h1.values
        # bucket must match the builder's JVM pmod on SIGNED h1 (build_or_
        # update above): ((h1 % B) + B) % B on int64 — NOT uint64 %, which
        # diverges whenever buckets is not a power of two and would turn
        # false negatives into dropped duplicates
        b_ = np.int64(cfg.buckets)
        buckets = ((h1v.astype(np.int64) % b_) + b_) % b_
        out = np.zeros(len(h1v), dtype=bool)
        for b in np.unique(buckets):
            words = blooms.get(int(b))
            if words is None:
                continue
            mask = buckets == b
            out[mask] = _test_bits(words, h1v[mask], h2[mask].values, cfg)
        return pd.Series(out)

    return (
        _with_hashes(cands, key_col)
        .withColumn("_maybe", probe(F.col("_h1"), F.col("_h2")))
        .drop("_h1", "_h2")
    )

