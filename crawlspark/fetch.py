"""Batch fetch round (SRC3 + guards F3/F4/F6) — the scan.

In-sandbox there is no network: "fetch" is an equi-join of the scheduled
batch against the deterministic ``pages`` resolver table on
(host, url_key) — the exact seam the reference exposes as ``GetFunc``
(crawler.go:93-94; its tests inject fake pages the same way,
crawler_test.go:21-24). A real deployment swaps this for an HTTP pandas-UDF
stage with identical columns.

Semantics preserved:
- F3/F4 pre-fetch guards (crawler.go:184-190): host mismatch or
  non-absolute URL ⇒ failed attempt (status 0) — applied to seeds too,
  which bypass the accept filter.
- F6 status filter (crawler.go:52-55): anything but 200 is a failed
  attempt; the row still counts in ``done`` (crawler.go:175).
- The fetch key is (host, url_key): servers resolve cleaned path + query
  and never see fragments — matching the reference's file-server fixture.

Scale: one of two joins runs. With ``broadcast_pages`` the pages table
is broadcast. Otherwise the Crawler caches it DISK_ONLY, repartitioned
on (host, url_key), and the shuffle-hash join reads that cache through a
TableCacheQueryStage with no exchange: only the scheduled batch shuffles.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def resolve_fetch(
    scheduled: DataFrame,
    pages: DataFrame,
    hosts: Sequence[str],
    broadcast_pages: bool = False,
) -> DataFrame:
    """Join the scheduled batch against the pages table, adding
    (status, content_html, guard_ok). Rows off the allowed ``hosts``,
    non-absolute URLs and misses get status 0.
    """
    p = pages.select(
        F.col("host").alias("_phost"),
        F.col("url_key").alias("_pkey"),
        F.col("status").alias("_status"),
        F.col("content_html").alias("_content"),
    )
    if broadcast_pages:
        p = F.broadcast(p)

    # F3/F4: host-membership + absoluteness guards (the ONLY filter seeds
    # get — off-host seeds are fetched-and-failed, not silently dropped)
    guard = F.col("host").isin(list(hosts)) & F.col("url").rlike(
        "^[A-Za-z][A-Za-z0-9+.\\-]*:"
    )

    # SHUFFLE_HASH hint: build the hash map on the (small) scheduled batch;
    # the pages side then streams without the per-round SORT a sort-merge
    # join would impose on the whole web table.
    joined = scheduled.withColumn("guard_ok", guard).hint("shuffle_hash").join(
        p,
        (F.col("host") == F.col("_phost")) & (F.col("url_key") == F.col("_pkey")),
        "left",
    )
    out = (
        joined.withColumn(
            "status",
            F.when(
                F.col("guard_ok"), F.coalesce(F.col("_status"), F.lit(0))
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "content_html",
            F.when(
                F.col("guard_ok") & (F.col("_status") == 200), F.col("_content")
            ),
        )
        .drop("_phost", "_pkey", "_status", "_content")
    )
    return out
