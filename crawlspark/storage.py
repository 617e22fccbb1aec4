"""Persistent table layer: plain parquet, round-versioned and
append-only so any round is resumable (north rule):

    {root}/{table}/batch={round}/part-*.parquet
    {root}/_state.json        — {round, pushed, limit_reached} (atomic rename)

``batch`` is a directory-partition column (dropped on read); append-only
per-round writes mean a crashed round simply overwrites its own batch dir
on retry — no partial-state corruption. Every table, ``seen`` included,
is flat: a batch dir holds its parquet files directly.
"""

from __future__ import annotations

import json
import os
import tempfile
from contextlib import contextmanager
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from .schemas import TABLES


@contextmanager
def described(spark: SparkSession, desc: str):
    """``desc`` as the description of the jobs this thread starts inside
    the block, so event logs attribute their stages. Job descriptions
    are thread-local: the background commit's writes and the round's
    own do not clobber each other's."""
    sc = spark.sparkContext
    sc.setJobDescription(desc)
    try:
        yield
    finally:
        sc.setJobDescription(None)


class CheckpointStore:
    """Round-versioned append-only table store (one ``batch={r}``
    directory per table per round)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        self._recover_compactions()

    # -- tables ---------------------------------------------------------
    def _table_path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def append(self, table: str, df: DataFrame, batch: int) -> None:
        path = os.path.join(self._table_path(table), f"batch={batch}")
        with described(self.spark, f"append:{table} b{batch}"):
            df.write.mode("overwrite").parquet(path)

    def append_local(
        self, table: str, columns: dict, schema, batch: int
    ) -> None:
        """Append a DRIVER-SIZED batch (metrics, lineage — a handful of
        rows the driver already holds) without a Spark job:
        one pyarrow parquet file into the same ``batch={r}`` layout
        ``append`` produces, so readers cannot tell the difference.

        ``columns``: name → list of Python values; ``schema``: the
        table's pyarrow schema, ``to_arrow_schema`` of its ``TABLES``
        entry, so the written types are the ones every read declares
        (int32/int64 distinctions matter to the correctness gate's
        schema compare)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        path = os.path.join(self._table_path(table), f"batch={batch}")
        os.makedirs(path, exist_ok=True)
        # overwrite semantics of append(): a retried round replaces its
        # own batch file — atomically, so a failed write leaves the
        # previous file in place (readers skip the dot-named temp file)
        tmp = os.path.join(path, ".part-00000.parquet.tmp")
        try:
            pq.write_table(pa.table(columns, schema=schema), tmp)
            os.replace(tmp, os.path.join(path, "part-00000.parquet"))
        finally:
            if os.path.exists(tmp):
                os.remove(tmp)

    def _scan(self, table: str, *dirs: str) -> DataFrame:
        """The batch dirs ``dirs`` of ``table``, read with the table's
        written schema (TABLES): inferring it would run a one-task job."""
        path = self._table_path(table)
        return self.spark.read.schema(TABLES[table]).option(
            "basePath", path
        ).parquet(*[os.path.join(path, d) for d in dirs]).drop("batch")

    def read(self, table: str) -> Optional[DataFrame]:
        path = self._table_path(table)
        if not os.path.isdir(path):
            return None
        batches = [d for d in os.listdir(path) if d.startswith("batch=")]
        if not batches:
            return None
        return self._scan(table, *batches)

    def read_batch(self, table: str, batch: int) -> Optional[DataFrame]:
        """Read exactly one batch (e.g. the frontier snapshot of round r)."""
        if not os.path.isdir(
            os.path.join(self._table_path(table), f"batch={batch}")
        ):
            return None
        return self._scan(table, f"batch={batch}")

    def truncate_after(self, table: str, max_batch: int) -> None:
        """Drop batches > max_batch (discard a partially-written round).

        A COMPACTED dir (see ``compact``) labeled c > max_batch spans
        rounds 0..c, so deleting it would drop keys from rounds that
        must survive; instead it is REWRITTEN filtered to
        ``round_col <= max_batch`` (the per-row round the marker names)
        and relabeled batch=max_batch — the resume-from-any-round
        contract holds across compaction."""
        import shutil

        path = self._table_path(table)
        if not os.path.isdir(path):
            return
        for d in os.listdir(path):
            if not d.startswith("batch=") or int(d.split("=")[1]) <= max_batch:
                continue
            dpath = os.path.join(path, d)
            marker = os.path.join(dpath, "_compacted.json")
            if not os.path.exists(marker):
                shutil.rmtree(dpath)
                continue
            with open(marker) as f:
                info = json.load(f)
            from pyspark.sql import functions as F

            kept = self._scan(table, d).filter(
                F.col(info["round_col"]) <= max_batch
            )
            self._write_compacted(
                table, kept, max_batch,
                merged=[int(d.split("=")[1])],
                round_col=info["round_col"],
            )

    # -- compaction -------------------------------------------------------
    # Each round appends one batch dir, so a long crawl's seen scan reads
    # O(rounds x files per batch) small files. compact() bounds that: all
    # batch dirs <= upto are rewritten into ONE file in the single dir
    # batch=upto. The rewrite is crash-safe via a commit journal
    # (_compact_journal.json): data is fully written to a temp dir first,
    # then journal -> remove merged dirs -> rename temp -> remove
    # journal; _recover_compactions() finishes any step a crash
    # interrupted (idempotent).

    def maybe_compact(
        self, table: str, upto: int,
        round_col: str = "first_round", fanin: int = 16,
    ) -> bool:
        """Compact iff at least ``fanin`` batch dirs <= upto exist —
        amortizes the full-table rewrite to every fanin-th round while
        bounding the scan at fanin batch dirs."""
        if fanin <= 0:
            return False
        path = self._table_path(table)
        if not os.path.isdir(path):
            return False
        todo = [
            int(d.split("=")[1])
            for d in os.listdir(path)
            if d.startswith("batch=") and int(d.split("=")[1]) <= upto
        ]
        if len(todo) < fanin:
            return False
        self.compact(table, upto, round_col)
        return True

    def compact(
        self, table: str, upto: int, round_col: str = "first_round",
    ) -> None:
        """Rewrite every batch dir <= upto into the single dir
        batch=upto. Rows keep their per-row round column, so resume to
        any earlier round stays exact (truncate_after filters on it)."""
        path = self._table_path(table)
        if not os.path.isdir(path):
            return
        todo = sorted(
            int(d.split("=")[1])
            for d in os.listdir(path)
            if d.startswith("batch=") and int(d.split("=")[1]) <= upto
        )
        if len(todo) <= 1:
            return
        df = self._scan(table, *[f"batch={b}" for b in todo])
        self._write_compacted(table, df, max(todo), todo, round_col)

    def _write_compacted(
        self, table: str, df: DataFrame, label: int, merged: list,
        round_col: str,
    ) -> None:
        import shutil

        path = self._table_path(table)
        tmp = os.path.join(path, ".compact_tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        with described(self.spark, f"compact:{table} b{label}"):
            df.coalesce(1).write.mode("overwrite").parquet(tmp)
        with open(os.path.join(tmp, "_compacted.json"), "w") as f:
            json.dump({"round_col": round_col}, f)
        # commit point: from here a crash is completed by recovery
        journal = os.path.join(path, "_compact_journal.json")
        with open(journal + ".tmp", "w") as f:
            json.dump({"label": label, "merged": merged}, f)
        os.replace(journal + ".tmp", journal)
        self._finish_compaction(path, label, merged)

    def _finish_compaction(self, path: str, label: int, merged: list) -> None:
        import shutil

        tmp = os.path.join(path, ".compact_tmp")
        if os.path.isdir(tmp):  # else: rename already happened pre-crash
            for b in merged:
                shutil.rmtree(
                    os.path.join(path, f"batch={b}"), ignore_errors=True
                )
            os.rename(tmp, os.path.join(path, f"batch={label}"))
        os.remove(os.path.join(path, "_compact_journal.json"))

    def _recover_compactions(self) -> None:
        """Finish any compaction a crash interrupted after its commit
        point (journal present). Before the journal exists a crash just
        leaves a stale .compact_tmp, which the next compaction clobbers."""
        if not os.path.isdir(self.root):
            return
        for t in os.listdir(self.root):
            journal = os.path.join(self.root, t, "_compact_journal.json")
            if os.path.exists(journal):
                with open(journal) as f:
                    j = json.load(f)
                self._finish_compaction(
                    os.path.join(self.root, t), j["label"], j["merged"]
                )

    # -- driver state ---------------------------------------------------
    def write_state(self, state: dict) -> None:
        path = os.path.join(self.root, "_state.json")
        fd, tmp = tempfile.mkstemp(dir=self.root, suffix=".json")
        with os.fdopen(fd, "w") as f:
            json.dump(state, f)
        os.replace(tmp, path)  # atomic on POSIX

    def read_state(self) -> Optional[dict]:
        path = os.path.join(self.root, "_state.json")
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return json.load(f)
