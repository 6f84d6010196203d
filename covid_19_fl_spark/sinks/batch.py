"""Batch table sinks (SURVEY §2.2 K1-K5) over a parquet-backed store.

The reference's sink surface is MongoDB collection mutations:
insert_many (K1), delete_many({}) + insert_many (K2), predicate delete
(K3), keyed update loop (K4). The engine's native store is columnar
parquet (Delta-style semantics without the Delta dependency — this
container ships no Delta jars; the interface is written so a Delta/
Iceberg-backed implementation can swap in transparently).

Mutation model: parquet is immutable, so K3/K4 are read-modify-write
*on the logical table* — rewrite-as-overwrite. That is exactly Delta's
copy-on-write physical strategy; at 100 TB you'd bound the rewrite with
partition pruning (`replace_where` rewrites only matching partitions of
a date/series-partitioned table, not the whole table).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import incremental


class ParquetTable:
    """A named parquet directory with Delta-flavored mutation verbs.

    Writes are staged to a sibling temp dir then atomically swapped via
    rename, so a failed job never leaves a half-written table (the
    same crash-safety the reference got for free from Mongo's
    delete/insert being separate durable ops — minus its window of
    emptiness between them, cv-api.py:188-195).
    """

    def __init__(self, spark: SparkSession, path: str, partition_by: Sequence[str] = ()):
        self.spark = spark
        self.path = path
        self.partition_by = list(partition_by)

    def exists(self) -> bool:
        return os.path.isdir(self.path) and any(
            f.endswith(".parquet") or f.startswith("part-") or f == "_SUCCESS"
            for root, _, fs in os.walk(self.path)
            for f in fs
        )

    def read(self) -> DataFrame:
        return self.spark.read.parquet(self.path)

    # -- K1: append ---------------------------------------------------------
    def append(self, df: DataFrame) -> None:
        w = df.write.mode("append")
        if self.partition_by:
            w = w.partitionBy(*self.partition_by)
        w.parquet(self.path)

    # -- K2: full refresh ----------------------------------------------------
    def overwrite(self, df: DataFrame) -> int:
        """Truncate-and-reload with the K5 count-delta metric
        (cv-api.py:184-207). Returns new_records = len(df) - len(old).
        The input lineage executes ONCE (the write); both counts are
        parquet footer reads, so an expensive upstream plan is not run
        a second time just for the metric."""
        old_n = self.read().count() if self.exists() else 0
        self._swap(df)
        return self.read().count() - old_n

    # -- K3: selective delete -------------------------------------------------
    def delete_where(self, condition: str) -> None:
        """``DELETE WHERE`` (cv-stats.py:89-92's delete_many({"series": ...})).
        Copy-on-write: keep rows NOT matching, swap. SQL DELETE removes
        only rows where the predicate is TRUE — a bare ``filter(~cond)``
        would also drop NULL-evaluating rows (three-valued logic), so
        the kept set is cond IS NOT TRUE."""
        if not self.exists():
            return
        self._swap(
            self.read().filter(~F.coalesce(F.expr(condition), F.lit(False)))
        )

    def replace_where(self, condition: str, df: DataFrame) -> None:
        """Delta-style ``replaceWhere``: atomically delete matching rows
        and insert ``df`` (the reference's delete_many + insert_many pair
        as one swap — no window of emptiness)."""
        if self.exists():
            # same three-valued-logic rule as delete_where
            kept = self.read().filter(~F.coalesce(F.expr(condition), F.lit(False)))
            self._swap(kept.unionByName(df, allowMissingColumns=True))
        else:
            self._swap(df)

    # -- K4: keyed merge -------------------------------------------------------
    def merge_update(self, updates: DataFrame, key: str, update_cols: Sequence[str]) -> None:
        """MERGE WHEN MATCHED THEN UPDATE (cv.py:127-132)."""
        self._swap(incremental.merge_update(self.read(), updates, key, update_cols))

    # -- U3/J4: incremental append ----------------------------------------------
    def append_new(self, incoming: DataFrame, key: str, exact: bool = True) -> int:
        """Idempotent incremental append: only not-yet-stored keys land
        (cv.py:104-125). Returns the number of appended rows."""
        if not self.exists():
            fresh = incoming
        elif exact:
            fresh = incremental.new_rows_exact(self.read(), incoming, key)
        else:
            fresh = incremental.new_rows_watermark(self.read(), incoming, key)
        fresh = fresh.cache()  # count + write: execute the anti-join once
        try:
            n = fresh.count()
            if n:
                self.append(fresh)
        finally:
            fresh.unpersist()
        return n

    # -- schema evolution ------------------------------------------------------
    def evolved_read(self) -> DataFrame:
        """Read across files written with different (widening) schemas —
        ``mergeSchema`` unions the per-file footers so columns added by
        later appends surface as nullable for old rows. Plain parquet
        has no transaction-log schema, so evolution is footer-merge at
        read time; ``append_evolved`` is the write-side verb."""
        return self.spark.read.option("mergeSchema", "true").parquet(self.path)

    def append_evolved(self, df: DataFrame) -> None:
        """Append a batch whose schema is a SUPERSET of the stored one
        (new columns allowed; drops/renames rejected). New columns
        arrive as nulls for pre-existing rows via ``evolved_read`` —
        Delta's mergeSchema append without the log. Readers using plain
        ``read()`` keep seeing the first-writer schema until they opt
        into ``evolved_read``; nothing is rewritten.
        """
        if self.exists():
            stored = set(self.read().columns)
            incoming = set(df.columns)
            missing = stored - incoming
            if missing:
                raise ValueError(
                    f"append_evolved only widens schemas; batch is missing "
                    f"stored columns {sorted(missing)}"
                )
        self.append(df)

    def compact(self, rows_per_file: int = 1_000_000) -> int:
        """Small-files compaction: rewrite the table into
        ceil(rows / rows_per_file) files via an atomic staged swap.
        Streaming foreachBatch appends and incremental append_new both
        accrete one-file-per-batch — at 100 TB the resulting tiny-file
        listing/open overhead dominates scan time, so compaction is a
        first-class maintenance verb (OPTIMIZE in Delta terms). Uses
        repartition (round-robin, no key) — size-balanced output files
        regardless of data skew. Returns the output file count."""
        df = self.read()
        n = df.count()
        n_files = max(1, -(-n // rows_per_file))
        self._swap(df.repartition(n_files))
        return n_files

    # -- internals ---------------------------------------------------------------
    def _swap(self, df: DataFrame) -> None:
        parent = os.path.dirname(os.path.abspath(self.path)) or "."
        os.makedirs(parent, exist_ok=True)
        staging = os.path.join(
            tempfile.mkdtemp(dir=parent), f".staging-{uuid.uuid4().hex[:8]}"
        )
        w = df.write.mode("overwrite")
        if self.partition_by:
            w = w.partitionBy(*self.partition_by)
        w.parquet(staging)
        old = self.path + f".old-{uuid.uuid4().hex[:8]}"
        if os.path.exists(self.path):
            os.rename(self.path, old)
        try:
            os.rename(staging, self.path)
        except OSError:
            # roll the old data back into place rather than leaving no
            # table at all; a hard crash between the two renames can
            # still orphan it (single-rename atomicity needs a
            # transaction log a la Delta — out of scope for a
            # filesystem table), which recover_orphaned() repairs.
            if os.path.exists(old):
                os.rename(old, self.path)
            raise
        shutil.rmtree(old, ignore_errors=True)
        shutil.rmtree(os.path.dirname(staging), ignore_errors=True)

    def recover_orphaned(self) -> bool:
        """Repair a table lost to a crash between _swap's two renames:
        if the path is missing but a .old-* sibling exists, restore the
        newest one. Returns True if a restore happened."""
        if os.path.exists(self.path):
            return False
        parent = os.path.dirname(os.path.abspath(self.path)) or "."
        base = os.path.basename(self.path)
        # The .old-* suffix is random, so "newest" is by mtime, not name.
        cands = [
            os.path.join(parent, f)
            for f in (os.listdir(parent) if os.path.isdir(parent) else [])
            if f.startswith(base + ".old-")
        ]
        if not cands:
            return False
        os.rename(max(cands, key=os.path.getmtime), self.path)
        return True
