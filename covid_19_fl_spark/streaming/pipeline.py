"""Structured Streaming equivalents of the reference's scheduled-rerun
incrementality (SURVEY §2.11).

The reference "streams" by re-running whole scripts on a Heroku
scheduler (Procfile:1) and reconciling with max-key filters (cv.py:104-110)
and per-row update loops (cv.py:127-132). Here the same semantics are
continuous micro-batch plans:

- polling ingest        → ``readStream`` on a directory (or any source),
                          ``Trigger.AvailableNow`` for catch-up batches
- max-key incremental   → ``withWatermark`` + ``dropDuplicates`` keyed state
- status-refresh merge  → ``foreachBatch`` + ParquetTable.merge_update
- daily groupBy(date)   → 1-day tumbling event-time window

State is bounded by the watermark (the reference bounded it by full
refresh); at scale the dedup state is per-key in the state store,
partitioned by key hash across executors.

A scheduled re-run over the corpus is a BOUNDED drain: the registry's
``st_*`` queries read ``tables.load_stream`` sources, build their own
sink, and hand the writer to ``run_available_now``, the one place that
owns the trigger, the drain-time confs, the timeout and the stop.
"""

from __future__ import annotations

import os
import re
import shutil
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from .. import tables
from ..confs import scoped_conf
from ..sinks.batch import ParquetTable

# Shuffle width of every bounded drain. Streaming state costs per
# PARTITION (a state store instance plus commit/delta files per
# micro-batch), so a bare 200-partition session spends more on store
# maintenance than on rows (stream-stream join at sf0.1: 20 s → 3.3 s).
# Measured at sf0.1: 8 and 16 equal, 32 is 1.4× slower (per-store fixed
# cost dominates tiny stores). A cluster sizes it to state volume ÷
# target per-store size.
DRAIN_SHUFFLE_PARTITIONS = 16
# One bound for every drain, the largest any drain has needed (the
# data-sized joins on the 100× corpus). Only a failure reaches it.
DRAIN_TIMEOUT_S = 600
_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def run_available_now(
    spark: SparkSession, writer: DataStreamWriter, name: str, sf_dir: str
) -> list:
    """Start ``writer`` with ``Trigger.AvailableNow``, wait for the
    bounded drain to finish, stop it, and return its progress records.

    The caller owns the semantics: source, sink, output mode and any
    ``foreachBatch`` body. This runner owns the drain harness, scoped
    to the drain (the query latches confs at start; restoring them
    afterwards leaves batch plans untouched):

    * ``DRAIN_SHUFFLE_PARTITIONS`` shuffle partitions;
    * the state store, chosen by corpus size. Below
      ``tables.BIG_CORPUS_BYTES`` of source parquet (every local SF and
      the 10× replica) the default on-heap HDFSBackedStateStoreProvider
      is kept: 2.1× faster than RocksDB over the five join/watermark
      drains at sf0.1 (20.8 s vs 44.3 s), since RocksDB pays JNI
      serialization and a per-store snapshot upload a heap-sized state
      never needs. At or above it, RocksDB: on the 100× replica the
      on-heap join state of st_stream_left_outer_wm (60M + 7.5M
      buffered rows) exhausted a 24 g heap and took the SparkContext
      down. Results are byte-identical either way;
    * ``DRAIN_TIMEOUT_S``: a drain that has not finished raises
      ``TimeoutError`` naming the query, rather than letting the caller
      read a partial sink. The query is stopped either way.
    """
    confs = {"spark.sql.shuffle.partitions": str(DRAIN_SHUFFLE_PARTITIONS)}
    if tables.corpus_bytes(sf_dir) >= tables.BIG_CORPUS_BYTES:
        confs["spark.sql.streaming.stateStore.providerClass"] = _ROCKSDB_PROVIDER
    with scoped_conf(spark, confs):
        q = writer.trigger(availableNow=True).start()
        try:
            if not q.awaitTermination(DRAIN_TIMEOUT_S):
                raise TimeoutError(
                    f"{name}: availableNow drain did not finish within "
                    f"{DRAIN_TIMEOUT_S}s — refusing to read a partial sink"
                )
            return [p for p in q.recentProgress if p]
        finally:
            q.stop()


def data_batches(progress: list) -> int:
    """Micro-batches of a drain that read at least one row."""
    return sum(1 for p in progress if p.get("numInputRows", 0) > 0)


def require_one_data_batch(progress: list, name: str) -> None:
    """Fail a drain whose result is only deterministic in ONE data
    micro-batch (an order-sensitive fold, a watermark frontier, a
    first batch nothing is late against). ``tables.load_stream`` pins
    that; this catches a source that splits anyway."""
    n = data_batches(progress)
    if n > 1:
        raise AssertionError(
            f"{name}: drain took {n} data batches — the single-batch "
            "assumption is violated; raise maxFilesPerTrigger"
        )


def drain_to_parquet(
    spark: SparkSession, stream_df: DataFrame, name: str, sf_dir: str
) -> tuple[DataFrame, list]:
    """Append-mode drain of a potentially DATA-SIZED streaming output
    through distributed foreachBatch parquet writes instead of the
    driver-heap memory sink (a 100× join output is tens of millions of
    rows). foreachBatch is AT-LEAST-ONCE: an epoch retried after a sink
    failure redelivers the same batch_id, so each batch writes
    mode("overwrite") into its OWN ``b<batch_id>`` subdirectory — a
    redelivery rewrites its own batch instead of double-appending.
    Batch 0 clears the per-(query, corpus) dest dir first, so each run
    self-cleans. Returns (DataFrame over the drained rows, progress)."""
    tag = re.sub(r"[^0-9A-Za-z]+", "_", os.path.basename(os.path.normpath(sf_dir)))
    dest = f"/tmp/covid_19_fl_spark-drain/{name}_{tag}"

    def write_batch(df: DataFrame, batch_id: int) -> None:
        if batch_id == 0:
            shutil.rmtree(dest, ignore_errors=True)
        df.write.mode("overwrite").parquet(f"{dest}/b{batch_id}")

    writer = stream_df.writeStream.foreachBatch(write_batch).outputMode("append")
    progress = run_available_now(spark, writer, name, sf_dir)
    try:
        # recursiveFileLookup: the per-batch subdirs are plain names
        # (b0, b1, ...), NOT key=value partition dirs — the drained
        # frame's schema must stay exactly the stream's schema.
        drained = spark.read.option("recursiveFileLookup", "true").parquet(dest)
    except Exception:  # noqa: BLE001 — zero-row drain writes no part files
        drained = spark.createDataFrame([], stream_df.schema)
    return drained, progress


def dedup_incremental(
    stream: DataFrame,
    key_cols: Sequence[str],
    event_time_col: str,
    late_threshold: str = "1 day",
) -> DataFrame:
    """U3 streaming form — keyed dedup with watermark-bounded state
    (the reference's max-key append, cv.py:104-110, without requiring
    monotonic keys). Duplicate rows arriving within ``late_threshold``
    of the max observed event time are dropped exactly once."""
    return stream.withWatermark(event_time_col, late_threshold).dropDuplicates(
        [*key_cols, event_time_col]
    )


def daily_counts_stream(
    stream: DataFrame, event_time_col: str, late_threshold: str = "1 day"
) -> DataFrame:
    """A2/W1 streaming form — the epidemic-curve daily bucketing as a
    1-day tumbling event-time window with late-data handling the batch
    reference never had (it full-refreshed instead)."""
    return (
        stream.withWatermark(event_time_col, late_threshold)
        .groupBy(F.window(F.col(event_time_col), "1 day").alias("day"))
        .agg(F.count("*").alias("n"))
        .select(F.col("day.start").cast("date").alias("date"), "n")
    )


def enrich_stream(
    stream: DataFrame,
    dim: DataFrame,
    on: str | list[str],
    how: str = "left",
) -> DataFrame:
    """Stream-static dimension enrichment — the streaming twin of the
    J1 broadcast lookup join (cv-api.py:117's county→location probe).

    The static side is re-evaluated every micro-batch, so slowly-
    changing dimension updates are picked up without restarting the
    query; the broadcast hint keeps it stateless (no join state store,
    no watermark needed — only stream-stream joins buffer state). At
    100 TB-of-stream scale this is the right shape for any dim that
    fits an executor: the fact stream never shuffles for the join.
    """
    return stream.join(F.broadcast(dim), on, how)


def attribute_purchases(
    clicks: DataFrame,
    purchases: DataFrame,
    attribution_window: str = "1 hour",
    late_threshold: str = "1 hour",
) -> DataFrame:
    """Stream-stream interval join: each purchase attributed to the
    same user's clicks within the preceding ``attribution_window``.

    Both sides carry watermarks so the join state is bounded: a click
    can be dropped from state once no purchase within the window can
    still arrive. The interval condition keeps it a state-store lookup
    per key — no unbounded buffering.
    """
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    ).withWatermark("click_ts", late_threshold)
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
        F.col("ts").alias("purchase_ts"),
    ).withWatermark("purchase_ts", late_threshold)
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {attribution_window}"))
    )
    return c.join(p, cond, "inner").select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "purchase_value",
        "click_id",
        "click_ts",
        "purchase_ts",
    )


def session_counts_stream(
    stream: DataFrame,
    key_col: str,
    event_time_col: str,
    gap: str = "30 minutes",
    late_threshold: str = "1 day",
) -> DataFrame:
    """Session-window aggregation (gap-based), per key — the sessionized
    form of the daily bucketing. State is bounded by the watermark;
    sessions merge server-side as late rows arrive within the gap."""
    return (
        stream.withWatermark(event_time_col, late_threshold)
        .groupBy(
            F.col(key_col),
            F.session_window(F.col(event_time_col), gap).alias("session"),
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            key_col,
            F.col("session.start").alias("session_start"),
            F.col("session.end").alias("session_end"),
            "n_events",
        )
    )


def write_merge(
    stream: DataFrame,
    table: ParquetTable,
    key: str,
    update_cols: Sequence[str],
    checkpoint_dir: str,
    order_col: str | None = None,
) -> DataStreamWriter:
    """K4 streaming sink — per-micro-batch MERGE (matched-update) into a
    ParquetTable via foreachBatch (cv.py:127-132's update loop, one join
    per micro-batch). Caller starts it with ``.trigger(...)`` of choice.

    With ``order_col`` (an event-time column), the LATEST update per
    key wins within a batch; without it, the greatest update-column
    struct wins (incremental.merge_update's deterministic dedup) — a
    bare dropDuplicates would keep a partition-order-arbitrary row and
    let a stale update beat a fresh one. Matched-only means the target
    must already exist (K4 updates an existing collection); a batch
    arriving before the table is seeded is a no-op rather than a
    batch-boundary-dependent bootstrap insert."""

    def _merge(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty() or not table.exists():
            return
        updates = batch
        if order_col is not None:
            w = Window.partitionBy(key).orderBy(F.col(order_col).desc())
            updates = (
                batch.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
        table.merge_update(updates, key, update_cols)

    return stream.writeStream.foreachBatch(_merge).option(
        "checkpointLocation", checkpoint_dir
    )


def write_append_new(
    stream: DataFrame,
    table: ParquetTable,
    key: str,
    checkpoint_dir: str,
) -> DataStreamWriter:
    """U3/K1 streaming sink — idempotent incremental append per
    micro-batch (anti-join against the stored table), the exact
    streaming analogue of the reference's watermark append."""

    def _append(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        table.append_new(batch.dropDuplicates([key]), key, exact=True)

    return stream.writeStream.foreachBatch(_append).option(
        "checkpointLocation", checkpoint_dir
    )


def dedup_bounded_state(
    stream: DataFrame,
    keys: list[str],
    event_time_col: str,
    within: str = "1 hour",
) -> DataFrame:
    """Watermark-BOUNDED streaming dedup
    (``dropDuplicatesWithinWatermark``): unlike ``dropDuplicates`` —
    whose per-key state lives forever unless the event-time column is
    part of the key — this keeps a key's state only ``within`` of the
    watermark, so state size is O(keys per window), not O(keys ever
    seen). The right primitive for at-least-once sources whose
    duplicates arrive close together (retries, redeliveries): at
    100 TB/day the unbounded variant OOMs the state store; this one
    plateaus."""
    return stream.withWatermark(event_time_col, within).dropDuplicatesWithinWatermark(
        keys
    )
