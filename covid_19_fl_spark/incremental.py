"""Incremental-load semantics (SURVEY §2.8 U3, §2.4 J3/J4, §2.2 K4).

The reference implements incrementality imperatively: a Mongo $max probe
plus a per-row filter for appends (cv.py:93-110), and a per-row
update_one loop for status refresh (cv.py:127-132). Here each idiom is
one DataFrame→DataFrame function, so it composes with any source/sink
and distributes: the anti-join shuffles only the key column of the
stored side, the merge is a single left join.

At 100 TB: `new_rows_exact` is the safe path (works with gaps/out-of-
order keys) and becomes a SortMergeJoin on the key; `new_rows_watermark`
is the O(stored-side-scan-free) fast path when the key is monotonic —
the stored side reduces to ONE scalar crossing the driver, and the
incoming side is a pure filter (no shuffle at all).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def max_key(stored: DataFrame, key: str, default=None):
    """A1 — scalar high-watermark: ``max(key)`` with empty-table default
    (cv.py:93-107). One partial+final agg; one scalar to the driver.
    The default is applied driver-side, NOT via coalesce(max, lit(0)):
    an int literal fails analysis against date/timestamp keys — the
    canonical monotonic watermark types."""
    v = stored.agg(F.max(key)).first()[0]
    return default if v is None else v


def new_rows_watermark(stored: DataFrame, incoming: DataFrame, key: str) -> DataFrame:
    """J4/F1 watermark shortcut — rows with ``key > max(stored.key)``
    (cv.py:104-110). Valid only for monotonically increasing keys of
    any orderable type; the filter is shuffle-free and pushes down to
    the incoming scan. An empty stored table passes everything."""
    wm = max_key(stored, key)
    if wm is None:
        return incoming
    return incoming.filter(F.col(key) > F.lit(wm))


def new_rows_exact(stored: DataFrame, incoming: DataFrame, key: str | Sequence[str]) -> DataFrame:
    """J4 exact — left-anti join on the key (handles gaps, out-of-order
    arrival, re-sent rows; the general form of the reference's shortcut)."""
    keys = [key] if isinstance(key, str) else list(key)
    return incoming.join(stored.select(*keys), on=keys, how="left_anti")


def matching_rows(incoming: DataFrame, keys_df: DataFrame, key: str) -> DataFrame:
    """J3/F2 — left-semi membership filter (cv.py:113-117's
    ``case_number in under_investigation`` id-list probe)."""
    return incoming.join(keys_df.select(key), on=key, how="left_semi")


def merge_update(
    target: DataFrame,
    updates: DataFrame,
    key: str,
    update_cols: Sequence[str],
) -> DataFrame:
    """K4 — keyed merge, matched-only update, no insert (cv.py:127-132's
    ``update_one(..., upsert=False)`` loop as ONE left join).

    For every target row with a matching update row, ``update_cols``
    take the update's value; unmatched target rows pass through;
    unmatched update rows are dropped (upsert=False).

    Updates are deduplicated per key first (greatest update-column
    struct wins — deterministic at any partition order): a duplicate
    key would otherwise FAN OUT the left join and duplicate target
    rows, silently corrupting table cardinality (Delta MERGE raises on
    multiple matches; a filesystem table must self-defend). Streaming
    callers with an event-time column should pre-dedup on it instead
    (streaming.pipeline.write_merge does).
    """
    w = Window.partitionBy(key).orderBy(
        F.struct(*[F.col(c) for c in update_cols]).desc()
    )
    updates = (
        updates.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    u = updates.select(
        F.col(key),
        *[F.col(c).alias(f"__u_{c}") for c in update_cols],
        F.lit(True).alias("__matched"),
    )
    out = target.join(u, on=key, how="left")
    for c in update_cols:
        out = out.withColumn(
            c, F.when(F.col("__matched").isNotNull(), F.col(f"__u_{c}")).otherwise(F.col(c))
        )
    return out.drop("__matched", *[f"__u_{c}" for c in update_cols])


def join_view_delta(
    a_old: DataFrame,
    delta_a: DataFrame,
    b_old: DataFrame,
    delta_b: DataFrame,
    on,
) -> DataFrame:
    """Delta rule for an insert-only join view V = A ⋈ B
    (``on``: column name(s) or a join-condition Column):

        ΔV = ΔA ⋈ (B_old ∪ ΔB)  ∪  A_old ⋈ ΔB

    — the two terms cover ΔA×B_old, ΔA×ΔB, and A_old×ΔB exactly once,
    so V_old ∪ ΔV ≡ (A_old ∪ ΔA) ⋈ (B_old ∪ ΔB) without ever re-joining
    the old sides. That asymmetry is the point at 100 TB: both joins
    have a DELTA (micro-batch-sized) probe side, so each is a broadcast
    or small-shuffle join touching |Δ| rows, while the naive refresh
    re-joins two full fact tables. The generalization of the
    reference's max-key append shortcut (cv.py:104-110) from a single
    table to a two-table view."""
    b_new = b_old.unionByName(delta_b)
    return delta_a.join(b_new, on).unionByName(a_old.join(delta_b, on))


def merge_agg_view(
    view_old: DataFrame, delta_agg: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Merge an aggregated view with the aggregate of its delta rows:
    re-aggregate the union of the two partial-state tables. Valid for
    merge-associative states (count→sum, sum→sum, min→min, max→max —
    the x_agg_state_rollup contract); both inputs are |groups|-sized,
    so the merge never rescans facts. Non-key columns must already be
    partial states with matching names; every column is summed (use
    decimal sums upstream for partition-order-exact doubles)."""
    vals = [c for c in view_old.columns if c not in keys]
    merged = view_old.unionByName(delta_agg.select(*view_old.columns))
    return merged.groupBy(*keys).agg(
        *[F.sum(c).alias(c) for c in vals]
    )
