"""Incremental semantics + batch sink tests (SURVEY §5.3.4 property
tests: watermark-append idempotence, count-delta invariant, merge)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from covid_19_fl_spark import incremental
from covid_19_fl_spark.sinks.batch import ParquetTable


def _df(spark, rows, schema="case_number long, travel string"):
    return spark.createDataFrame(rows, schema)


@pytest.fixture()
def table(spark, tmp_path):
    return ParquetTable(spark, str(tmp_path / "florida"))


BASE = [(1, "No"), (2, "Under Investigation"), (3, "Under Investigation")]
INCOMING = [(2, "Yes"), (3, "No"), (4, "No"), (5, "Under Investigation")]


def test_watermark_vs_exact_new_rows(spark):
    stored, incoming = _df(spark, BASE), _df(spark, INCOMING)
    wm = incremental.new_rows_watermark(stored, incoming, "case_number")
    exact = incremental.new_rows_exact(stored, incoming, "case_number")
    assert sorted(r.case_number for r in wm.collect()) == [4, 5]
    assert sorted(r.case_number for r in exact.collect()) == [4, 5]


def test_exact_handles_out_of_order_keys(spark):
    # Watermark shortcut misses back-filled keys; exact anti-join doesn't.
    stored = _df(spark, [(1, "No"), (5, "No")])
    incoming = _df(spark, [(3, "No"), (6, "No")])
    wm = incremental.new_rows_watermark(stored, incoming, "case_number")
    exact = incremental.new_rows_exact(stored, incoming, "case_number")
    assert sorted(r.case_number for r in wm.collect()) == [6]
    assert sorted(r.case_number for r in exact.collect()) == [3, 6]


def test_max_key_empty_default(spark):
    empty = spark.createDataFrame([], "case_number long")
    # no default → None (lets date/timestamp keys work without a
    # type-mismatched coalesce); the reference's A1 zero default is
    # opt-in
    assert incremental.max_key(empty, "case_number") is None
    assert incremental.max_key(empty, "case_number", default=0) == 0


def test_watermark_on_date_key(spark):
    """new_rows_watermark must work for date/timestamp keys (the
    canonical monotonic watermark) — an int-defaulted coalesce used to
    fail analysis here — and pass everything through when the stored
    side is empty."""
    import datetime

    stored = spark.createDataFrame(
        [(datetime.date(2020, 3, 14),)], "date_added date"
    )
    incoming = spark.createDataFrame(
        [(datetime.date(2020, 3, 13),), (datetime.date(2020, 3, 15),)],
        "date_added date",
    )
    got = incremental.new_rows_watermark(stored, incoming, "date_added")
    assert [str(r.date_added) for r in got.collect()] == ["2020-03-15"]
    empty = spark.createDataFrame([], "date_added date")
    assert incremental.new_rows_watermark(empty, incoming, "date_added").count() == 2


def test_semi_join_membership(spark):
    incoming = _df(spark, INCOMING)
    keys = spark.createDataFrame([(2,), (5,)], "case_number long")
    got = incremental.matching_rows(incoming, keys, "case_number")
    assert sorted(r.case_number for r in got.collect()) == [2, 5]


def test_merge_update_semantics(spark):
    target, updates = _df(spark, BASE), _df(spark, [(2, "Yes"), (9, "Yes")])
    merged = incremental.merge_update(target, updates, "case_number", ["travel"])
    got = {r.case_number: r.travel for r in merged.collect()}
    # matched row updated; unmatched target untouched; upsert=False → no row 9
    assert got == {1: "No", 2: "Yes", 3: "Under Investigation"}


def test_append_new_idempotent(spark, table):
    table.append(_df(spark, BASE))
    n1 = table.append_new(_df(spark, INCOMING), "case_number")
    assert n1 == 2 and table.read().count() == 5
    # Property (SURVEY §5.3.4): replay adds nothing.
    n2 = table.append_new(_df(spark, INCOMING), "case_number")
    assert n2 == 0 and table.read().count() == 5


def test_overwrite_count_delta(spark, table):
    assert table.overwrite(_df(spark, BASE)) == 3
    assert table.overwrite(_df(spark, INCOMING)) == 1  # 4 - 3
    assert table.read().count() == 4


def test_recover_orphaned_restores_table_after_crash(spark, table):
    """A crash between _swap's two renames leaves no table, only the
    renamed-away ``.old-*`` sibling; recovery puts it back once. With
    several orphans the newest wins, although the random suffix of an
    older one may sort after it."""
    import os

    table.overwrite(_df(spark, INCOMING))
    os.rename(table.path, table.path + ".old-ffffffff")
    os.utime(table.path + ".old-ffffffff", (1, 1))
    table.overwrite(_df(spark, BASE))
    os.rename(table.path, table.path + ".old-00000000")
    assert not table.exists()
    assert table.recover_orphaned() is True
    assert sorted(r.case_number for r in table.read().collect()) == [1, 2, 3]
    assert table.recover_orphaned() is False


def test_delete_where_and_replace_where(spark, table):
    rows = [(d, float(c), s) for d, c, s in
            [("2020-03-01", 1.0, "actual"), ("2020-03-02", 3.0, "actual"),
             ("2020-03-03", 9.0, "predicted")]]
    df = spark.createDataFrame(rows, "date string, count double, series string")
    table.overwrite(df)
    # K3: cv-stats.py:89-92 deletes series='actual' before reinsert.
    table.delete_where("series = 'actual'")
    assert [r.series for r in table.read().collect()] == ["predicted"]
    fresh = spark.createDataFrame(
        [("2020-03-04", 27.0, "predicted")], "date string, count double, series string"
    )
    table.replace_where("series = 'predicted'", fresh)
    got = table.read().collect()
    assert len(got) == 1 and got[0].date == "2020-03-04"


def test_merge_update_sink(spark, table):
    table.overwrite(_df(spark, BASE))
    table.merge_update(_df(spark, [(3, "No")]), "case_number", ["travel"])
    got = {r.case_number: r.travel for r in table.read().collect()}
    assert got[3] == "No" and got[2] == "Under Investigation"


def test_partitioned_table_prunes(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "by_series"), partition_by=["series"])
    df = spark.createDataFrame(
        [("2020-03-01", 1.0, "actual"), ("2020-03-02", 2.0, "predicted")],
        "date string, count double, series string",
    )
    t.overwrite(df)
    q = t.read().filter(F.col("series") == "actual")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert q.count() == 1
    # Partition filter must prune at scan time, not post-filter.
    assert "PartitionFilters: [isnotnull(series" in plan


def test_compact_shrinks_files_preserves_rows(spark, tmp_path):
    """compact(): many small append files collapse to the computed
    file count; row set identical before/after; atomic swap leaves no
    staging debris."""
    import os

    from covid_19_fl_spark.sinks.batch import ParquetTable

    t = ParquetTable(spark, str(tmp_path / "t"))
    for i in range(6):  # six tiny appends → ≥6 files
        t.append(spark.range(i * 10, i * 10 + 10).toDF("id"))

    def files():
        return [
            f for f in os.listdir(t.path)
            if f.endswith(".parquet") and not f.startswith(".")
        ]

    before = sorted(r.id for r in t.read().collect())
    assert len(files()) >= 6
    n_files = t.compact(rows_per_file=40)  # 60 rows → 2 files
    assert n_files == 2
    assert len(files()) == 2
    assert sorted(r.id for r in t.read().collect()) == before
    assert not [d for d in os.listdir(tmp_path) if d.startswith(".staging")]


def test_schema_evolution_append_and_read(spark, tmp_path):
    """append_evolved widens the table schema; evolved_read surfaces
    the new column as null for old rows; narrowing batches are
    rejected before any write happens."""
    from covid_19_fl_spark.sinks.batch import ParquetTable

    t = ParquetTable(spark, str(tmp_path / "evo"))
    t.overwrite(spark.createDataFrame([(1, "a")], "id long, v string"))
    t.append_evolved(
        spark.createDataFrame([(2, "b", 9.5)], "id long, v string, score double")
    )

    rows = {r.id: r for r in t.evolved_read().collect()}
    assert set(rows) == {1, 2}
    assert rows[1].score is None and rows[2].score == 9.5

    import pytest as _pytest

    with _pytest.raises(ValueError, match="missing stored columns"):
        t.append_evolved(spark.createDataFrame([(3,)], "id long"))
    # the rejected batch must not have landed
    assert set(r.id for r in t.evolved_read().collect()) == {1, 2}


def test_delete_where_is_three_valued(spark, tmp_path):
    """DELETE WHERE removes rows where the predicate is TRUE — rows
    where it evaluates NULL must survive (regression: filter(~cond)
    silently deleted them)."""
    t = ParquetTable(spark, str(tmp_path / "tvl"))
    t.overwrite(
        spark.createDataFrame(
            [(1, "actual"), (2, "predicted"), (3, None)], "id long, series string"
        )
    )
    t.delete_where("series = 'predicted'")
    assert sorted(r.id for r in t.read().collect()) == [1, 3]


def test_merge_update_duplicate_update_keys_no_fanout(spark):
    """Duplicate keys in the updates side must not duplicate target
    rows (left-join fan-out regression); the greatest update-struct
    wins deterministically."""
    target = spark.createDataFrame([(42, "old"), (7, "keep")], "k long, v string")
    updates = spark.createDataFrame(
        [(42, "aaa"), (42, "zzz")], "k long, v string"
    )
    got = incremental.merge_update(target, updates, "k", ["v"])
    rows = {r.k: r.v for r in got.collect()}
    assert got.count() == 2
    assert rows == {42: "zzz", 7: "keep"}
