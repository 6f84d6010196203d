"""The bounded-drain path every registered ``st_*`` query shares:
``tables.load_stream`` (source) and ``streaming.pipeline.
run_available_now`` (trigger, drain-time confs, timeout, stop)."""

from __future__ import annotations

import pytest

from covid_19_fl_spark import tables
from covid_19_fl_spark.streaming import pipeline

_PROVIDER = "spark.sql.streaming.stateStore.providerClass"


class _StubQuery:
    def __init__(self, finishes: bool):
        self.finishes = finishes
        self.stopped = False
        self.recentProgress = [{"numInputRows": 3}, {"numInputRows": 0}]

    def awaitTermination(self, timeout):
        return self.finishes

    def stop(self):
        self.stopped = True


class _StubWriter:
    """Records the confs live at ``start()`` and hands back a stub query."""

    def __init__(self, spark, finishes: bool = True):
        self.spark, self.query = spark, _StubQuery(finishes)
        self.trigger_kw: dict = {}
        self.provider_at_start = None

    def trigger(self, **kw):
        self.trigger_kw = kw
        return self

    def start(self):
        self.provider_at_start = self.spark.conf.get(_PROVIDER, None)
        return self.query


def test_load_stream_schema_matches_load(spark, sf_dir):
    """Both twins apply the same per-table normalization."""
    for name in tables.TABLE_NAMES:
        stream = tables.load_stream(spark, sf_dir, name)
        assert stream.isStreaming
        assert stream.schema == tables.load(spark, sf_dir, name).schema, name


def test_state_store_is_rocksdb_above_big_corpus(spark, sf_dir, monkeypatch):
    monkeypatch.setattr(tables, "corpus_bytes", lambda _d: tables.BIG_CORPUS_BYTES)
    before = spark.conf.get(_PROVIDER, None)
    w = _StubWriter(spark)
    progress = pipeline.run_available_now(spark, w, "big", sf_dir)
    assert w.trigger_kw == {"availableNow": True}
    assert w.provider_at_start.endswith("RocksDBStateStoreProvider")
    assert spark.conf.get(_PROVIDER, None) == before
    assert pipeline.data_batches(progress) == 1


def test_state_store_is_default_below_big_corpus(spark, sf_dir, monkeypatch):
    monkeypatch.setattr(tables, "corpus_bytes", lambda _d: tables.BIG_CORPUS_BYTES - 1)
    before = spark.conf.get(_PROVIDER, None)
    w = _StubWriter(spark)
    pipeline.run_available_now(spark, w, "small", sf_dir)
    assert w.provider_at_start == before


def test_unfinished_drain_raises_and_stops(spark, sf_dir):
    w = _StubWriter(spark, finishes=False)
    with pytest.raises(TimeoutError, match="st_stuck"):
        pipeline.run_available_now(spark, w, "st_stuck", sf_dir)
    assert w.query.stopped


def test_require_one_data_batch():
    pipeline.require_one_data_batch([{"numInputRows": 5}, {"numInputRows": 0}], "q")
    with pytest.raises(AssertionError, match="q: drain took 2 data batches"):
        pipeline.require_one_data_batch(
            [{"numInputRows": 5}, {"numInputRows": 1}], "q"
        )
