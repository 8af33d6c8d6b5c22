"""The fixed shape of a registry stateful drain: its state runs in one wave
of tasks (``streaming_windows._state_parts``), its memory sink is read
back in one Spark job, and a warm drain starts the plan the first one built
(``streaming_windows._drain_stateful``)."""

from __future__ import annotations

import collections
from contextlib import contextmanager

import pytest

from pyspark.sql.streaming import StreamingQueryListener

from flow_spark.catalog import load_table
from flow_spark.queries import streaming_windows
from flow_spark.queries.registry import all_queries


class _Recorder(StreamingQueryListener):
    def __init__(self):
        self.started = []  # query names, in start order
        self.progress = []  # StreamingQueryProgress of every batch

    def onQueryStarted(self, e):
        self.started.append(e.name)

    def onQueryProgress(self, e):
        self.progress.append(e.progress)

    def onQueryIdle(self, e):
        pass

    def onQueryTerminated(self, e):
        pass


@contextmanager
def _recording(spark):
    rec = _Recorder()
    spark.streams.addListener(rec)
    try:
        yield rec
    finally:
        # progress events reach Python listeners through the listener bus
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        spark.streams.removeListener(rec)


def _state_widths(spark, sf_dir) -> set[int]:
    with _recording(spark) as rec:
        streaming_windows.stream_twa(spark, sf_dir).collect()
    widths = {op.numShufflePartitions for p in rec.progress for op in p.stateOperators}
    assert widths, "no progress event carried a state operator"
    return widths


def test_state_runs_in_one_wave(spark, sf_dir):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    # a driver-built session keeps Spark's default width of 200
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    try:
        one_wave = min(
            streaming_windows.MAX_STATE_PARTS, spark.sparkContext.defaultParallelism
        )
        assert _state_widths(spark, sf_dir) == {one_wave}
        assert spark.conf.get("spark.sql.shuffle.partitions") == "200"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


@pytest.mark.parametrize("name", ["stream_gcra_throttle", "stream_twa"])
def test_read_back_runs_one_job(spark, sf_dir, count_jobs, monkeypatch, name):
    build = all_queries()[name].builder
    with _recording(spark) as rec:
        result = build(spark, sf_dir)
    rows, n_jobs = count_jobs(spark, result.collect)
    assert n_jobs == 1
    assert rows

    # the same shape over the sink table as the memory scan splits it
    sink = spark.table(rec.started[-1])
    assert sink.rdd.getNumPartitions() > 1
    monkeypatch.setattr(streaming_windows, "_drain_stateful", lambda *a, **k: sink)
    plain = build(spark, sf_dir).collect()
    assert collections.Counter(rows) == collections.Counter(plain)


def test_plan_memo_holds_no_data(spark, sf_dir, monkeypatch):
    """A second drain in the session starts the same DataFrame object, and
    still reads the whole table and returns the same rows."""
    started = []
    cls = type(spark.range(1))
    write_stream = cls.writeStream
    monkeypatch.setattr(
        cls, "writeStream", property(lambda df: started.append(df) or write_stream.fget(df))
    )
    runs = []
    for _ in range(2):
        with _recording(spark) as rec:
            rows = streaming_windows.stream_twa(spark, sf_dir).collect()
        runs.append((rows, sum(p.numInputRows for p in rec.progress)))
    assert len(started) == 2 and started[0] is started[1]
    n_events = load_table(spark, sf_dir, "events").count()
    assert runs[0][1] == runs[1][1] == n_events
    assert runs[0][0] == runs[1][0] and runs[0][0]
