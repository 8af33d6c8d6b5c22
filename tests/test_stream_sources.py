"""Fixture tables and parquet files as streams (``catalog.stream_table`` /
``catalog.stream_parquet``): where the schema comes from, how many Spark
jobs a stream read costs, which files a file or directory bind streams,
and that every availableNow drain in the registry runs under a name."""

from __future__ import annotations

import collections
import os
import shutil
import tempfile
import uuid

import pytest

from pyspark.sql import functions as F

from flow_spark.catalog import load_table, stream_table
from flow_spark.plans.builder import Pipeline


def _drain_rows(spark, df, tmp_path):
    name = f"src_{uuid.uuid4().hex[:8]}"
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    return spark.table(name).collect()


def test_warm_stream_runs_no_job(spark, sf_dir, tmp_path, count_jobs):
    from flow_spark.streaming.sources import stream_events

    # a directory this session has never read: the first read must infer
    fresh = tmp_path / "sf"
    fresh.mkdir()
    shutil.copy(os.path.join(sf_dir, "events.parquet"), fresh / "events.parquet")
    sf = str(fresh)

    first, n_first = count_jobs(spark, lambda: stream_table(spark, sf, "events"))
    assert n_first >= 1  # the schema inference: proves the count can see a job
    batch = load_table(spark, sf, "events")

    second, n_second = count_jobs(spark, lambda: stream_table(spark, sf, "events"))
    msgs, n_msgs = count_jobs(spark, lambda: stream_events(spark, sf))
    assert (n_second, n_msgs) == (0, 0)
    assert load_table(spark, sf, "events") is batch
    assert first.isStreaming and second.isStreaming and msgs.isStreaming
    # the batch table's columns, types (events.ts normalized) and rows
    assert second.schema == batch.schema
    assert dict(second.dtypes)["ts"] == "timestamp"
    assert collections.Counter(
        map(tuple, _drain_rows(spark, second, tmp_path))
    ) == collections.Counter(map(tuple, batch.collect()))


RELAY = """
actors:
  in:
    module: core.receiver
    params:
      bind: parquet://{path}
  out:
    module: core.sink
    params:
      bind: memory://out
pipeline:
  in:
    connect: [out]
  out:
"""


@pytest.fixture(scope="module")
def parquet_binds(spark):
    """A directory of parquet files and, beside it, the bound file, another
    file and a same-name file one level down (neither is part of the file
    bind)."""
    root = tempfile.mkdtemp(prefix="stream_binds_")

    def write(lo, hi, dest):
        out = os.path.join(root, f"w_{lo}")
        spark.range(lo, hi).selectExpr(
            "id AS event_id", "cast(id * 3 AS string) AS body_str"
        ).coalesce(1).write.parquet(out)
        (part,) = [p for p in os.listdir(out) if p.endswith(".parquet")]
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        shutil.move(os.path.join(out, part), dest)
        shutil.rmtree(out)

    write(0, 40, f"{root}/dir/part-0.parquet")
    write(40, 70, f"{root}/dir/part-1.parquet")
    write(100, 130, f"{root}/data.parquet")
    write(300, 310, f"{root}/other.parquet")
    write(500, 510, f"{root}/nested/data.parquet")
    yield root
    shutil.rmtree(root, ignore_errors=True)


@pytest.mark.parametrize(
    "bind, ids",
    [
        ("dir", range(0, 70)),
        ("data.parquet", range(100, 130)),
        ("relative", range(100, 130)),
    ],
)
def test_parquet_stream_bind_delivers_each_row_once(
    spark, parquet_binds, tmp_path, bind, ids
):
    path = os.path.join(parquet_binds, bind)
    if bind == "relative":
        path = os.path.relpath(os.path.join(parquet_binds, "data.parquet"))
        assert not os.path.isabs(path)
    p = Pipeline.from_yaml(spark, RELAY.format(path=path))
    sink = p.run(streaming=True).sinks["out"]
    assert sink.isStreaming
    rows = _drain_rows(spark, sink, tmp_path)
    assert collections.Counter(r.event_id for r in rows) == collections.Counter(ids)
    assert all(r.body_str == str(r.event_id * 3) for r in rows)


def test_relative_sf_dir_drain_matches_absolute(spark, sf_dir):
    from flow_spark.queries.streaming_windows import stream_twa

    rel = os.path.relpath(sf_dir)
    assert not os.path.isabs(rel)
    absolute = stream_twa(spark, os.path.abspath(sf_dir)).collect()
    assert absolute
    assert stream_twa(spark, rel).collect() == absolute


def test_asof_enrich_read_back_rejects_a_type_mismatch(spark, tmp_path):
    from flow_spark.queries.streaming_windows import ASOF_ENRICH_OUT

    out = str(tmp_path / "asof_out")
    spark.createDataFrame(
        [(1, 2, "0.5")], "event_id long, user_id long, asof_value string"
    ).withColumn("ts", F.current_timestamp()).write.parquet(out)
    with pytest.raises(Exception, match="(?i)asof_value|convert|schema"):
        spark.read.schema(ASOF_ENRICH_OUT).parquet(out).collect()


def test_availablenow_drains_start_named(spark, sf_dir):
    from pyspark.sql.streaming import StreamingQueryListener

    from flow_spark.queries.streaming_windows import (
        stream_asof_enrich,
        stream_upsert_cdc,
    )

    names = []

    class Started(StreamingQueryListener):
        # called synchronously with DataStreamWriter.start()
        def onQueryStarted(self, e):
            names.append(e.name)

        def onQueryProgress(self, e):
            pass

        def onQueryIdle(self, e):
            pass

        def onQueryTerminated(self, e):
            pass

    listener = Started()
    spark.streams.addListener(listener)
    try:
        stream_asof_enrich(spark, sf_dir).collect()
        stream_upsert_cdc(spark, sf_dir).collect()
    finally:
        spark.streams.removeListener(listener)
    assert len(names) == 2
    assert all(names), names
    assert names[0].startswith("asof_enrich_") and names[1].startswith("upsert_cdc_")
