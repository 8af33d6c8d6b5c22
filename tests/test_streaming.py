"""Streaming runtime tests: file source -> windowed agg -> memory sink,
stateful GCRA throttler, sink backoff schedule, pipeline streaming mode."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


class _StuckQuery:
    """A drain that never terminates, after ``progress`` batches."""

    name = "stuck_drain"

    def __init__(self, progress):
        self.recentProgress = progress
        self.stopped = False

    def awaitTermination(self, timeout):
        return False

    def stop(self):
        self.stopped = True


@pytest.mark.parametrize(
    "progress, detail",
    [
        ([{"batchId": 0, "durationMs": {"triggerExecution": 9}},
          {"batchId": 1, "durationMs": {"addBatch": 4, "triggerExecution": 7}}],
         "last batch 1, durationMs {'addBatch': 4, 'triggerExecution': 7}"),
        ([], "last batch None, durationMs None"),
    ],
)
def test_drain_timeout_names_query_and_last_batch(progress, detail):
    from flow_spark.queries.streaming_windows import _drain

    q = _StuckQuery(progress)
    with pytest.raises(RuntimeError) as err:
        _drain(q, timeout=1)
    assert q.stopped
    assert "'stuck_drain' exceeded 1s" in str(err.value)
    assert detail in str(err.value)


def test_streaming_windowed_agg(spark, sf_dir, tmp_path):
    from flow_spark.streaming.sources import stream_events

    msgs = stream_events(spark, sf_dir)
    agg = (
        msgs.withWatermark("ingest_ts", "10 minutes")
        .groupBy(F.window("ingest_ts", "1 hour"), F.col("meta").getItem("sendto").alias("t"))
        .agg(F.count("*").alias("n"))
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("win_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT sum(n) AS total FROM win_out").collect()[0]
    n = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    # complete mode: every window is emitted (append mode would hold back
    # the final window until the watermark passes its end)
    assert out.total == n


def test_gcra_pure_function():
    from flow_spark.streaming.stateful import gcra_admit

    ns = 1_000_000_000
    # 5 msgs in the same instant at 2 rps: burst allows 2, rest throttled
    admits, tat = gcra_admit([0, 0, 0, 0, 0], 0, rps=2)
    assert admits == [True, True, False, False, False]
    # a second later the bucket refills
    admits2, _ = gcra_admit([ns, ns], tat, rps=2)
    assert admits2 == [True, True]
    # steady stream exactly at rate: all admitted
    admits3, _ = gcra_admit([i * (ns // 2) for i in range(10)], 0, rps=2)
    assert all(admits3)


def test_stateful_throttler_stream(spark, tmp_path):
    from flow_spark.streaming.stateful import throttle_stream

    # bursty synthetic stream: 2 users x 10 msgs inside one second each
    # (the fixture events are spread over a month and never hit 1/user/s)
    rows = [
        (u * 100 + i, f"u{u}", "2024-01-01 00:00:00.%03d" % (i * 50))
        for u in range(2)
        for i in range(10)
    ]
    src_dir = tmp_path / "burst_src"
    spark.createDataFrame(
        rows, "event_id long, user string, ts string"
    ).selectExpr(
        "event_id",
        "CAST(ts AS TIMESTAMP) AS ingest_ts",
        "CAST('x' AS BINARY) AS body",
        "'x' AS body_str",
        "map('user', user) AS meta",
    ).write.parquet(str(src_dir))

    static = spark.read.parquet(str(src_dir))
    msgs = spark.readStream.schema(static.schema).parquet(str(src_dir))
    out = throttle_stream(msgs, rps=2, key_col="user")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("thr_out")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    res = spark.sql(
        "SELECT throttle_status, count(*) AS n FROM thr_out GROUP BY 1"
    ).collect()
    by = {r.throttle_status: r.n for r in res}
    assert by.get("admitted", 0) + by.get("throttled", 0) == 20
    # rps=2 -> burst 0.5s: at t=0 admit; tat advances 0.5s per admit; within
    # one second each user gets ~2 admits, rest throttled
    assert by.get("throttled", 0) >= 14
    per_user = spark.sql(
        "SELECT throttle_key, count(*) AS n FROM thr_out "
        "WHERE throttle_status = 'admitted' GROUP BY 1"
    ).collect()
    assert all(r.n <= 3 for r in per_user)


def test_backoff_schedule():
    from flow_spark.streaming.sinks import write_with_backoff

    sleeps: list[float] = []
    calls = {"n": 0}

    def flaky(df):
        calls["n"] += 1
        if calls["n"] < 4:
            raise OSError("connection refused")

    attempts = write_with_backoff(
        flaky, df=None, max_retries=0, sleep=sleeps.append
    )
    assert attempts == 4
    assert sleeps == [0.05, 0.1, 0.2]  # sink.go: 50ms doubling

    with pytest.raises(OSError):
        write_with_backoff(
            lambda df: (_ for _ in ()).throw(OSError("down")),
            df=None,
            max_retries=2,
            sleep=sleeps.append,
        )


def test_pipeline_streaming_mode(spark, sf_dir, tmp_path):
    from flow_spark.plans.builder import Pipeline
    from flow_spark.streaming.sinks import memory_sink

    yaml_text = f"""
actors:
  in:
    module: core.receiver
    params:
      bind: events://{sf_dir}
  out:
    module: core.sink
pipeline:
  in:
    connect: [out]
  out:
"""
    p = Pipeline.from_yaml(spark, yaml_text)
    seen: list[int] = []
    queries = p.run_streaming(
        sink_writer=lambda name, df: memory_sink(
            name, df, str(tmp_path / "ckpt3"), write=lambda b: seen.append(b.count())
        )
    )
    for q in queries:
        q.awaitTermination(120)
    n = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert sum(seen) == n


def test_watermark_drops_late_rows(spark, tmp_path):
    """Append-mode windowed agg: a row arriving after the watermark passed
    its window's end must be DROPPED (receiver_tcp.go's ack timeout analog:
    late data -> excluded, not retro-merged)."""
    import time

    src = tmp_path / "wm_src"
    src.mkdir()
    schema = "ts timestamp, v int"

    def write_file(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(
            str(src / name)
        )

    from datetime import datetime

    # batch 1: two rows in the 10:00 window, one at 12:10 that will push
    # the watermark to 11:40 — past the 10:00 window's end
    write_file("a", [(datetime(2024, 1, 1, 10, 10), 1),
                     (datetime(2024, 1, 1, 10, 20), 1),
                     (datetime(2024, 1, 1, 12, 10), 1)])

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    agg = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("wm_out")
        .option("checkpointLocation", str(tmp_path / "wm_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: a LATE row for the already-closed 10:00 window
        write_file("b", [(datetime(2024, 1, 1, 10, 30), 1),
                         (datetime(2024, 1, 1, 12, 20), 1)])
        q.processAllAvailable()
    finally:
        q.stop()

    rows = {
        r.w.start.hour: r.n
        for r in spark.sql("SELECT w, n FROM wm_out").collect()
    }
    # the 10:00 window emitted with 2 rows; the late 10:30 row was dropped
    assert rows.get(10) == 2


def test_stream_stream_join(spark, tmp_path):
    """Stream-stream inner join with watermarks + time-range condition
    (Spark buffers both sides in state, bounded by the watermarks).
    Result must equal the same join run in batch."""
    from datetime import datetime, timedelta

    t0 = datetime(2024, 1, 1)
    clicks = [(i, i % 5, t0 + timedelta(minutes=2 * i)) for i in range(30)]
    buys = [(100 + i, i % 5, t0 + timedelta(minutes=2 * i + 1)) for i in range(15)]
    c_schema = "click_id long, user long, c_ts timestamp"
    b_schema = "buy_id long, user long, b_ts timestamp"
    (tmp_path / "c").mkdir(); (tmp_path / "b").mkdir()
    spark.createDataFrame(clicks, c_schema).write.mode("append").parquet(str(tmp_path / "c"))
    spark.createDataFrame(buys, b_schema).write.mode("append").parquet(str(tmp_path / "b"))

    cs = spark.readStream.schema(c_schema).parquet(str(tmp_path / "c")).withWatermark("c_ts", "10 minutes")
    bs = spark.readStream.schema(b_schema).parquet(str(tmp_path / "b")).withWatermark("b_ts", "10 minutes")
    joined = cs.join(
        bs,
        (cs.user == bs.user)
        & (bs.b_ts >= cs.c_ts)
        & (bs.b_ts <= cs.c_ts + F.expr("INTERVAL 5 MINUTES")),
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ssj_out")
        .option("checkpointLocation", str(tmp_path / "ssj_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    cb = spark.read.parquet(str(tmp_path / "c"))
    bb = spark.read.parquet(str(tmp_path / "b"))
    n_batch = cb.join(
        bb,
        (cb.user == bb.user)
        & (bb.b_ts >= cb.c_ts)
        & (bb.b_ts <= cb.c_ts + F.expr("INTERVAL 5 MINUTES")),
    ).count()
    assert spark.table("ssj_out").count() == n_batch > 0


def test_file_sink_crlf_framing(spark, sf_dir, tmp_path):
    """sink_head_file.go parity: records append \r\n-terminated."""
    from flow_spark.streaming.sinks import file_sink
    from flow_spark.streaming.sources import stream_events

    msgs = stream_events(spark, sf_dir).filter(F.col("event_id") < 5)
    out = tmp_path / "out.log"
    q = file_sink("f", msgs, str(tmp_path / "ckpt_fs"), str(out))
    q.awaitTermination(120)
    data = out.read_bytes()
    assert data.endswith(b"\r\n")
    assert len(data.split(b"\r\n")) - 1 == 5


def test_session_window_true_streaming(spark, tmp_path):
    """session_window works under readStream: bursts separated by > gap
    land in separate sessions."""
    from datetime import datetime, timedelta

    t0 = datetime(2024, 1, 1)
    rows = (
        [(1, t0 + timedelta(minutes=i)) for i in range(3)]          # session 1
        + [(1, t0 + timedelta(hours=2, minutes=i)) for i in range(2)]  # session 2
        + [(2, t0,)]
    )
    (tmp_path / "s").mkdir()
    spark.createDataFrame(rows, "user long, ts timestamp").write.mode("append").parquet(
        str(tmp_path / "s")
    )
    stream = spark.readStream.schema("user long, ts timestamp").parquet(str(tmp_path / "s"))
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy("user", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("sess_out")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted((r.user, r.n) for r in spark.table("sess_out").collect())
    assert got == [(1, 2), (1, 3), (2, 1)]


def test_rate_source_pipeline(spark, tmp_path):
    """rate:// receiver: built-in load generator through the YAML builder
    (the dev stand-in for a firehose source)."""
    from flow_spark.plans.builder import Pipeline
    from flow_spark.streaming.sinks import memory_sink

    yaml_text = """
actors:
  gen:
    module: core.receiver
    params:
      bind: rate://
      rows_per_second: 500
  out:
    module: core.sink
pipeline:
  gen:
    connect: [out]
  out:
"""
    p = Pipeline.from_yaml(spark, yaml_text)
    seen: list[int] = []

    def writer(name, df):
        return (
            df.writeStream.foreachBatch(lambda b, i: seen.append(b.count()))
            .option("checkpointLocation", str(tmp_path / "rate_ckpt"))
            .start()
        )

    queries = p.run_streaming(sink_writer=writer)
    try:
        import time

        deadline = time.time() + 30
        while sum(seen) == 0 and time.time() < deadline:
            time.sleep(0.5)
    finally:
        for q in queries:
            q.stop()
    assert sum(seen) > 0, "rate source produced no rows in 30s"


class _CaptureServer:
    """Minimal threaded capture servers for sink-head tests."""

    def __init__(self, kind: str, addr):
        import socket as s
        import threading

        self.chunks: list[bytes] = []
        self.conns = 0
        self._lock = threading.Lock()
        self.kind = kind
        if kind == "udp":
            self.sock = s.socket(s.AF_INET, s.SOCK_DGRAM)
            self.sock.bind(addr)
            self.addr = self.sock.getsockname()
            target = self._run_udp
        else:
            fam = s.AF_UNIX if kind == "unix" else s.AF_INET
            self.sock = s.socket(fam, s.SOCK_STREAM)
            self.sock.bind(addr)
            self.addr = self.sock.getsockname()
            self.sock.listen(8)
            target = self._run_stream
        self.thread = threading.Thread(target=target, daemon=True)
        self.thread.start()

    def _run_stream(self) -> None:
        while True:
            try:
                conn, _ = self.sock.accept()
            except OSError:
                return
            with self._lock:
                self.conns += 1
            while True:
                data = conn.recv(65536)
                if not data:
                    break
                with self._lock:
                    self.chunks.append(data)
            conn.close()

    def _run_udp(self) -> None:
        while True:
            try:
                data, _ = self.sock.recvfrom(65536)
            except OSError:
                return
            with self._lock:
                self.chunks.append(data)

    def data(self) -> bytes:
        with self._lock:
            return b"".join(self.chunks)

    def close(self) -> None:
        self.sock.close()


def _five_messages(spark, sf_dir):
    from flow_spark.streaming.sources import stream_events

    return stream_events(spark, sf_dir).filter(F.col("event_id") < 5)


def test_socket_sink_tcp_framing(spark, sf_dir, tmp_path):
    """sink_head_tcp.go parity: bodies stream \r\n-terminated. TCP heads
    default to the distributed per-partition writer, so framing holds per
    connection and every record arrives exactly once."""
    import time

    from flow_spark.streaming.sinks import socket_sink

    srv = _CaptureServer("tcp", ("127.0.0.1", 0))
    try:
        msgs = _five_messages(spark, sf_dir)
        bind = f"tcp://127.0.0.1:{srv.addr[1]}"
        q = socket_sink("t", msgs, str(tmp_path / "ckpt_tcp"), bind)
        q.awaitTermination(120)
        deadline = time.time() + 10
        while time.time() < deadline and srv.data().count(b"\r\n") < 5:
            time.sleep(0.05)
        records = srv.data().split(b"\r\n")
        assert records[-1] == b""  # every record terminated
        assert len(records) - 1 == 5
    finally:
        srv.close()


def test_socket_sink_unix_head(spark, sf_dir, tmp_path):
    """sink_head_unix.go parity: same framing over a unix-domain socket."""
    import time

    from flow_spark.streaming.sinks import socket_sink_batch

    path = str(tmp_path / "sink.sock")
    srv = _CaptureServer("unix", path)
    try:
        msgs = spark.createDataFrame(
            [("alpha",), ("beta",)], "body_str string"
        )
        n = socket_sink_batch(msgs, f"unix://{path}")
        assert n == 2
        deadline = time.time() + 10
        while time.time() < deadline and srv.data().count(b"\r\n") < 2:
            time.sleep(0.05)
        assert srv.data() == b"alpha\r\nbeta\r\n"  # in-order, framed
    finally:
        srv.close()


def test_socket_sink_udp_raw_datagrams(spark, tmp_path):
    """sink_head_udp.go parity: one datagram per body, NO terminator."""
    import time

    from flow_spark.streaming.sinks import socket_sink_batch

    srv = _CaptureServer("udp", ("127.0.0.1", 0))
    try:
        msgs = spark.createDataFrame([("dg-one",), ("dg-two",)], "body_str string")
        socket_sink_batch(msgs, f"udp://127.0.0.1:{srv.addr[1]}")
        deadline = time.time() + 10
        while time.time() < deadline and len(srv.chunks) < 2:
            time.sleep(0.05)
        assert sorted(srv.chunks) == [b"dg-one", b"dg-two"]
        assert b"\r\n" not in srv.data()
    finally:
        srv.close()


def test_socket_sink_distributed_per_partition(spark, tmp_path):
    """The scale path: distributed=True writes executor-side, one
    connection per non-empty partition, no driver collect."""
    import time

    from flow_spark.streaming.sinks import socket_sink_batch

    srv = _CaptureServer("tcp", ("127.0.0.1", 0))
    try:
        df = spark.createDataFrame(
            [(f"m{i}",) for i in range(8)], "body_str string"
        ).repartition(4)
        non_empty = (
            df.rdd.mapPartitions(lambda it: [sum(1 for _ in it)])
            .filter(lambda c: c > 0)
            .count()
        )
        n = socket_sink_batch(
            df, f"tcp://127.0.0.1:{srv.addr[1]}", distributed=True
        )
        assert n == 8
        deadline = time.time() + 10
        while time.time() < deadline and srv.data().count(b"\r\n") < 8:
            time.sleep(0.05)
        got = sorted(r for r in srv.data().split(b"\r\n") if r)
        assert got == sorted(f"m{i}".encode() for i in range(8))
        assert srv.conns == non_empty  # one dial per non-empty partition
    finally:
        srv.close()


def test_socket_sink_scheme_default_resolution(spark, tmp_path):
    """distributed=None resolves by scheme: tcp dials per non-empty
    partition (executor-side, the scale default); unix keeps ONE
    driver-side connection (node-local socket, single-fd contract)."""
    import time

    from flow_spark.streaming.sinks import socket_sink_batch

    df = spark.createDataFrame(
        [(f"d{i}",) for i in range(8)], "body_str string"
    ).repartition(4)
    non_empty = (
        df.rdd.mapPartitions(lambda it: [sum(1 for _ in it)])
        .filter(lambda c: c > 0)
        .count()
    )

    srv = _CaptureServer("tcp", ("127.0.0.1", 0))
    try:
        n = socket_sink_batch(df, f"tcp://127.0.0.1:{srv.addr[1]}")
        assert n == 8
        deadline = time.time() + 10
        while time.time() < deadline and srv.data().count(b"\r\n") < 8:
            time.sleep(0.05)
        assert srv.conns == non_empty  # default = per-partition dials
    finally:
        srv.close()

    path = str(tmp_path / "default.sock")
    usrv = _CaptureServer("unix", path)
    try:
        n = socket_sink_batch(df, f"unix://{path}")
        assert n == 8
        deadline = time.time() + 10
        while time.time() < deadline and usrv.data().count(b"\r\n") < 8:
            time.sleep(0.05)
        assert usrv.conns == 1  # default = single driver-side conn
    finally:
        usrv.close()


def test_socket_sink_reconnect_backoff(spark):
    """sink.go:80-111 semantics through the socket head: a dead endpoint
    fails the attempt, backoff sleeps run on the reference schedule, and
    a listener appearing mid-retry lets the write succeed (reconnect =
    fresh dial per attempt)."""
    from flow_spark.streaming.sinks import socket_sink_batch, write_with_backoff

    df = spark.createDataFrame([("retry-me",)], "body_str string")

    # grab a port with no listener
    import socket as s

    probe = s.socket()
    probe.bind(("127.0.0.1", 0))
    port = probe.getsockname()[1]
    probe.close()

    slept: list[float] = []
    srv_box: list[_CaptureServer] = []

    def sleep_then_listen(t: float) -> None:
        slept.append(t)
        if not srv_box:  # second attempt finds a live listener
            srv_box.append(_CaptureServer("tcp", ("127.0.0.1", port)))

    attempts = write_with_backoff(
        lambda d: socket_sink_batch(d, f"tcp://127.0.0.1:{port}"),
        df,
        max_retries=3,
        sleep=sleep_then_listen,
    )
    assert attempts == 2
    assert slept == [0.05]  # reference MIN_BACKOFF before the reconnect
    srv_box[0].close()


def test_foreachbatch_merge_upsert(spark, tmp_path):
    """Streaming MERGE: each micro-batch of changes upserts into a parquet
    dimension via the full-outer-join merge pattern (merge_changeset_apply's
    runtime form). maxFilesPerTrigger=1 forces two batches so the second
    batch merges into the first's output: updates accumulate, inserts
    appear, untouched keys carry."""
    import time

    base_dir = str(tmp_path / "dim")
    spark.createDataFrame(
        [(1, 100), (2, 200), (3, 300)], "k long, bal long"
    ).write.parquet(base_dir)

    chg_dir = tmp_path / "changes"
    chg_dir.mkdir()
    spark.createDataFrame([(1, 5), (9, 900)], "k long, delta long").coalesce(
        1
    ).write.json(str(chg_dir / "b0"))
    spark.createDataFrame([(1, 7), (2, -50)], "k long, delta long").coalesce(
        1
    ).write.json(str(chg_dir / "b1"))

    stream = (
        spark.readStream.schema("k long, delta long")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .json(str(chg_dir))
    )

    state = {"path": base_dir, "ver": 0}

    def merge(batch, epoch_id: int) -> None:
        cur = spark.read.parquet(state["path"])
        chg = batch.groupBy("k").agg(F.sum("delta").alias("delta"))
        merged = (
            cur.join(chg, "k", "full_outer")
            .select(
                "k",
                (
                    F.coalesce("bal", F.lit(0)) + F.coalesce("delta", F.lit(0))
                ).alias("bal"),
            )
        )
        nxt = str(tmp_path / f"dim_v{state['ver'] + 1}")
        merged.write.parquet(nxt)  # write-new-then-swap: never clobber live
        state["path"] = nxt
        state["ver"] += 1

    q = (
        stream.writeStream.foreachBatch(merge)
        .option("checkpointLocation", str(tmp_path / "ckpt_merge"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert state["ver"] == 2  # one merge per file-batch
    final = {
        r.k: r.bal for r in spark.read.parquet(state["path"]).collect()
    }
    assert final == {1: 112, 2: 150, 3: 300, 9: 900}

    # Streaming == batch parity: merging micro-batch by micro-batch must
    # land exactly where ONE batch merge of the union of changesets lands
    # (sum-of-deltas is associative across batches).
    all_chg = (
        spark.read.schema("k long, delta long")
        .option("recursiveFileLookup", "true")
        .json(str(chg_dir))
        .groupBy("k")
        .agg(F.sum("delta").alias("delta"))
    )
    batch_merged = (
        spark.read.parquet(base_dir)
        .join(all_chg, "k", "full_outer")
        .select(
            "k",
            (F.coalesce("bal", F.lit(0)) + F.coalesce("delta", F.lit(0))).alias("bal"),
        )
    )
    assert final == {r.k: r.bal for r in batch_merged.collect()}


def test_streaming_curation_pipeline(spark, sf_dir, tmp_path):
    """End-to-end streaming curation: documents arrive as a file stream
    (one parquet batch), pass the same declarative quality gates as the
    batch `curation_pipeline` query (language, length, token count), get
    exact-dedup'd inside the micro-batch in foreachBatch, and land in a
    parquet sink — the streaming ingest shape of the training-data funnel.
    The survivor set must equal the batch computation of the same gates
    (streaming vs batch parity, Spark's core semantics promise)."""
    import pyspark.sql.functions as SF

    src_dir = tmp_path / "in"
    src_dir.mkdir()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.coalesce(1).write.mode("overwrite").parquet(str(src_dir))
    out_dir = str(tmp_path / "out")

    def gates(df):
        toks = SF.split(SF.trim(SF.regexp_replace(SF.lower(SF.col("text")), r"\s+", " ")), " ")
        return df.filter(
            (SF.col("lang") == "en")
            & SF.col("n_chars").between(100, 10000)
            & (SF.size(toks) >= 10)
        )

    def apply_batch(batch_df, batch_id):
        from pyspark.sql.window import Window

        from flow_spark.operators.dedup import normalize_text

        kept = gates(batch_df)
        deduped = (
            kept.withColumn("__k", normalize_text(SF.col("text")))
            .withColumn(
                "__rn",
                SF.row_number().over(Window.partitionBy("__k").orderBy("doc_id")),
            )
            .filter(SF.col("__rn") == 1)
            .drop("__k", "__rn")
        )
        deduped.write.mode("append").parquet(out_dir)

    stream = spark.readStream.schema(docs.schema).parquet(str(src_dir))
    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {r.doc_id for r in spark.read.parquet(out_dir).collect()}
    from flow_spark.operators.dedup import normalize_text

    batch_kept = gates(docs)
    from pyspark.sql.window import Window

    expected = {
        r.doc_id
        for r in batch_kept.withColumn("__k", normalize_text(F.col("text")))
        .withColumn(
            "__rn", F.row_number().over(Window.partitionBy("__k").orderBy("doc_id"))
        )
        .filter(F.col("__rn") == 1)
        .collect()
    }
    assert got == expected and len(got) > 0


def test_streaming_asof_enrichment(spark, tmp_path):
    """Streaming point-in-time enrichment: each micro-batch of fact events
    is as-of joined (backward) against a static rate-table history via the
    batch operator inside foreachBatch — the lookup that attaches 'the
    price in effect at event time' on a live stream.  Micro-batched
    output must equal the single batch as-of join of all events (as-of is
    per-row, so batching boundaries cannot change matches)."""
    from flow_spark.operators.asof import asof_join

    rates = spark.createDataFrame(
        [(1, 10, 100), (1, 20, 120), (2, 10, 50)],
        "k long, ts long, rate long",
    )

    ev_dir = tmp_path / "facts"
    ev_dir.mkdir()
    spark.createDataFrame(
        [(1, 15, 1000), (2, 9, 2000)], "k long, ts long, amount long"
    ).coalesce(1).write.json(str(ev_dir / "b0"))
    spark.createDataFrame(
        [(1, 25, 3000), (2, 11, 4000)], "k long, ts long, amount long"
    ).coalesce(1).write.json(str(ev_dir / "b1"))

    stream = (
        spark.readStream.schema("k long, ts long, amount long")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .json(str(ev_dir))
    )

    out: list = []

    def enrich(batch, epoch_id: int) -> None:
        rows = asof_join(
            batch, rates, ts_col="ts", by="k", value_cols=["rate"]
        ).collect()
        out.extend((r.k, r.ts, r.amount, r.asof_rate) for r in rows)

    q = (
        stream.writeStream.foreachBatch(enrich)
        .option("checkpointLocation", str(tmp_path / "ckpt_asof"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    batch_all = (
        spark.read.schema("k long, ts long, amount long")
        .option("recursiveFileLookup", "true")
        .json(str(ev_dir))
    )
    expected = sorted(
        (r.k, r.ts, r.amount, r.asof_rate)
        for r in asof_join(
            batch_all, rates, ts_col="ts", by="k", value_cols=["rate"]
        ).collect()
    )
    assert sorted(out) == expected
    # spot values: 15 -> rate@10; 9 -> no rate yet; 25 -> rate@20; 11 -> rate@10
    assert dict(((k, t), rr) for k, t, _a, rr in out) == {
        (1, 15): 100, (2, 9): None, (1, 25): 120, (2, 11): 50
    }


def test_stream_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: true streaming dedup with BOUNDED
    state — duplicate event_ids arriving within the watermark horizon are
    suppressed, and state for ids older than the watermark is evicted
    (the property plain dropDuplicates lacks: its state grows forever on
    an unbounded stream).  Duplicates land in a second micro-batch to
    prove dedup works across batches, not just within one."""
    import pyspark.sql.functions as SF

    src_dir = tmp_path / "in"
    src_dir.mkdir()
    rows1 = [(i, f"2024-01-01 10:{i % 60:02d}:00", f"m{i}") for i in range(20)]
    # batch 2: re-deliveries of 0..9 (same ids, same ts) + fresh 20..24
    rows2 = [(i, f"2024-01-01 10:{i % 60:02d}:00", f"dup{i}") for i in range(10)]
    rows2 += [(i, f"2024-01-01 10:{i % 60:02d}:00", f"m{i}") for i in range(20, 25)]
    schema = "event_id long, ts_s string, payload string"
    for n, rows in [("00", rows1), ("01", rows2)]:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"stage{n}"))
    import shutil

    for n in ["00", "01"]:
        part = next((tmp_path / f"stage{n}").glob("part-*.parquet"))
        shutil.copy(part, src_dir / f"{n}.parquet")

    out_dir = str(tmp_path / "out")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir))
        .withColumn("ts", SF.to_timestamp("ts_s"))
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.read.parquet(out_dir).collect()
    ids = sorted(r.event_id for r in got)
    assert ids == sorted(range(25)), ids  # each id exactly once
    # the re-delivered ids kept their FIRST payload (m*, not dup*)
    by_id = {r.event_id: r.payload for r in got}
    assert all(by_id[i] == f"m{i}" for i in range(10))


def test_stream_stream_left_outer_join(spark, tmp_path):
    """LEFT OUTER stream-stream join: matched rows emit immediately, but
    the null-extended rows for unmatched clicks may only emit once the
    watermark has passed their join window (state can be declared
    complete) — the semantics that make outer stream joins correct
    without unbounded state.  A far-future sentinel row advances the
    watermark so the early unmatched rows must flush."""
    from datetime import datetime, timedelta

    t0 = datetime(2024, 1, 1)
    # users 0/1 match buys; user 9 never does
    clicks1 = [(i, i % 2, t0 + timedelta(minutes=2 * i)) for i in range(10)]
    clicks1 += [(90 + i, 9, t0 + timedelta(minutes=3 * i)) for i in range(3)]
    buys = [(100 + i, i % 2, t0 + timedelta(minutes=2 * i + 1)) for i in range(10)]
    sentinel = [(999, 8, t0 + timedelta(hours=2))]
    c_schema = "click_id long, user long, c_ts timestamp"
    b_schema = "buy_id long, user long, b_ts timestamp"
    (tmp_path / "c").mkdir()
    (tmp_path / "b").mkdir()
    spark.createDataFrame(clicks1, c_schema).write.mode("append").parquet(str(tmp_path / "c"))
    spark.createDataFrame(buys, b_schema).write.mode("append").parquet(str(tmp_path / "b"))

    def run_round():
        cs = (
            spark.readStream.schema(c_schema)
            .parquet(str(tmp_path / "c"))
            .withWatermark("c_ts", "10 minutes")
        )
        bs = (
            spark.readStream.schema(b_schema)
            .parquet(str(tmp_path / "b"))
            .withWatermark("b_ts", "10 minutes")
        )
        joined = cs.join(
            bs,
            (cs.user == bs.user)
            & (bs.b_ts >= cs.c_ts)
            & (bs.b_ts <= cs.c_ts + F.expr("INTERVAL 5 MINUTES")),
            "left_outer",
        ).select("click_id", "buy_id")
        q = (
            joined.writeStream.outputMode("append")
            .format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_round()  # round 1: only the early data; watermark still low
    # the sentinel arrives later: its batch advances the watermark past
    # every early join window, forcing the outer flush (outer results
    # emit only when state expires, never speculatively)
    from datetime import timedelta as _td

    for extra in range(3):
        # BOTH sides: the global watermark is min(clicks_wm, buys_wm), so
        # a quiet buys stream would pin it and block every outer flush
        spark.createDataFrame(
            [(999 + extra, 8, t0 + _td(hours=2 + extra))], c_schema
        ).write.mode("append").parquet(str(tmp_path / "c"))
        spark.createDataFrame(
            [(899 + extra, 7, t0 + _td(hours=2 + extra))], b_schema
        ).write.mode("append").parquet(str(tmp_path / "b"))
        run_round()
        got = spark.read.parquet(str(tmp_path / "out"))
        flushed = {
            r.click_id
            for r in got.filter(F.col("buy_id").isNull()).collect()
        }
        if {90, 91, 92}.issubset(flushed):
            break

    matched = got.filter(F.col("buy_id").isNotNull()).count()
    null_ext = {r.click_id for r in got.filter(F.col("buy_id").isNull()).collect()}
    # batch reference for the matched portion
    cb = spark.read.parquet(str(tmp_path / "c"))
    bb = spark.read.parquet(str(tmp_path / "b"))
    n_batch_matched = (
        cb.join(
            bb,
            (cb.user == bb.user)
            & (bb.b_ts >= cb.c_ts)
            & (bb.b_ts <= cb.c_ts + F.expr("INTERVAL 5 MINUTES")),
        ).count()
    )
    assert matched == n_batch_matched > 0
    # every user-9 click is watermark-expired and must be null-extended
    assert {90, 91, 92}.issubset(null_ext)
    # the newest sentinel's window never passes the final watermark
    assert max(null_ext) < 990


def test_statestore_reader_introspects_agg_state(spark, tmp_path):
    """Spark 4 state data source: the streaming aggregation's state can be
    read back from the checkpoint as a DataFrame — the ops/debugging
    window into stateful queries (inspect hot keys, audit watermark
    eviction) with no custom tooling.  The state contents must equal the
    batch aggregation of the same input."""
    import pyspark.sql.functions as SF

    rows = [(i % 7, f"2024-01-01 10:{i:02d}:00") for i in range(30)]
    src = spark.createDataFrame(rows, "k long, ts_s string")
    src.write.parquet(str(tmp_path / "in"))
    s = (
        spark.readStream.schema("k long, ts_s string")
        .parquet(str(tmp_path / "in"))
        .withColumn("ts", SF.to_timestamp("ts_s"))
        .withWatermark("ts", "10 minutes")
        .groupBy("k")
        .count()
    )
    q = (
        s.writeStream.outputMode("update")
        .format("memory")
        .queryName("ssr_agg_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)

    state = spark.read.format("statestore").load(str(tmp_path / "ckpt"))
    got = {
        r["key"]["k"]: r["value"]["count"]
        for r in state.collect()
    }
    want = {
        r.k: r["count"] for r in src.groupBy("k").count().collect()
    }
    assert got == want and len(got) == 7


def test_streaming_incremental_rollup_maintenance(spark, sf_dir, tmp_path):
    """Continuous-aggregate maintenance: each micro-batch appends its
    PARTIAL aggregates (count + exact cents sum per (event_type, day))
    and the serving view folds partials on read — the
    hypertable/materialized-view maintenance pattern where batch cost is
    O(batch) and reads are O(partials), never a recompute over history.
    The folded view must equal the batch aggregate of all events, and
    partial-merge associativity is what makes that exact (long sums)."""
    import shutil

    import pyspark.sql.functions as SF

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    half1 = ev.filter(SF.col("event_id") % 2 == 0)
    half2 = ev.filter(SF.col("event_id") % 2 == 1)
    src_dir = tmp_path / "in"
    src_dir.mkdir()
    for i, h in enumerate([half1, half2]):
        h.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / f"b{i}"))
        part = next((tmp_path / f"b{i}").glob("part-*.parquet"))
        shutil.copy(part, src_dir / f"{i:05d}.parquet")

    partials_dir = str(tmp_path / "partials")

    def maintain(batch_df, batch_id):
        (
            batch_df.groupBy(
                "event_type", SF.date_trunc("day", "ts").alias("day")
            )
            .agg(
                SF.count(SF.lit(1)).alias("p_n"),
                SF.sum(
                    SF.round(SF.col("value") * 100, 0).cast("long")
                ).alias("p_cents"),
            )
            .withColumn("batch_id", SF.lit(batch_id))
            .write.mode("append")
            .parquet(partials_dir)
        )

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir))
    )
    q = (
        stream.writeStream.foreachBatch(maintain)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    partials = spark.read.parquet(partials_dir)
    assert partials.select("batch_id").distinct().count() == 2
    served = partials.groupBy("event_type", "day").agg(
        SF.sum("p_n").alias("n"), SF.sum("p_cents").alias("cents")
    )
    batch = ev.groupBy(
        "event_type", SF.date_trunc("day", "ts").alias("day")
    ).agg(
        SF.count(SF.lit(1)).alias("n"),
        SF.sum(SF.round(SF.col("value") * 100, 0).cast("long")).alias("cents"),
    )
    got = sorted(tuple(r) for r in served.collect())
    want = sorted(tuple(r) for r in batch.collect())
    assert got == want and len(got) > 0


@pytest.mark.parametrize("n_buckets", [1, 32])
def test_stateful_session_event_time_timeout(spark, tmp_path, n_buckets):
    """Custom sessionization via applyInPandasWithState with
    EventTimeTimeout: in-batch gaps close sessions inline; cross-batch
    gaps close when the WATERMARK passes last_event + gap (the state
    expiry path state.hasTimedOut reaches and session_window hides).
    The schedule is engineered so every closure is deterministic:

      file A: u10 @10:00,10:02 | u20 @10:00,10:30 (in-batch gap) | u99 @10:00
      file B: u99 @11:00  -> batch starts at wm 10:25: u10 times out
      file C: u99 @11:30  -> wm 10:55: u20's open session times out
      file D: u99 @12:00  -> u99 sessions split inline as data arrives

    Expected closed sessions: u20@10:00 (inline), u10@10:00 (timer),
    u20@10:30 (timer), u99@10:00/11:00/11:30 (inline); u99@12:00 stays
    open (no later watermark) and must NOT be emitted."""
    from datetime import datetime

    from flow_spark.streaming.stateful import sessionize_stream

    src = tmp_path / "sess_src"
    src.mkdir()
    schema = "skey long, ts timestamp, v long"

    def write_file(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(
            str(src / name)
        )

    t = lambda h, m: datetime(2024, 1, 1, h, m)  # noqa: E731
    write_file("a", [(10, t(10, 0), 1), (10, t(10, 2), 2),
                     (20, t(10, 0), 5), (20, t(10, 30), 7),
                     (99, t(10, 0), 1)])
    write_file("b", [(99, t(11, 0), 1)])
    write_file("c", [(99, t(11, 30), 1)])
    write_file("d", [(99, t(12, 0), 1)])

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
        .withWatermark("ts", "5 minutes")
    )
    sessions = sessionize_stream(
        stream,
        gap_minutes=10,
        key_col="skey",
        ts_col="ts",
        val_col="v",
        n_buckets=n_buckets,
    )
    sink = f"sess_out_b{n_buckets}"
    q = (
        sessions.writeStream.outputMode("append")
        .format("memory")
        .queryName(sink)
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r.skey, r.start_us, r.end_us, r.n, r.total)
        for r in spark.sql(f"SELECT * FROM {sink}").collect()
    }
    us = lambda h, m: int(datetime(2024, 1, 1, h, m).timestamp() * 1_000_000)  # noqa: E731
    expected = {
        (10, us(10, 0), us(10, 2), 2, 3),
        (20, us(10, 0), us(10, 0), 1, 5),
        (20, us(10, 30), us(10, 30), 1, 7),
        (99, us(10, 0), us(10, 0), 1, 1),
        (99, us(11, 0), us(11, 0), 1, 1),
        (99, us(11, 30), us(11, 30), 1, 1),
    }
    assert got == expected


@pytest.mark.parametrize("n_buckets", [1, 32])
def test_gcra_tat_persists_across_micro_batches(spark, tmp_path, n_buckets):
    """Cross-batch GCRA: the TAT stored in the state store must carry into
    the next micro-batch (pins the GroupState.get-is-a-property fix — a
    single-batch run never reads existing state, so only a multi-batch
    schedule exercises it).  Two files -> two batches, same key, all ten
    messages inside one burst window: batch 1 admits the burst, batch 2's
    five messages 100ms later must be throttled BECAUSE the TAT survived;
    a fresh (lost-state) GCRA would re-admit.  n_buckets=1 also puts a
    second key's rows into the same bucket: its own TAT must not leak."""
    from flow_spark.streaming.stateful import throttle_stream

    src = tmp_path / "gcra_src"
    src.mkdir()

    def write_file(name, t0_ms, n, base_id, user="u"):
        rows = [
            (base_id + i, user, "2024-01-01 00:00:00.%03d" % (t0_ms + i))
            for i in range(n)
        ]
        spark.createDataFrame(
            rows, "event_id long, user string, ts string"
        ).selectExpr(
            "event_id",
            "CAST(ts AS TIMESTAMP) AS ingest_ts",
            "CAST('x' AS BINARY) AS body",
            "'x' AS body_str",
            "map('user', user) AS meta",
        ).coalesce(1).write.mode("append").parquet(str(src / name))

    write_file("a", 0, 5, 0)
    write_file("b", 100, 5, 100)
    write_file("b", 100, 2, 200, user="w")

    static_schema = spark.read.parquet(str(src / "a")).schema
    msgs = (
        spark.readStream.schema(static_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    out = throttle_stream(msgs, rps=2, key_col="user", n_buckets=n_buckets)
    sink = f"gcra_cross_b{n_buckets}"
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(sink)
        .option("checkpointLocation", str(tmp_path / "gcra_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    rows = spark.sql(
        f"SELECT event_id, throttle_status FROM {sink} ORDER BY event_id"
    ).collect()
    assert len(rows) == 12
    by_id = {r.event_id: r.throttle_status for r in rows}
    # batch 1 (t=0ms x5 at rps=2, burst 0.5s): first two admitted
    assert [by_id[i] for i in range(5)] == [
        "admitted", "admitted", "throttled", "throttled", "throttled"
    ]
    # batch 2 (t=100..104ms): TAT is already 1.0s ahead -> ALL throttled
    assert all(by_id[100 + i] == "throttled" for i in range(5))
    # a fresh key in the same batch starts from its own (empty) TAT
    assert [by_id[200], by_id[201]] == ["admitted", "admitted"]


def test_foreachbatch_idempotent_replay(spark, tmp_path):
    """Exactly-once EFFECT from at-least-once foreachBatch: keying the
    write by batch_id with dynamic partition overwrite makes a replayed
    batch overwrite its own partition instead of appending duplicates —
    the sink-side idempotence contract Spark's docs prescribe for
    foreachBatch (which may re-run a batch after failure).  Replaying
    batch 0 by hand leaves the output byte-identical."""
    import pyspark.sql.functions as SF

    src = tmp_path / "idem_src"
    src.mkdir()
    out = tmp_path / "idem_out"
    schema = "k long, v long"

    def write_file(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(
            str(src / name)
        )

    write_file("a", [(1, 10), (2, 20)])
    write_file("b", [(3, 30)])

    def apply_batch(bdf, bid):
        (
            bdf.withColumn("batch_id", SF.lit(bid).cast("long"))
            .coalesce(1)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(str(out))
        )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", str(tmp_path / "idem_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    def snapshot():
        return sorted(
            (r.k, r.v, r.batch_id)
            for r in spark.read.parquet(str(out)).collect()
        )

    before = snapshot()
    assert len(before) == 3  # two batches landed once each

    # simulate the at-least-once replay: re-apply batch 0's exact data
    batch0 = spark.createDataFrame([(1, 10), (2, 20)], schema)
    apply_batch(batch0, 0)
    assert snapshot() == before


def test_rocksdb_state_store_provider(spark, tmp_path):
    """RocksDB state store: the scale-grade state backend (state lives
    off-heap/on-disk per executor instead of in JVM memory — at 100 TB a
    keyed state that outgrows the heap is the norm, and RocksDB with
    changelog checkpointing is the prescribed provider).  Prove a
    cross-batch stateful agg is correct under it and that the checkpoint
    is really RocksDB (zip snapshot layout, not the HDFS provider's
    .delta files)."""
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        src = tmp_path / "rocks_src"
        src.mkdir()
        schema = "k long, v string"

        def write_file(name, rows):
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(str(src / name))

        write_file("a", [(1, "a"), (2, "b")])
        write_file("b", [(3, "a"), (4, "c")])

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*"))
        )
        q = (
            stream.groupBy("v")
            .count()
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName("rocks_agg")
            .option("checkpointLocation", str(tmp_path / "rocks_ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        got = {r.v: r["count"] for r in spark.sql("SELECT * FROM rocks_agg").collect()}
        assert got == {"a": 2, "b": 1, "c": 1}

        state_files = [
            p.name for p in (tmp_path / "rocks_ckpt" / "state" / "0" / "0").iterdir()
        ]
        assert any(n.endswith(".zip") for n in state_files), state_files
        assert not any(n.endswith(".delta") for n in state_files), state_files
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_streaming_query_listener_observes_progress(spark, tmp_path):
    """StreamingQueryListener: the engine-level observability hook (the
    admin /expvar analog for streams) — progress events must report the
    exact input row counts per micro-batch."""
    from pyspark.sql.streaming import StreamingQueryListener

    events = {"rows": [], "names": []}

    class Capture(StreamingQueryListener):
        def onQueryStarted(self, e):
            events["names"].append(e.name)

        def onQueryProgress(self, e):
            events["rows"].append(e.progress.numInputRows)

        def onQueryIdle(self, e):
            pass

        def onQueryTerminated(self, e):
            pass

    listener = Capture()
    spark.streams.addListener(listener)
    try:
        src = tmp_path / "lst_src"
        src.mkdir()
        schema = "k long"
        spark.createDataFrame([(i,) for i in range(7)], schema).coalesce(
            1
        ).write.mode("append").parquet(str(src / "a"))
        spark.createDataFrame([(i,) for i in range(5)], schema).coalesce(
            1
        ).write.mode("append").parquet(str(src / "b"))

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*"))
        )
        q = (
            stream.writeStream.format("memory")
            .queryName("lst_out")
            .option("checkpointLocation", str(tmp_path / "lst_ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        # listener delivery is async; progress events land shortly after
        import time

        for _ in range(50):
            if sum(events["rows"]) >= 12:
                break
            time.sleep(0.2)
        assert sum(events["rows"]) == 12
        assert sorted(events["rows"], reverse=True)[:2] == [7, 5]
        assert "lst_out" in events["names"]
    finally:
        spark.streams.removeListener(listener)


def test_gcra_correct_when_group_spans_arrow_chunks(spark, tmp_path):
    """A group larger than arrow.maxRecordsPerBatch arrives at the
    stateful function as SEVERAL chunks in shuffle order.  GCRA is
    order-sensitive, so the operator must buffer and sort the whole
    group before admitting — per-chunk sorting would admit by
    chunk-local order.  Input is written shuffled; expected admissions
    come from the pure-function GCRA over the globally-sorted sequence."""
    import datetime
    import random

    from flow_spark.streaming.stateful import gcra_admit, throttle_stream

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "37")
    try:
        rows = [
            (i, "u", "2024-01-01 00:00:00.%03d" % i) for i in range(200)
        ]
        random.seed(123)
        random.shuffle(rows)
        src = tmp_path / "chunky_src"
        spark.createDataFrame(
            rows, "event_id long, user string, ts string"
        ).selectExpr(
            "event_id",
            "CAST(ts AS TIMESTAMP) AS ingest_ts",
            "CAST('x' AS BINARY) AS body",
            "'x' AS body_str",
            "map('user', user) AS meta",
        ).coalesce(1).write.parquet(str(src))

        msgs = spark.readStream.schema(
            spark.read.parquet(str(src)).schema
        ).parquet(str(src))
        q = (
            throttle_stream(msgs, rps=2, key_col="user")
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("chunky_out")
            .option("checkpointLocation", str(tmp_path / "chunky_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

        got = {
            r.event_id: r.throttle_status
            for r in spark.table("chunky_out").collect()
        }
        ordered = sorted(rows, key=lambda r: (r[2], r[0]))
        ts_ns = [
            int(
                datetime.datetime.fromisoformat(r[2] + "+00:00").timestamp() * 1e9
            )
            for r in ordered
        ]
        admits, _ = gcra_admit(ts_ns, 0, 2)
        want = {
            r[0]: ("admitted" if a else "throttled")
            for r, a in zip(ordered, admits)
        }
        assert got == want
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)


@pytest.mark.parametrize("n_buckets", [1, 32])
def test_funnel_cep_multibatch_equals_singlebatch(spark, tmp_path, n_buckets):
    """funnel_stream: partial pattern progress must survive micro-batch
    boundaries — a view in batch 1, click in batch 2 and purchase in
    batch 3 form ONE funnel, identical to the single-batch drain.
    Parametrized over the state-bucketing width (r08): n_buckets=1
    forces BOTH users into one shared bucket (per-key isolation inside
    a multi-key bucket), n_buckets=32 gives each key its own bucket."""
    import json as _json

    from flow_spark.streaming.stateful import funnel_stream

    rows = [
        # user 1: view | click | purchase split across 3 files
        (1, 1_000_000, "view", 1),
        (2, 1_500_000, "view", 2),
        (1, 2_000_000, "click", 3),
        (2, 2_500_000, "purchase", 4),   # no click yet -> ignored
        (1, 3_000_000, "purchase", 5),   # completes funnel
        (2, 3_500_000, "click", 6),
        (2, 4_000_000, "purchase", 7),   # completes funnel
        (1, 5_000_000, "purchase", 8),   # state was reset -> ignored
    ]

    def run(n_files: int, tag: str):
        src = tmp_path / f"src_{tag}"
        src.mkdir()
        per = (len(rows) + n_files - 1) // n_files
        for i in range(n_files):
            with open(src / f"b{i}.jsonl", "w") as fh:
                for u, us, et, eid in rows[i * per : (i + 1) * per]:
                    fh.write(
                        _json.dumps(
                            {"user": u, "ts_us": us, "etype": et, "eid": eid}
                        )
                        + "\n"
                    )
            # distinct mtimes pin the file-source batch order (the file
            # source orders by modification time; equal stamps are
            # nondeterministic and would deliver events out of order)
            import time as _time

            _time.sleep(0.02)
        stream = (
            spark.readStream.schema("user long, ts_us long, etype string, eid long")
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
            .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
        )
        out = funnel_stream(
            stream,
            key_col="user",
            ts_col="ts",
            type_col="etype",
            id_col="eid",
            n_buckets=n_buckets,
        )
        name = f"funnel_{tag}_b{n_buckets}"
        q = (
            out.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", str(tmp_path / f"ckpt_{tag}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return sorted(tuple(r) for r in spark.table(name).collect())

    multi = run(4, "multi")
    single = run(1, "single")
    expected = [
        (1, 1_000_000, 2_000_000, 3_000_000, 5),
        (2, 1_500_000, 3_500_000, 4_000_000, 7),
    ]
    assert multi == single == expected


def test_heavy_hitters_stream_multibatch_guarantee(spark, tmp_path):
    """heavy_hitters_stream: the Misra-Gries guarantee must hold under a
    multi-batch split with a DELIBERATELY tiny capacity (4): every item
    with shard count > N_shard/(cap+1) survives to the final summary,
    every final estimate under-counts by at most N_shard/(cap+1), and
    state stays bounded (<= cap items per shard emission)."""
    import json as _json
    import time as _time

    from flow_spark.functions.hashing import portable_hash64
    from flow_spark.streaming.stateful import heavy_hitters_stream

    # skewed vocabulary: 'hot' dominates, mids are borderline, tail is noise
    items = (
        ["hot"] * 60
        + ["warm"] * 20
        + ["mild"] * 10
        + [f"tail{i}" for i in range(40)]
    )
    # deterministic interleave so each batch sees a mix
    items = [items[(j * 17) % len(items)] for j in range(len(items))]
    src = tmp_path / "mg_src"
    src.mkdir()
    per = (len(items) + 2) // 3
    for i in range(3):
        with open(src / f"b{i}.jsonl", "w") as fh:
            for it in items[i * per : (i + 1) * per]:
                fh.write(_json.dumps({"item": it}) + "\n")
        _time.sleep(0.02)

    stream = (
        spark.readStream.schema("item string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    out = heavy_hitters_stream(stream, "item", n_shards=2, capacity=4)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("mg_multibatch")
        .option("checkpointLocation", str(tmp_path / "mg_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.table("mg_multibatch").collect()
    assert rows, "no summary emissions"

    # shard routing replay (the operator's own hash, evaluated via Spark)
    shard_df = spark.createDataFrame(
        [(it,) for it in sorted(set(items))], "item string"
    ).select(
        "item",
        F.pmod(portable_hash64(F.col("item"), salt="mgshard"), F.lit(2))
        .cast("long")
        .alias("shard"),
    )
    shard_of = {r["item"]: r["shard"] for r in shard_df.collect()}

    from collections import Counter, defaultdict

    true_shard_counts: dict[int, Counter] = defaultdict(Counter)
    for it in items:
        true_shard_counts[shard_of[it]][it] += 1

    final: dict[int, dict[str, int]] = defaultdict(dict)
    max_seq: dict[int, int] = defaultdict(int)
    per_emission: dict[tuple[int, int], int] = defaultdict(int)
    for r in rows:
        per_emission[(r["shard"], r["seq"])] += 1
        if r["seq"] > max_seq[r["shard"]]:
            max_seq[r["shard"]] = r["seq"]
    for r in rows:
        if r["seq"] == max_seq[r["shard"]]:
            final[r["shard"]][r["item"]] = r["mg_count"]

    # state boundedness: every emitted summary has <= capacity items
    assert all(n <= 4 for n in per_emission.values()), per_emission
    for shard, counts in true_shard_counts.items():
        n_shard = sum(counts.values())
        bound = n_shard // 5  # N_shard/(cap+1)
        for item, true_c in counts.items():
            est = final[shard].get(item, 0)
            assert est <= true_c, (item, est, true_c)
            if true_c > bound:
                assert item in final[shard], (item, true_c, bound, final[shard])
            if item in final[shard]:
                assert true_c - est <= bound, (item, est, true_c, bound)


def test_session_window_dynamic_gap_streaming(spark, tmp_path):
    """Dynamic-gap session_window under readStream: a 'purchase' closes
    its session after 2 minutes while other events hold it open for 10,
    so the same timeline splits differently depending on event types —
    and the availableNow drain must agree with the batch evaluation."""
    from datetime import datetime, timedelta

    t0 = datetime(2024, 1, 1)
    rows = (
        # purchase at t0 (2-min gap), next event at +5 min -> NEW session
        [(1, t0, "purchase"), (1, t0 + timedelta(minutes=5), "view")]
        # view at t0 (10-min gap), next at +5 min -> SAME session
        + [(2, t0, "view"), (2, t0 + timedelta(minutes=5), "view")]
    )
    (tmp_path / "s").mkdir()
    schema = "user long, ts timestamp, et string"
    spark.createDataFrame(rows, schema).write.mode("append").parquet(
        str(tmp_path / "s")
    )
    gap = F.when(F.col("et") == "purchase", F.lit("2 minutes")).otherwise(
        F.lit("10 minutes")
    )

    def sessions(df):
        return df.groupBy(
            "user", F.session_window("ts", gap).alias("w")
        ).agg(F.count("*").alias("n"))

    stream = spark.readStream.schema(schema).parquet(str(tmp_path / "s"))
    q = (
        sessions(stream.withWatermark("ts", "1 hour"))
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("dyn_sess_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted((r.user, r.n) for r in spark.table("dyn_sess_out").collect())
    assert got == [(1, 1), (1, 1), (2, 2)]
    batch = sorted(
        (r.user, r.n)
        for r in sessions(spark.read.parquet(str(tmp_path / "s"))).collect()
    )
    assert batch == got


def test_streaming_psi_drift_monitor(spark, tmp_path):
    """Streaming distribution-drift monitor: micro-batches fold their
    value-bin histograms into cumulative monitor state (the bounded
    per-bin counts a production monitor keeps in its state store), and
    every batch re-scores PSI against a static reference window using
    the SAME exact bit-space formula as the dq_psi_drift query —
    integer-only, so the streamed scores are bit-reproducible.  A
    shifted third batch must raise the score, and the final cumulative
    PSI must equal the one-shot batch computation over all streamed
    rows (streaming/batch parity)."""

    def bin_of(v: int) -> int:
        return min(v // 10, 9)

    def psi_ppm_bits(ref: dict, cur: dict) -> int:
        t_ref = sum(ref.values())
        t_cur = sum(cur.values())
        total = 0
        for b in range(10):
            p = (ref.get(b, 0) + 1) * 1_000_000 // (t_ref + 10)
            q = (cur.get(b, 0) + 1) * 1_000_000 // (t_cur + 10)
            total += (p - q) * (p.bit_length() - q.bit_length())
        return total

    # reference window: uniform-ish over bins 0..4
    ref_counts = {b: 100 for b in range(5)}

    ev_dir = tmp_path / "vals"
    ev_dir.mkdir()
    batches = [
        [b * 10 + 1 for b in range(5) for _ in range(20)],  # like ref
        [b * 10 + 2 for b in range(5) for _ in range(20)],  # like ref
        [95] * 100,  # hard shift into bin 9
    ]
    for i, vals in enumerate(batches):
        spark.createDataFrame(
            [(v,) for v in vals], "v long"
        ).coalesce(1).write.json(str(ev_dir / f"b{i}"))

    stream = (
        spark.readStream.schema("v long")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .json(str(ev_dir))
    )

    state: dict = {}
    scores: list = []

    def monitor(batch, epoch_id: int) -> None:
        import pyspark.sql.functions as SF

        counts = (
            batch.groupBy(
                SF.least(SF.col("v") / SF.lit(10), SF.lit(9))
                .cast("long")
                .alias("b")
            )
            .count()
            .collect()
        )
        for r in counts:
            state[int(r["b"])] = state.get(int(r["b"]), 0) + int(r["count"])
        scores.append(psi_ppm_bits(ref_counts, state))

    q = (
        stream.writeStream.foreachBatch(monitor)
        .option("checkpointLocation", str(tmp_path / "ckpt_psi"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    assert len(scores) == 3
    # batches arrive in mtime order: the monitor is calm while the
    # stream matches the reference, and alarms on the shifted batch
    assert scores[-1] > max(scores[0], scores[1])
    # streaming/batch parity: cumulative state == one-shot computation
    all_vals = [v for vals in batches for v in vals]
    batch_counts: dict = {}
    for v in all_vals:
        batch_counts[bin_of(v)] = batch_counts.get(bin_of(v), 0) + 1
    assert state == batch_counts
    assert scores[-1] == psi_ppm_bits(ref_counts, batch_counts)


@pytest.mark.parametrize("n_buckets", [1, 32])
def test_twa_stream_multibatch_equals_singlebatch(spark, tmp_path, n_buckets):
    """twa_stream: the (last_us, last_v) edge must carry across
    micro-batch boundaries — splitting the same events into 3 files
    yields the same FINAL running totals as one file, and both equal the
    hand-computed step-function TWA.  Parametrized over the
    state-bucketing width (r08): n_buckets=1 forces both users into one
    shared bucket, n_buckets=32 gives each key its own bucket."""
    import json as _json
    import time as _time

    from flow_spark.streaming.stateful import twa_stream

    rows = [  # (user, ts_us, cents, eid)
        (1, 1_000_000, 100, 1),
        (1, 3_000_000, 200, 2),   # holds 100 for 2s
        (2, 2_000_000, 50, 3),
        (1, 7_000_000, 500, 4),   # holds 200 for 4s
        (2, 5_000_000, 150, 5),   # holds 50 for 3s
        (1, 8_000_000, 0, 6),     # holds 500 for 1s
    ]
    # user 1: num = 100*2e6 + 200*4e6 + 500*1e6 = 1_500_000_000, held 7e6
    # user 2: num = 50*3e6 = 150_000_000, held 3e6
    expected = [
        (1, 4, 7_000_000, 1_500_000_000, 214),
        (2, 2, 3_000_000, 150_000_000, 50),
    ]

    def run(n_files: int, tag: str):
        src = tmp_path / f"src_{tag}"
        src.mkdir()
        per = (len(rows) + n_files - 1) // n_files
        for i in range(n_files):
            with open(src / f"b{i}.jsonl", "w") as fh:
                for u, us, vc, eid in rows[i * per : (i + 1) * per]:
                    fh.write(
                        _json.dumps(
                            {"user": u, "ts_us": us, "vc": vc, "eid": eid}
                        )
                        + "\n"
                    )
            _time.sleep(0.02)  # distinct mtimes pin file-source batch order
        stream = (
            spark.readStream.schema("user long, ts_us long, vc long, eid long")
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
            .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
        )
        out = twa_stream(
            stream,
            key_col="user",
            ts_col="ts",
            val_col="vc",
            order_col="eid",
            n_buckets=n_buckets,
        )
        name = f"twa_{tag}_b{n_buckets}"
        q = (
            out.writeStream.outputMode("update")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", str(tmp_path / f"ckpt_{tag}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        # update mode emits one row per key per touching batch; the final
        # state of a key is its row with the highest n_events
        rows_out = spark.table(name).collect()
        final: dict = {}
        for r in rows_out:
            if r.tkey not in final or r.n_events > final[r.tkey].n_events:
                final[r.tkey] = r
        return sorted(
            (r.tkey, r.n_events, r.held_us, r.acc_num, r.twa_cents)
            for r in final.values()
        )

    multi = run(3, "multi")
    single = run(1, "single")
    assert multi == single == expected


def test_quantile_monitor_multibatch(spark, tmp_path):
    """quantile_monitor_stream: the histogram state must merge across
    micro-batches — splitting the same rows into 3 files yields the same
    FINAL (n, p50, p90) as one file, equal to the hand-computed order
    statistics (p50: smallest v with 2*cum >= n; p90: 10*cum >= 9*n)."""
    import json as _json
    import time as _time

    from flow_spark.streaming.stateful import quantile_monitor_stream

    rows = [("a", v) for v in (10, 20, 20, 30, 100, 100, 40, 50, 60)] + [
        ("b", v) for v in (5, 5, 7)
    ]
    # a: sorted 10,20,20,30,40,50,60,100,100 (n=9): p50 needs cum >= 4.5
    #    -> 5th value = 40; p90 needs cum >= 8.1 -> 9th value = 100
    # b: sorted 5,5,7 (n=3): p50 cum >= 1.5 -> 5; p90 cum >= 2.7 -> 7
    expected = [("a", 9, 40, 100), ("b", 3, 5, 7)]

    def run(n_files: int, tag: str):
        src = tmp_path / f"qm_{tag}"
        src.mkdir()
        per = (len(rows) + n_files - 1) // n_files
        for i in range(n_files):
            with open(src / f"b{i}.jsonl", "w") as fh:
                for k, v in rows[i * per : (i + 1) * per]:
                    fh.write(_json.dumps({"k": k, "v": v}) + "\n")
            _time.sleep(0.02)
        stream = (
            spark.readStream.schema("k string, v long")
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        out = quantile_monitor_stream(stream, key_col="k", val_col="v")
        name = f"qm_{tag}"
        q = (
            out.writeStream.outputMode("update")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", str(tmp_path / f"qm_ckpt_{tag}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        final: dict = {}
        for r in spark.table(name).collect():
            if r.qkey not in final or r.n_obs > final[r.qkey].n_obs:
                final[r.qkey] = r
        return sorted(
            (r.qkey, r.n_obs, r.p50, r.p90) for r in final.values()
        )

    assert run(3, "multi") == run(1, "single") == expected


def test_quantile_monitor_survives_query_restart(spark, tmp_path):
    """Checkpoint recovery across SEPARATE query runs: drain batch 1
    with one availableNow query, STOP it, add more data, start a brand
    new query object on the SAME checkpoint — the histogram state must
    come back from the state store (not from memory), so the final
    quantiles equal a single-run drain over all data."""
    import json as _json
    import time as _time

    from flow_spark.streaming.stateful import quantile_monitor_stream

    src = tmp_path / "qm_restart"
    src.mkdir()
    ckpt = str(tmp_path / "qm_restart_ckpt")

    def write_file(i, vals):
        with open(src / f"b{i}.jsonl", "w") as fh:
            for v in vals:
                fh.write(_json.dumps({"k": "a", "v": v}) + "\n")
        _time.sleep(0.02)

    spool = str(tmp_path / "qm_restart_out")

    def drain(name):
        # memory sink refuses checkpoint recovery; a foreachBatch parquet
        # spool is the restart-capable sink shape
        stream = (
            spark.readStream.schema("k string, v long")
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        out = quantile_monitor_stream(stream, key_col="k", val_col="v")
        q = (
            out.writeStream.outputMode("update")
            .foreachBatch(
                lambda bdf, bid: bdf.write.mode("append").parquet(spool)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = spark.read.parquet(spool).collect()
        return max(rows, key=lambda r: r.n_obs) if rows else None

    write_file(0, [10, 20, 30, 40])
    first = drain("qm_run1")
    assert (first.n_obs, first.p50, first.p90) == (4, 20, 40)

    # the first query is terminated; new data + a NEW query, same ckpt
    write_file(1, [50, 60, 70, 80, 90])
    second = drain("qm_run2")
    # n=9 over 10..90: p50 needs cum >= 4.5 -> 50; p90 cum >= 8.1 -> 90.
    # Only correct if the run-1 histogram was recovered from the store.
    assert (second.n_obs, second.p50, second.p90) == (9, 50, 90)


def test_streaming_upsert_end_to_end(spark, tmp_path):
    """upsert_sink: a CDC stream MERGEd into a snapshot table batch by
    batch (availableNow) must equal applying the same batches
    sequentially with snapshot_upsert, and a replayed batch id must be
    a no-op (batchId-keyed commit markers) — streaming CDC -> lakehouse
    MERGE, exactly-once under replay."""
    import json as _json
    import time as _time

    from flow_spark.operators.snapshots import (
        current_version,
        snapshot_read,
        snapshot_upsert,
        snapshot_write,
    )
    from flow_spark.streaming.sinks import upsert_sink

    initial = [(1, 100), (2, 200), (3, 300), (4, 400)]
    batches = [  # (k, v, ord): updates + inserts, k=2 updated twice
        [(2, 210, 1), (5, 500, 2)],
        [(2, 220, 3), (2, 215, 2), (1, 110, 4)],  # intra-batch dup key 2
        [(6, 600, 5)],
    ]
    expected = {1: 110, 2: 220, 3: 300, 4: 400, 5: 500, 6: 600}

    def seed(tag: str) -> str:
        t = str(tmp_path / f"tbl_{tag}")
        snapshot_write(
            spark.createDataFrame(initial, "k long, v long"), t, stats_col="k"
        )
        return t

    # --- reference: sequential batch MERGEs ---
    t_batch = seed("batch")
    for rows in batches:
        b = spark.createDataFrame(rows, "k long, v long, ord long")
        latest = (
            b.orderBy(F.desc("ord"))
            .dropDuplicates(["k"])
            .select("k", "v")
        )
        snapshot_upsert(spark, latest, t_batch, "k")

    # --- streaming: same batches through upsert_sink ---
    t_stream = seed("stream")
    src = tmp_path / "cdc_src"
    src.mkdir()
    for i, rows in enumerate(batches):
        with open(src / f"b{i}.jsonl", "w") as fh:
            for k, v, o in rows:
                fh.write(_json.dumps({"k": k, "v": v, "ord": o}) + "\n")
        _time.sleep(0.02)  # distinct mtimes pin file-source batch order
    stream = (
        spark.readStream.schema("k long, v long, ord long")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        upsert_sink(
            stream.select("k", "v", "ord"),
            t_stream,
            key_col="k",
            checkpoint_dir=str(tmp_path / "ckpt"),
            order_col="ord",
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got_stream = {
        r.k: r.v for r in snapshot_read(spark, t_stream).select("k", "v").collect()
    }
    got_batch = {
        r.k: r.v for r in snapshot_read(spark, t_batch).select("k", "v").collect()
    }
    assert got_stream == got_batch == expected

    # --- replay idempotence ---
    import os as _os

    v_before = current_version(t_stream)
    markers = sorted(_os.listdir(_os.path.join(t_stream, "_streaming_commits")))
    assert markers == ["b0.json", "b1.json", "b2.json"]
    # drain the SAME source with a FRESH checkpoint: identical batching
    # (availableNow + maxFilesPerTrigger=1 + mtime order) re-delivers
    # every batch id; the commit markers must swallow all of them (no
    # new version, content unchanged)
    q2 = (
        upsert_sink(
            stream.select("k", "v", "ord"),
            t_stream,
            key_col="k",
            checkpoint_dir=str(tmp_path / "ckpt3"),
            order_col="ord",
        )
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    assert current_version(t_stream) == v_before
    got_replayed = {
        r.k: r.v for r in snapshot_read(spark, t_stream).select("k", "v").collect()
    }
    assert got_replayed == expected


@pytest.mark.parametrize("n_buckets", [1, 32])
def test_twa_stream_late_row_keeps_edge(spark, tmp_path, n_buckets):
    """twa_stream: a row arriving in a LATER micro-batch with a ts older
    than the carried (last_us, last_v) edge is counted in n_events but
    must contribute zero duration AND leave the edge untouched — an
    unconditional last_v overwrite would weight every subsequent hold
    interval by the stale value.  Also covers pre-1970 (negative
    unix_micros) timestamps, which a `last_us >= 0` seen-sentinel would
    misclassify as unseen."""
    import json as _json
    import time as _time

    from flow_spark.streaming.stateful import twa_stream

    batches = [  # each inner list = one file = one micro-batch
        [(1, 10_000_000, 100, 1), (1, 12_000_000, 300, 2),
         (7, -5_000_000, 40, 10)],
        [(1, 11_000_000, 999, 3),          # LATE: older than edge 12e6
         (7, -3_000_000, 80, 11)],         # pre-1970 but in order
        [(1, 14_000_000, 400, 4)],         # holds 300 (not 999!) for 2s
    ]
    # user 1: held 2e6 + 2e6, acc 100*2e6 + 300*2e6 = 800e6, twa 200
    # user 7: held 2e6 (from -5s to -3s at 40), acc 80e6, twa 40
    expected = [
        (1, 4, 4_000_000, 800_000_000, 200),
        (7, 2, 2_000_000, 80_000_000, 40),
    ]

    src = tmp_path / "src_late"
    src.mkdir()
    for i, batch in enumerate(batches):
        with open(src / f"b{i}.jsonl", "w") as fh:
            for u, us, vc, eid in batch:
                fh.write(
                    _json.dumps({"user": u, "ts_us": us, "vc": vc, "eid": eid})
                    + "\n"
                )
        _time.sleep(0.02)  # distinct mtimes pin file-source batch order
    stream = (
        spark.readStream.schema("user long, ts_us long, vc long, eid long")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
        .withColumn("ts", F.timestamp_micros(F.col("ts_us")))
    )
    out = twa_stream(
        stream,
        key_col="user",
        ts_col="ts",
        val_col="vc",
        order_col="eid",
        n_buckets=n_buckets,
    )
    sink = f"twa_late_b{n_buckets}"
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt_late"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    final: dict = {}
    for r in spark.table(sink).collect():
        if r.tkey not in final or r.n_events > final[r.tkey].n_events:
            final[r.tkey] = r
    got = sorted(
        (r.tkey, r.n_events, r.held_us, r.acc_num, r.twa_cents)
        for r in final.values()
    )
    assert got == expected


@pytest.mark.parametrize("n_buckets", [1, 32])
def test_stream_stream_asof_join_semantics(spark, tmp_path, n_buckets):
    """asof_join_stream: both sides live streams.  Pins (a) a left
    matching a right that arrived in an EARLIER batch, (b) a left whose
    match arrives in a LATER batch than the left itself (the left must
    wait in state for the watermark, then match it via event-time
    timeout flush), (c) same-event-time right tie resolving to the
    greatest event id, (d) a key with no rights emitting NULL, and
    (e) the watermark tail: a left with event-time ms not strictly
    below (global max ms - delay) is NOT emitted.

    Parametrized over the state-bucketing width (r08): n_buckets=1
    forces BOTH keys into one shared state bucket (per-key isolation,
    tie rules, NULL emission and timeout sweeps must all hold inside a
    multi-key bucket), n_buckets=32 gives each key its own bucket."""
    import json as _json
    import time as _time

    from flow_spark.streaming.stateful import asof_join_stream

    def iso(sec: int) -> str:
        return f"1970-01-01 00:{sec // 60:02d}:{sec % 60:02d}"

    lsrc, rsrc = tmp_path / "l", tmp_path / "r"
    lsrc.mkdir(), rsrc.mkdir()
    lbatches = [
        [(1, 100, 1), (2, 105, 2)],
        [(1, 200, 3)],
        [(1, 300, 4)],  # == final watermark (310-10): must NOT emit
    ]
    rbatches = [
        [(1, 90, 100, 10), (1, 90, 101, 99)],  # same-ts tie: id 101 wins
        [(1, 150, 102, 20)],  # arrives AFTER left id 3's batch? no — before
        [(1, 310, 103, 30)],  # advances the final watermark to 300
    ]
    for i in range(3):
        with open(lsrc / f"b{i}.jsonl", "w") as fh:
            for k, sec, eid in lbatches[i]:
                fh.write(
                    _json.dumps(
                        {"user_id": k, "ts": iso(sec), "event_id": eid}
                    )
                    + "\n"
                )
        with open(rsrc / f"b{i}.jsonl", "w") as fh:
            for k, sec, eid, vc in rbatches[i]:
                fh.write(
                    _json.dumps(
                        {
                            "user_id": k,
                            "ts": iso(sec),
                            "event_id": eid,
                            "vc": vc,
                        }
                    )
                    + "\n"
                )
        _time.sleep(0.02)  # distinct mtimes pin batch order
    lstream = (
        spark.readStream.schema("user_id long, ts timestamp, event_id long")
        .option("maxFilesPerTrigger", 1)
        .json(str(lsrc))
    )
    rstream = (
        spark.readStream.schema(
            "user_id long, ts timestamp, event_id long, vc long"
        )
        .option("maxFilesPerTrigger", 1)
        .json(str(rsrc))
    )
    out = asof_join_stream(
        lstream,
        rstream,
        key_col="user_id",
        ts_col="ts",
        left_id_col="event_id",
        right_val_col="vc",
        right_id_col="event_id",
        delay="10 seconds",
        n_buckets=n_buckets,
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(f"ssaj_test_sink_b{n_buckets}")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.left_id: (r.akey, r.ts_us, r.asof_val)
        for r in spark.table(f"ssaj_test_sink_b{n_buckets}").collect()
    }
    assert got == {
        1: (1, 100_000_000, 99),  # tie at ts=90 -> greatest id's value
        2: (2, 105_000_000, None),  # key 2 has no rights
        3: (1, 200_000_000, 20),  # match from a later batch than... the
        # right (t=150, batch 1) lands before the left flushes (wm=300)
    }  # left id 4 (t=300) == final watermark: sealed only strictly below


def test_ssaj_fixture_avoids_timeout_arm_corner(spark):
    """ADVICE r6: asof_join_stream's one residual corner — a pending
    left whose event-time ms L satisfies final_watermark == L + 1 can
    miss its timeout on an idle key when it was armed while wm == L
    (the API floors the arm point at wm+1, which fires only when
    wm' > L+1).  The corner is batching-dependent, so the exact
    contract the DuckDB oracle replays holds only when NO left sits
    exactly 1 ms under the final watermark.  Assert that for every
    fixture SF the stream_stream_asof_join query feeds — if a fixture
    regeneration ever trips this, the parity gate would flake and this
    test names the cause first."""
    import os

    from pyspark.sql import functions as F

    from flow_spark.catalog import load_table

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        sf_dir = f"/root/testdata/{sf}"
        if not os.path.isdir(sf_dir):
            continue
        ev = load_table(spark, sf_dir, "events")
        lefts = ev.filter(
            (F.col("event_type") == "click") & (F.col("event_id") % 7 == 3)
        )
        rights = ev.filter(F.col("event_type") == "purchase")
        hi_ms = (
            lefts.select("ts").unionAll(rights.select("ts"))
            .agg(F.max(F.unix_micros("ts") / 1000).cast("long"))
            .first()[0]
        )
        wm_final = hi_ms - 300_000  # 5-minute delay
        on_corner = lefts.filter(
            (F.unix_micros("ts") / 1000).cast("long") == wm_final - 1
        ).count()
        assert on_corner == 0, (
            f"{sf}: {on_corner} left(s) exactly 1 ms under the final "
            "watermark — stream_stream_asof_join's oracle contract is "
            "at risk (see asof_join_stream timeout-arm comment)"
        )


def test_stateful_op_identical_under_rocksdb_state_store(spark, tmp_path):
    """The RocksDB state store provider (the disk-backed backend a
    100 TB deployment runs — state no longer bounded by executor heap)
    must produce byte-identical results to the default HDFS-backed
    provider for an applyInPandasWithState operator, and the checkpoint
    must show RocksDB actually engaged (.zip snapshot uploads in the
    state dir)."""
    import glob
    import json as _json

    from flow_spark.streaming.stateful import throttle_stream

    rows = [
        (u * 100 + i, f"u{u}", "2024-01-01 00:00:00.%03d" % (i * 50))
        for u in range(3)
        for i in range(12)
    ]
    src_dir = tmp_path / "src"
    spark.createDataFrame(
        rows, "event_id long, user string, ts string"
    ).selectExpr(
        "event_id",
        "CAST(ts AS TIMESTAMP) AS ingest_ts",
        "CAST('x' AS BINARY) AS body",
        "'x' AS body_str",
        "map('user', user) AS meta",
    ).write.parquet(str(src_dir))
    static = spark.read.parquet(str(src_dir))

    def drain(tag: str, provider: "str | None") -> dict:
        conf = spark.conf
        key = "spark.sql.streaming.stateStore.providerClass"
        prev = conf.get(key, None)
        if provider:
            conf.set(key, provider)
        try:
            msgs = spark.readStream.schema(static.schema).parquet(str(src_dir))
            q = (
                throttle_stream(msgs, rps=2, key_col="user")
                .writeStream.outputMode("append")
                .format("memory")
                .queryName(f"thr_{tag}")
                .option("checkpointLocation", str(tmp_path / f"ckpt_{tag}"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
        finally:
            if provider:
                if prev:
                    conf.set(key, prev)
                else:
                    conf.unset(key)
        return {
            r.event_id: r.throttle_status
            for r in spark.table(f"thr_{tag}").collect()
        }

    base = drain("hdfs", None)
    rdb = drain(
        "rocksdb",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    assert rdb == base and len(base) == 36
    # the provider really ran: RocksDB leaves zip snapshots / sst-dir
    # layout under state/, absent in the HDFS-backed layout
    rdb_files = glob.glob(
        str(tmp_path / "ckpt_rocksdb" / "state" / "**" / "*.zip"),
        recursive=True,
    )
    assert rdb_files, "no RocksDB snapshot zips under the checkpoint"


# ---- streaming changefeed (CDF source) --------------------------------------


def test_changefeed_stream_emits_rowlevel_changes(spark, tmp_path):
    """Each commit becomes one spooled change batch; the stream delivers
    insert/update/delete rows stamped with their commit version, equal
    to the batch changefeed's verdict per version."""
    from pyspark.sql import functions as F

    from flow_spark.operators.snapshots import (
        snapshot_append,
        snapshot_upsert,
        snapshot_write,
    )
    from flow_spark.streaming.sources import (
        changefeed_drain,
        changefeed_stream,
    )

    t = str(tmp_path / "tbl")
    spool = str(tmp_path / "spool")
    snapshot_write(spark.range(5).selectExpr("id AS k", "id AS val"), t)
    snapshot_append(spark.range(10, 12).selectExpr("id AS k", "id AS val"), t)
    snapshot_upsert(
        spark, spark.range(2).selectExpr("id AS k", "id + 700 AS val"), t, "k"
    )
    assert changefeed_drain(spark, t, spool, "k", ["val"]) == 3
    # idempotent: nothing new to drain
    assert changefeed_drain(spark, t, spool, "k", ["val"]) == 0

    out = str(tmp_path / "out")
    (
        changefeed_stream(spark, t, spool, "k", ["val"])
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )
    got = {
        (r.k, r.change_type, r.val, r._commit_version)
        for r in spark.read.parquet(out).collect()
    }
    want = {(k, "insert", k, 1) for k in range(5)}
    want |= {(10, "insert", 10, 2), (11, "insert", 11, 2)}
    want |= {(0, "update", 700, 3), (1, "update", 701, 3)}
    assert got == want


def test_changefeed_replicates_table_via_upsert_sink(spark, tmp_path):
    """The lakehouse round trip: source table -> changefeed stream ->
    CDC MERGE sink -> replica table converges to the source's rows."""
    from pyspark.sql import functions as F

    from flow_spark.operators.snapshots import (
        snapshot_append,
        snapshot_delete,
        snapshot_read,
        snapshot_upsert,
        snapshot_write,
    )
    from flow_spark.streaming.sinks import upsert_sink
    from flow_spark.streaming.sources import (
        changefeed_drain,
        changefeed_stream,
    )

    src_t = str(tmp_path / "src")
    spool = str(tmp_path / "spool")
    snapshot_write(spark.range(8).selectExpr("id AS k", "id AS val"), src_t)
    snapshot_upsert(
        spark, spark.range(3).selectExpr("id AS k", "id + 100 AS val"), src_t, "k"
    )
    snapshot_delete(spark, src_t, F.col("k") == 7)
    snapshot_append(
        spark.range(50, 53).selectExpr("id AS k", "id AS val"), src_t
    )
    changefeed_drain(spark, src_t, spool, "k", ["val"])

    replica = str(tmp_path / "replica")
    snapshot_write(
        spark.range(0).selectExpr("id AS k", "id AS val"), replica
    )
    stream = changefeed_stream(spark, src_t, spool, "k", ["val"]).withColumn(
        "op",
        F.when(F.col("change_type") == "delete", F.lit("D")).otherwise(
            F.lit("U")
        ),
    )
    upsert_sink(
        stream,
        replica,
        "k",
        str(tmp_path / "ckpt"),
        order_col="_commit_version",
        op_col="op",
    ).trigger(availableNow=True).start().awaitTermination(180)

    src_rows = {
        (r.k, r.val) for r in snapshot_read(spark, src_t).collect()
    }
    rep_rows = {
        (r.k, r.val) for r in snapshot_read(spark, replica).collect()
    }
    assert rep_rows == src_rows


def test_changefeed_drain_failure_publishes_prefix_no_orphans(
    spark, tmp_path, monkeypatch
):
    """A spool failure mid-drain (VERDICT r7 #4): every version BEFORE the
    failing one is still published (in order, like the old sequential
    loop), nothing at or after it becomes visible, no _tmp.* orphans are
    left behind, and a retry completes the drain."""
    import os as _os

    import flow_spark.operators.snapshots as snaps
    from flow_spark.operators.snapshots import snapshot_append, snapshot_write
    from flow_spark.streaming.sources import changefeed_drain

    t = str(tmp_path / "tbl")
    spool = str(tmp_path / "spool")
    snapshot_write(spark.range(4).selectExpr("id AS k", "id AS val"), t)
    for lo in (10, 20, 30):
        snapshot_append(
            spark.range(lo, lo + 2).selectExpr("id AS k", "id AS val"), t
        )

    real = snaps.snapshot_changes

    def boom(spark_, table_dir, v_from, v_to, key_col, value_cols):
        if v_to == 3:
            raise RuntimeError("injected spool failure")
        return real(spark_, table_dir, v_from, v_to, key_col, value_cols)

    monkeypatch.setattr(snaps, "snapshot_changes", boom)
    with pytest.raises(RuntimeError, match="injected spool failure"):
        changefeed_drain(spark, t, spool, "k", ["val"])
    names = set(_os.listdir(spool))
    assert {"v1", "v2"} <= names, "ordered prefix before the failure"
    assert "v3" not in names and "v4" not in names, "nothing after it"
    assert not [n for n in names if n.startswith("_tmp.")], "no orphans"

    monkeypatch.setattr(snaps, "snapshot_changes", real)
    assert changefeed_drain(spark, t, spool, "k", ["val"]) == 2
    assert sorted(
        r.k for r in spark.read.parquet(_os.path.join(spool, "v3")).collect()
    ) == [20, 21]


def test_changefeed_drain_rename_failure_keeps_order(spark, tmp_path, monkeypatch):
    """ADVICE r7: a rename OSError with NO concurrent drainer (the final
    dir is absent — e.g. EACCES/ENOSPC) must stop publication instead of
    making v(N+1) visible before vN."""
    import os as _os

    from flow_spark.operators.snapshots import snapshot_append, snapshot_write
    from flow_spark.streaming.sources import changefeed_drain

    t = str(tmp_path / "tbl")
    spool = str(tmp_path / "spool")
    snapshot_write(spark.range(3).selectExpr("id AS k", "id AS val"), t)
    for lo in (10, 20):
        snapshot_append(
            spark.range(lo, lo + 2).selectExpr("id AS k", "id AS val"), t
        )

    real_rename = _os.rename

    def flaky_rename(src, dst):
        if dst.endswith("v2"):
            raise OSError("injected rename failure")
        return real_rename(src, dst)

    monkeypatch.setattr(_os, "rename", flaky_rename)
    with pytest.raises(OSError, match="injected rename failure"):
        changefeed_drain(spark, t, spool, "k", ["val"])
    monkeypatch.setattr(_os, "rename", real_rename)
    names = set(_os.listdir(spool))
    assert "v1" in names and "v2" not in names and "v3" not in names
    assert not [n for n in names if n.startswith("_tmp.")], "no orphans"
    # retry finishes the drain
    assert changefeed_drain(spark, t, spool, "k", ["val"]) == 2


def test_changefeed_drain_survives_vacuum(spark, tmp_path):
    """A fresh spool on a vacuumed table emits the oldest surviving
    version as full inserts (Delta streaming-CDF initial-snapshot
    semantics) instead of failing on missing manifests."""
    from flow_spark.operators.snapshots import (
        snapshot_append,
        snapshot_vacuum,
        snapshot_write,
    )
    from flow_spark.streaming.sources import changefeed_drain

    t = str(tmp_path / "tbl")
    spool = str(tmp_path / "spool")
    snapshot_write(spark.range(4).selectExpr("id AS k", "id AS val"), t)
    snapshot_append(spark.range(10, 13).selectExpr("id AS k", "id AS val"), t)
    snapshot_append(spark.range(20, 22).selectExpr("id AS k", "id AS val"), t)
    snapshot_vacuum(t, keep_versions=2, orphan_grace_seconds=0)  # v1 gone
    assert changefeed_drain(spark, t, spool, "k", ["val"]) == 2
    import os as _os

    v2 = spark.read.parquet(_os.path.join(spool, "v2"))
    assert {r.change_type for r in v2.collect()} == {"insert"}
    assert v2.count() == 7  # full state at the oldest survivor
    v3 = spark.read.parquet(_os.path.join(spool, "v3"))
    assert sorted(r.k for r in v3.collect()) == [20, 21]
