"""The flagship integration: a reference example config (tcp receiver ->
sink) runs LIVE on this engine — real TCP clients, per-message acks,
bridge spool, streaming query, delivered rows."""

from __future__ import annotations

import socket
from pathlib import Path

import pytest

from flow_spark.plans.builder import Pipeline

EXAMPLES = Path(__file__).parent / "fixtures" / "examples"
EXAMPLE = EXAMPLES / "tcp2stdout-config.yml"


def test_reference_tcp_example_runs_live(spark, tmp_path):
    yaml_text = open(EXAMPLE).read()
    p = Pipeline.from_yaml(
        spark,
        yaml_text,
        # port 0 = auto-assign so parallel test runs never collide
        cli_overrides={"actors.tcp_rcv.params.bind": "tcp://127.0.0.1:0"},
    )

    delivered: list = []

    def writer(sink_name, df):
        return (
            df.writeStream.outputMode("append")
            .format("memory")
            .queryName(f"live_{sink_name}")
            .option("checkpointLocation", str(tmp_path / f"ckpt_{sink_name}"))
            .start()
        )

    queries = p.run_streaming(sink_writer=writer)
    try:
        port = p._bridges[0].port
        with socket.create_connection(("127.0.0.1", port), timeout=10) as s:
            s.sendall(b"hello\r\nworld\r\nflow\r\n")
            f = s.makefile("rb")
            assert [f.readline().rstrip(b"\r\n") for _ in range(3)] == [b"OK"] * 3
        p._bridges[0].flush()  # publish the partial spool batch
        for q in queries:
            q.processAllAvailable()
        delivered = sorted(
            r.body_str for r in spark.table("live_dumper").collect()
        )
    finally:
        for q in queries:
            q.stop()
        p.stop()
    assert delivered == ["flow", "hello", "world"]


def test_reference_udp2tcp_example_delivers_over_socket(spark, tmp_path):
    """udp2tcp-config.yml end-to-end with a REAL outbound socket: receiver
    bridge ingests wire records, the default sink writer dispatches on the
    sink's tcp:// bind (sink_head_factory parity) and delivers each body
    \r\n-framed to a live downstream listener."""
    import time

    from test_streaming import _CaptureServer

    srv = _CaptureServer("tcp", ("127.0.0.1", 0))
    yaml_text = open(EXAMPLES / "udp2tcp-config.yml").read()
    p = Pipeline.from_yaml(
        spark,
        yaml_text,
        cli_overrides={
            "actors.udp_rcv.params.bind": "tcp://127.0.0.1:0",
            "actors.tcp_sink.params.bind": f"tcp://127.0.0.1:{srv.addr[1]}",
        },
    )
    staged: list = []
    queries = []
    try:
        # the socket sink head drains once (availableNow): start its query
        # only after the records are spooled, or a query that starts
        # sooner than the client sends finds nothing and stops
        p.run_streaming(sink_writer=lambda name, df: staged.append((name, df)))
        port = p._bridges[0].port
        with socket.create_connection(("127.0.0.1", port), timeout=10) as s:
            s.sendall(b"one\r\ntwo\r\n")
            f = s.makefile("rb")
            assert [f.readline().rstrip(b"\r\n") for _ in range(2)] == [b"OK"] * 2
        p._bridges[0].flush()
        write = p.default_sink_writer(str(tmp_path / "ckpt"))
        queries = [write(name, df) for name, df in staged]
        for q in queries:
            q.processAllAvailable()
        deadline = time.time() + 15
        while time.time() < deadline and srv.data().count(b"\r\n") < 2:
            time.sleep(0.05)
        assert sorted(r for r in srv.data().split(b"\r\n") if r) == [b"one", b"two"]
    finally:
        for q in queries:
            q.stop()
        p.stop()
        srv.close()


def test_pipeline_jsonl_sink_scheme(spark, tmp_path):
    """A YAML pipeline whose sink binds jsonl://<dir> lands its deliveries
    through the custom Python DataSourceStreamWriter: batchId-keyed
    newline-JSON files plus per-batch _SUCCESS manifests, no temp files
    left behind — the sink-head-factory contract extended with an
    engine-native sink scheme."""
    import json
    import os

    out = tmp_path / "jsonl_sink_out"
    yaml_text = open(EXAMPLE).read()
    p = Pipeline.from_yaml(
        spark,
        yaml_text,
        cli_overrides={
            "actors.tcp_rcv.params.bind": "tcp://127.0.0.1:0",
            "actors.dumper.params.bind": f"jsonl://{out}",
        },
    )
    queries = []
    try:
        queries = p.run_streaming(checkpoint_dir=str(tmp_path / "ckpt"))
        port = p._bridges[0].port
        with socket.create_connection(("127.0.0.1", port), timeout=10) as s:
            s.sendall(b"alpha\r\nbeta\r\n")
            f = s.makefile("rb")
            assert [f.readline().rstrip(b"\r\n") for _ in range(2)] == [b"OK"] * 2
        p._bridges[0].flush()
        for q in queries:
            q.processAllAvailable()
    finally:
        for q in queries:
            q.stop()
        p.stop()

    names = sorted(os.listdir(out))
    assert any(n.startswith("_SUCCESS-") for n in names)
    assert not any(n.endswith(".tmp") for n in names)
    bodies = []
    for n in names:
        if n.endswith(".jsonl"):
            with open(out / n) as fh:
                bodies += [json.loads(line)["body_str"] for line in fh]
    assert sorted(bodies) == ["alpha", "beta"]


def test_http_receiver_runs_live(spark, tmp_path):
    """A YAML `http://` receiver is the engine's HTTP receiver: each POST
    body becomes one message and its query parameters the meta map
    (receiver_http.go); a GET is refused with 405.  Line breaks in a body
    stay in its one message, a repeated query key keeps its first value
    and an encoded `&` or `=` stays inside its value."""
    import urllib.error
    import urllib.request

    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        port = s.getsockname()[1]
    yaml_text = f"""
actors:
  http_rcv:
    module: core.receiver
    params:
      bind: http://127.0.0.1:{port}
  dumper:
    module: core.sink
pipeline:
  http_rcv:
    connect: [dumper]
"""
    p = Pipeline.from_yaml(spark, yaml_text)
    staged: list = []
    queries = []
    try:
        # start the sink only after the messages are spooled: an
        # availableNow-style query that starts first could find nothing
        p.run_streaming(sink_writer=lambda name, df: staged.append((name, df)))
        assert p._bridges[0].port == port
        url = f"http://127.0.0.1:{port}/v1alpha1"
        posts = (
            ("first", "?sendto=a&x=1"),
            ("tab\there", ""),
            ('{"a": 1,\n "b": 2}', "?k=v1&k=v2"),
            ("trailing\n", "?q=a%26b%3Dc"),
            ("crlf\r\nline", ""),
        )
        for body, query in posts:
            req = urllib.request.Request(url + query, data=body.encode(), method="POST")
            with urllib.request.urlopen(req, timeout=10) as resp:
                assert resp.status == 200
        with pytest.raises(urllib.error.HTTPError) as err:
            urllib.request.urlopen(url, timeout=10)
        assert err.value.code == 405
        p._bridges[0].flush()
        for name, df in staged:
            queries.append(
                df.writeStream.outputMode("append")
                .format("memory")
                .queryName(f"http_{name}")
                .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
                .start()
            )
        for q in queries:
            q.processAllAvailable()
        got = sorted(
            (r.body_str, sorted(r.meta.items()))
            for r in spark.table("http_dumper").collect()
        )
    finally:
        for q in queries:
            q.stop()
        p.stop()
    assert got == [
        ("crlf\r\nline", []),
        ("first", [("sendto", "a"), ("x", "1")]),
        ("tab\there", []),
        ("trailing\n", [("q", "a&b=c")]),
        ('{"a": 1,\n "b": 2}', [("k", "v1")]),
    ]
