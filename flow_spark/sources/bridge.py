"""Socket ingest bridge: the network half of flow's receivers.

Spark sources are pull-based and cannot answer clients, so the reference's
receiver contract (accept \r\n-framed records over TCP, reply a status per
message — receiver_tcp.go:177-191 framing, :24-42 status wire strings) is
implemented as a thin asyncio process OUTSIDE Spark: clients -> bridge ->
spool files -> `readStream` (SURVEY.md §3.2/§4.2.3).  The ack inverts:
the bridge replies OK once the record is accepted into its in-memory
buffer, BEFORE it reaches a spool file; end-to-end delivery verdicts
remain the engine's delivery-result stream.

At scale the spool is Kafka (sources/formats.py::read_kafka_stream plugs
in unchanged); the file spool keeps the harness dependency-free.  The
buffer is written out every `flush_every` records (and on `flush()` /
`stop()`), to a temp name then atomically renamed, so Spark's file
source never reads a partial file.  Nothing calls fsync, and nothing
flushes on a timer: a crash loses the buffered (already acked) records,
and at a low message rate acked records wait in the buffer until the
Nth arrives.
"""

from __future__ import annotations

import asyncio
import base64
import contextlib
import json
import os
import threading
import time
import urllib.parse
import uuid

from pyspark.sql import DataFrame, SparkSession

OK = b"OK\r\n"  # receiver_tcp.go:24-42 wire statuses
FAILED = b"FAILED\r\n"


class SocketBridge:
    """\r\n-framed TCP listener spooling records for a Spark file stream.

    Not a Spark component: run it as its own process/thread next to the
    driver (or on an edge node).  `silent=True` mirrors the reference's
    ack-less mode (receiver_tcp.go:71-77).
    """

    def __init__(
        self,
        spool_dir: str,
        host: str = "127.0.0.1",
        port: int = 0,
        flush_every: int = 100,
        silent: bool = False,
    ) -> None:
        self.spool_dir = spool_dir
        self.host = host
        self.port = port
        self.flush_every = flush_every
        self.silent = silent
        self._buf: list[str] = []
        self._seq = 0
        self._lock = threading.Lock()
        self._server: asyncio.AbstractServer | None = None
        self._loop: asyncio.AbstractEventLoop | None = None
        self._thread: threading.Thread | None = None
        os.makedirs(spool_dir, exist_ok=True)

    # -- spool ----------------------------------------------------------------

    def _flush_locked(self) -> None:
        if not self._buf:
            return
        name = f"{time.time_ns()}_{uuid.uuid4().hex[:8]}.txt"
        tmp = os.path.join(self.spool_dir, f".{name}.tmp")
        with open(tmp, "w", encoding="utf-8") as f:
            f.write("\n".join(self._buf) + "\n")
        os.rename(tmp, os.path.join(self.spool_dir, name))  # atomic publish
        self._buf.clear()

    def _append(self, record: str) -> None:
        with self._lock:
            # source-assigned identity, like the reference's receiver minting
            # a Message per record: "<seq>\t<body>" survives into the spool
            self._buf.append(f"{self._seq}\t{record}")
            self._seq += 1
            if len(self._buf) >= self.flush_every:
                self._flush_locked()

    def flush(self) -> None:
        with self._lock:
            self._flush_locked()

    # -- server ---------------------------------------------------------------

    async def _handle(self, reader: asyncio.StreamReader, writer: asyncio.StreamWriter):
        try:
            while True:
                line = await reader.readline()
                if not line:
                    break
                record = line.rstrip(b"\r\n")
                if not record:
                    continue
                try:
                    self._append(record.decode("utf-8", errors="replace"))
                    if not self.silent:
                        writer.write(OK)
                        await writer.drain()
                except (ConnectionResetError, BrokenPipeError):
                    raise  # client vanished: handled by the outer catch
                except Exception:  # noqa: BLE001 — keep serving other conns
                    if not self.silent:
                        writer.write(FAILED)
                        await writer.drain()
        except (ConnectionResetError, BrokenPipeError):
            # client closed without reading its final acks (the reference's
            # TCP receiver tolerates this the same way: receiver_tcp.go
            # treats a write-side error as end-of-conn, not server failure);
            # every record acked OK was already spooled, nothing is lost
            pass
        finally:
            # the loop may already be closed when the server stops with a
            # live connection (GC'd coroutine) — closing is best-effort
            with contextlib.suppress(Exception):
                writer.close()

    def start(self) -> "SocketBridge":
        started = threading.Event()

        def run() -> None:
            self._loop = asyncio.new_event_loop()
            asyncio.set_event_loop(self._loop)

            async def boot():
                self._server = await asyncio.start_server(
                    self._handle, self.host, self.port
                )
                self.port = self._server.sockets[0].getsockname()[1]
                started.set()

            self._loop.run_until_complete(boot())
            try:
                self._loop.run_forever()
            finally:
                if self._server is not None:
                    self._server.close()
                    with contextlib.suppress(Exception):
                        self._loop.run_until_complete(self._server.wait_closed())
                self._loop.close()

        self._thread = threading.Thread(target=run, daemon=True, name="flow-bridge")
        self._thread.start()
        if not started.wait(10):
            raise RuntimeError("bridge failed to start")
        return self

    def stop(self) -> None:
        self.flush()
        if self._loop is not None:
            with contextlib.suppress(RuntimeError):  # already stopped
                self._loop.call_soon_threadsafe(self._loop.stop)
        if self._thread is not None:
            self._thread.join(timeout=10)


class UdpBridge(SocketBridge, asyncio.DatagramProtocol):
    """Datagram flavor — receiver_udp.go:49-61: each datagram is scanned
    into newline-separated records (a trailing \r dropped, blank lines
    skipped), each spooled like a TCP record.  Fire-and-forget: nothing
    is sent back."""

    def datagram_received(self, data: bytes, addr) -> None:
        for line in data.split(b"\n"):
            record = line.rstrip(b"\r")
            if record:
                self._append(record.decode("utf-8", errors="replace"))

    def start(self) -> "UdpBridge":
        started = threading.Event()

        def run() -> None:
            self._loop = asyncio.new_event_loop()
            asyncio.set_event_loop(self._loop)
            transport, _ = self._loop.run_until_complete(
                self._loop.create_datagram_endpoint(
                    lambda: self, local_addr=(self.host, self.port)
                )
            )
            self.port = transport.get_extra_info("sockname")[1]
            started.set()
            try:
                self._loop.run_forever()
            finally:
                transport.close()  # the socket closes on the next loop turn
                self._loop.run_until_complete(asyncio.sleep(0))
                self._loop.close()

        self._thread = threading.Thread(target=run, daemon=True, name="flow-udp-bridge")
        self._thread.start()
        if not started.wait(10):
            raise RuntimeError("udp bridge failed to start")
        return self


class UnixBridge(SocketBridge):
    """Unix-domain-socket flavor — receiver_unix.go: same framing/acks as
    TCP over a filesystem socket path; a stale socket file from a crashed
    predecessor is unlinked before bind (receiver_unix.go:50-90)."""

    def __init__(self, spool_dir: str, sock_path: str, **kw) -> None:
        super().__init__(spool_dir, **kw)
        self.sock_path = sock_path

    def start(self) -> "UnixBridge":
        with contextlib.suppress(FileNotFoundError):
            os.unlink(self.sock_path)  # rebind over a stale socket file
        started = threading.Event()

        def run() -> None:
            self._loop = asyncio.new_event_loop()
            asyncio.set_event_loop(self._loop)

            async def boot():
                self._server = await asyncio.start_unix_server(
                    self._handle, path=self.sock_path
                )
                started.set()

            self._loop.run_until_complete(boot())
            try:
                self._loop.run_forever()
            finally:
                if self._server is not None:
                    self._server.close()
                    with contextlib.suppress(Exception):
                        self._loop.run_until_complete(self._server.wait_closed())
                self._loop.close()

        self._thread = threading.Thread(target=run, daemon=True, name="flow-unix-bridge")
        self._thread.start()
        if not started.wait(10):
            raise RuntimeError("unix bridge failed to start")
        return self


class HttpBridge(SocketBridge):
    """HTTP flavor of the bridge — receiver_http.go's contract: POST body
    becomes the message, URL query params become meta (:140-141), and the
    reply code maps the acceptance status (:24-32 — 200 accepted here;
    downstream delivery statuses live in the delivery-result stream).

    Spooled record: "<seq>\t<meta JSON>\t<base64 body>", read back by
    :func:`http_spool_stream`.  Both encodings keep a record on one spool
    line whatever the body holds (tabs, newlines).  Query parameters are
    split on ``&`` and ``=`` before they are url-decoded; a repeated key
    keeps its first value, as Go's ``url.Values.Get`` does.  An
    ``http://host:port`` receiver bind in a pipeline starts one.
    """

    async def _handle(self, reader: asyncio.StreamReader, writer: asyncio.StreamWriter):
        try:
            while True:
                request = await reader.readline()
                if not request:
                    break
                try:
                    method, target, _ = request.decode().split(" ", 2)
                except ValueError:
                    break
                headers: dict[str, str] = {}
                while True:
                    line = await reader.readline()
                    if line in (b"\r\n", b"\n", b""):
                        break
                    k, _, v = line.decode().partition(":")
                    headers[k.strip().lower()] = v.strip()
                body = await reader.readexactly(int(headers.get("content-length", 0)))
                if method.upper() != "POST":
                    writer.write(b"HTTP/1.1 405 Method Not Allowed\r\ncontent-length: 0\r\n\r\n")
                    await writer.drain()
                    continue
                _, _, query = target.partition("?")
                meta: dict[str, str] = {}
                for k, v in urllib.parse.parse_qsl(query, keep_blank_values=True):
                    meta.setdefault(k, v)
                text = body.decode("utf-8", errors="replace").encode("utf-8")
                record = f"{json.dumps(meta)}\t{base64.b64encode(text).decode()}"
                try:
                    self._append(record)
                    writer.write(b"HTTP/1.1 200 OK\r\ncontent-length: 0\r\n\r\n")
                except Exception:  # noqa: BLE001
                    writer.write(
                        b"HTTP/1.1 500 Internal Server Error\r\ncontent-length: 0\r\n\r\n"
                    )
                await writer.drain()
                if headers.get("connection", "").lower() == "close":
                    break
        finally:
            # the loop may already be closed when the server stops with a
            # live connection (GC'd coroutine) — closing is best-effort
            with contextlib.suppress(Exception):
                writer.close()


def http_spool_stream(spark: SparkSession, spool_dir: str) -> DataFrame:
    """HttpBridge spool -> canonical messages with query-param meta."""
    from pyspark.sql import functions as F

    raw = spark.readStream.format("text").load(spool_dir)
    parts = F.split("value", "\t", 3)  # seq, meta JSON, base64 body
    body = F.unbase64(parts.getItem(2))
    return raw.select(
        parts.getItem(0).cast("long").alias("event_id"),
        F.current_timestamp().alias("ingest_ts"),
        body.alias("body"),
        body.cast("string").alias("body_str"),
        F.from_json(parts.getItem(1), "map<string,string>").alias("meta"),
    )


def spool_stream(spark: SparkSession, spool_dir: str) -> DataFrame:
    """The Spark half: spooled records as a canonical message stream."""
    from pyspark.sql import functions as F

    raw = spark.readStream.format("text").load(spool_dir)
    parts = F.split("value", "\t", 2)  # limit 2: bodies may contain tabs
    seq = parts.getItem(0).cast("long")
    body = parts.getItem(1)
    return raw.select(
        seq.alias("event_id"),
        F.current_timestamp().alias("ingest_ts"),
        body.cast("binary").alias("body"),
        body.alias("body_str"),
        F.create_map().cast("map<string,string>").alias("meta"),
    )
