"""YAML pipeline DAG -> DataFrame graph.

Reference lifecycle (/root/reference/pkg/corev1alpha1/pipeline/pipeline.go,
SURVEY.md §3.1): config -> buildActors (factory dispatch on module prefix,
actor_factory.go:13-22) -> buildTopology (Connect per edge) -> topo start.

Spark mapping: each actor becomes a DataFrame transformation; edges carry
DataFrames instead of channels; fan-in is union, fan-out is per-edge
filtering/explosion; sinks terminate branches and emit delivery results
(event_id, sink, status) — statuses are data, not acks (SURVEY.md §2.3).

Batch and streaming use the SAME graph construction: `run()` materializes
sinks eagerly; `run_streaming()` starts one writeStream per sink.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flow_spark.operators.codecs import (
    compress,
    decode_base64,
    encode_base64,
    parse_meta,
)
from flow_spark.operators.message import events_to_messages
from flow_spark.operators.routing import MAX_PEERS
from flow_spark.operators.throttler import throttle_batch
from flow_spark.plans.config import ConfigError, PipelineConfig, load_pipeline_config
from flow_spark.plans.topology import to_dot, upstreams_of, validate_dag

#: plugin registry — parity with the Go-plugin loader
#: (pkg/util/plugin/plugin.go:32-62): name -> fn(df, params) -> df
PLUGIN_ACTORS: dict[str, Callable[[DataFrame, dict[str, Any]], DataFrame]] = {}


def register_plugin(name: str):
    def deco(fn: Callable[[DataFrame, dict[str, Any]], DataFrame]):
        PLUGIN_ACTORS[name] = fn
        return fn

    return deco


@dataclass
class PipelineResult:
    sinks: dict[str, DataFrame]  # sink actor name -> delivered messages
    delivery: DataFrame | None  # (event_id, sink, status) union


@dataclass
class Pipeline:
    spark: SparkSession
    cfg: PipelineConfig
    order: list[str] = field(default_factory=list)
    _bridges: list = field(default_factory=list)
    _observations: dict = field(default_factory=dict)

    def __post_init__(self) -> None:
        self.order = validate_dag(self.cfg)

    # -- runtime metrics -----------------------------------------------------

    def _observe_actor(self, name: str, df: DataFrame) -> DataFrame:
        """Attach a per-actor row counter via Dataset.observe.

        Free instrumentation: the count rides the existing job as an
        accumulator — no extra action, no second scan (contrast a
        .count() probe, which at 100 TB doubles the pipeline's I/O).
        Streaming frames skip it (they surface metrics through the
        StreamingQuery progress API instead).
        """
        if df.isStreaming:
            return df
        from pyspark.sql import Observation

        obs = Observation()
        self._observations[name] = obs
        return df.observe(obs, F.count(F.lit(1)).alias("rows"))

    def metrics(self) -> dict[str, dict]:
        """Per-actor observed metrics for frames whose action has run.

        Non-blocking: actors whose output was never executed (or not yet)
        are simply absent — the expvar counter model (expvar.go:37)."""
        out: dict[str, dict] = {}
        for name, obs in self._observations.items():
            try:
                if obs._jo is not None and obs._jo.getRowOrEmpty().isDefined():
                    out[name] = obs.get
            except Exception:  # pragma: no cover - defensive JVM interop
                continue
        return out

    def stop(self) -> None:
        """Stop any network bridges started by tcp/udp/unix/http receivers
        (reverse of start, like pipeline.go:67-84's drain)."""
        for b in reversed(self._bridges):
            b.stop()
        self._bridges.clear()

    # -- construction -------------------------------------------------------

    @classmethod
    def from_yaml(
        cls,
        spark: SparkSession,
        yaml_text: str,
        cli_overrides: dict[str, Any] | None = None,
    ) -> "Pipeline":
        return cls(spark, load_pipeline_config(yaml_text, cli_overrides))

    def explain_dot(self) -> str:
        return to_dot(self.cfg)

    def serve_admin(self, host: str = "127.0.0.1", port: int = 0):
        """Start the admin web app (web/app/http.go analog) next to this
        pipeline; returns the started server (``.port`` holds the bind)."""
        from flow_spark.plans.admin import AdminServer

        srv = AdminServer(self, host=host, port=port).start()
        self._bridges.append(srv)  # stopped with the pipeline, like bridges
        return srv

    # -- execution ----------------------------------------------------------

    def run(
        self,
        inputs: dict[str, DataFrame] | None = None,
        streaming: bool = False,
    ) -> PipelineResult:
        """Build the DataFrame graph (batch or streaming frames)."""
        inputs = inputs or {}
        # edge_out[(actor, peer)] overrides out[actor] for routing fan-out
        out: dict[str, DataFrame] = {}
        edge_out: dict[tuple[str, str], DataFrame] = {}
        delivery: list[DataFrame] = []
        sink_frames: dict[str, DataFrame] = {}

        for name in self.order:
            spec = self.cfg.actors[name]
            module, params = spec["module"], spec["params"]
            ups = upstreams_of(self.cfg, name)
            if ups:
                frames = [edge_out.get((u, name), out[u]) for u in ups]
                df = frames[0]
                for f_ in frames[1:]:
                    df = df.unionByName(f_)  # implicit mux on fan-in
            else:
                df = None

            peers = self.cfg.connections.get(name, [])
            df = self._apply(
                name, module, params, df, peers, inputs, streaming, edge_out, delivery,
                sink_frames,
            )
            if df is not None:
                out[name] = self._observe_actor(name, df)

        dlv = None
        for d in delivery:
            dlv = d if dlv is None else dlv.unionByName(d)
        return PipelineResult(sinks=sink_frames, delivery=dlv)

    # -- actor dispatch (actor_factory.go:13-22 parity) ----------------------

    def _apply(
        self,
        name: str,
        module: str,
        params: dict[str, Any],
        df: DataFrame | None,
        peers: list[str],
        inputs: dict[str, DataFrame],
        streaming: bool,
        edge_out: dict[tuple[str, str], DataFrame],
        delivery: list[DataFrame],
        sink_frames: dict[str, DataFrame],
    ) -> DataFrame | None:
        if module.startswith("plugin."):
            fn = PLUGIN_ACTORS.get(module.removeprefix("plugin."))
            if fn is None:
                raise ConfigError(f"actor {name!r}: unknown plugin module {module!r}")
            return fn(df, params)

        if module == "core.receiver" or module.startswith("core.receiver."):
            # `core.receiver.tcp` + scheme-less bind (examples/tcp2stdout) is
            # sugar for core.receiver + `tcp://<bind>` (receiver_factory.go
            # dispatches on the bind scheme)
            suffix = module.removeprefix("core.receiver").lstrip(".")
            if suffix and "://" not in str(params.get("bind", "")):
                params = {**params, "bind": f"{suffix}://{params.get('bind', '')}"}
            return self._receiver(name, params, inputs, streaming)

        if df is None:
            raise ConfigError(f"actor {name!r} ({module}) has no upstream")

        if module == "core.mux":
            return df  # fan-in already applied

        if module == "core.router":
            # v1alpha1: route by meta['sendto'] == peer NAME
            # (router.go:44-51,67-75).  v0 sugar (v0compat.py): an explicit
            # `routes: {value: peer}` map and a `routing_key` meta key.
            key = params.get("routing_key", "sendto")
            routes: dict[str, str] = params.get("routes") or {p: p for p in peers}
            bad = set(routes.values()) - set(peers)
            if bad:
                raise ConfigError(f"router {name!r}: routes to non-peers {sorted(bad)}")
            sendto = F.col("meta").getItem(key)
            for p in peers:
                values = [v for v, peer in routes.items() if peer == p]
                edge_out[(name, p)] = df.filter(sendto.isin(values))
            routable = list(routes.keys())
            unroutable = df.filter(sendto.isNull() | ~sendto.isin(routable))
            delivery.append(
                unroutable.select(
                    "event_id", F.lit(name).alias("sink"), F.lit("unroutable").alias("status")
                )
            )
            return df.filter(sendto.isin(routable))

        if module == "core.replicator":
            mode = params.get("mode", "each")
            n = len(peers)
            if not 0 < n <= MAX_PEERS:
                raise ConfigError(f"replicator {name!r}: needs 1..{MAX_PEERS} peers")
            if mode == "each":
                for p in peers:
                    edge_out[(name, p)] = df
                return df
            if mode in ("fanout", "rand"):
                from flow_spark.functions.hashing import portable_hash64

                if mode == "fanout":
                    idx = F.pmod(F.col("event_id"), F.lit(n))
                else:
                    idx = F.pmod(
                        portable_hash64(F.col("event_id").cast("string"), salt="rand"), F.lit(n)
                    )
                tagged = df.withColumn("__dest", idx)
                for i, p in enumerate(peers):
                    edge_out[(name, p)] = tagged.filter(F.col("__dest") == i).drop("__dest")
                return df
            if mode == "ncopy":
                raise ConfigError(
                    f"replicator {name!r}: mode 'ncopy' is unimplemented in the "
                    "reference (replicator.go:89-91) and rejected here"
                )
            raise ConfigError(f"replicator {name!r}: unknown mode {mode!r}")

        if module == "core.throttler":
            rps = int(params.get("rps", 1000))
            msgkey = params.get("msgkey")
            key = F.col("meta").getItem(msgkey) if msgkey else None
            if streaming:
                from flow_spark.streaming.stateful import throttle_stream

                return throttle_stream(df, rps=rps, key_col=msgkey)
            t = throttle_batch(df, rps=rps, key=key)
            throttled = t.filter(F.col("throttle_status") == "throttled")
            delivery.append(
                throttled.select(
                    "event_id", F.lit(name).alias("sink"), F.lit("throttled").alias("status")
                )
            )
            return t.filter(F.col("throttle_status") == "admitted").drop("throttle_status")

        if module == "core.buffer":
            # batch/streaming frames are replayable; retry happens at the
            # sink write (foreachBatch backoff) — pass through
            return df

        if module == "core.compressor":
            codec = params.get("compress", "gzip")
            return df.withColumn("body", compress(F.col("body"), codec))

        if module == "core.encoder_base64":
            return df.withColumn("body_str", encode_base64(F.col("body"))).withColumn(
                "body", F.col("body_str").cast("binary")
            )

        if module == "core.decoder_base64":
            return df.withColumn("body", decode_base64(F.col("body_str")))

        if module == "core.meta_parser":
            return parse_meta(df)

        if module == "core.sink":
            sink_frames[name] = df
            delivery.append(
                df.select(
                    "event_id", F.lit(name).alias("sink"), F.lit("done").alias("status")
                )
            )
            return None

        raise ConfigError(f"actor {name!r}: unknown module {module!r}")

    def _receiver(
        self,
        name: str,
        params: dict[str, Any],
        inputs: dict[str, DataFrame],
        streaming: bool,
    ) -> DataFrame:
        bind = params.get("bind", "")
        scheme, _, rest = bind.partition("://")
        if scheme in ("tcp", "udp", "unix", "http") and streaming:
            # live network ingest: start the asyncio bridge on the configured
            # port (receiver_tcp.go's accept loop re-homed outside Spark) and
            # stream its spool.  tcp, udp and unix share the \r\n-framed
            # record contract; http takes one message per POST, its query
            # parameters as meta (SURVEY §2.1 #2-5).
            import tempfile

            from flow_spark.sources.bridge import (
                HttpBridge,
                SocketBridge,
                UnixBridge,
                http_spool_stream,
                spool_stream,
            )

            spool = tempfile.mkdtemp(prefix=f"flow_spool_{name}_")
            if scheme == "unix":
                bridge = UnixBridge(
                    spool,
                    sock_path=rest or "/tmp/flow.sock",  # receiver_unix.go:13
                    flush_every=int(params.get("buf_size", 100)),
                    silent=bool(params.get("silent", False)),
                ).start()
            else:
                host, _, port = rest.rpartition(":")
                bridge = (HttpBridge if scheme == "http" else SocketBridge)(
                    spool,
                    host=host or "127.0.0.1",
                    port=int(port or 0),
                    flush_every=int(params.get("buf_size", 100)),
                    silent=bool(params.get("silent", False)),
                ).start()
            self._bridges.append(bridge)
            read = http_spool_stream if scheme == "http" else spool_stream
            return read(self.spark, bridge.spool_dir)
        if scheme == "memory":
            if rest not in inputs:
                raise ConfigError(f"receiver {name!r}: no input named {rest!r} provided")
            return inputs[rest]
        if scheme == "events":
            from flow_spark.catalog import load_table, stream_table

            read = stream_table if streaming else load_table
            return events_to_messages(read(self.spark, rest, "events"))
        if scheme == "parquet":
            from flow_spark.catalog import stream_parquet

            return stream_parquet(self.spark, rest) if streaming else self.spark.read.parquet(rest)
        if scheme == "rate" and streaming:
            rows = int(params.get("rows_per_second", 100))
            return (
                self.spark.readStream.format("rate")
                .option("rowsPerSecond", rows)
                .load()
                .select(
                    F.col("value").alias("event_id"),
                    F.col("timestamp").alias("ingest_ts"),
                    F.col("value").cast("string").cast("binary").alias("body"),
                    F.col("value").cast("string").alias("body_str"),
                    F.create_map(F.lit("sendto"), F.lit("default")).alias("meta"),
                )
            )
        raise ConfigError(
            f"receiver {name!r}: unsupported bind {bind!r} "
            f"(batch: memory://, events://, parquet://; streaming adds rate://)"
        )

    # -- streaming ----------------------------------------------------------

    def run_streaming(
        self,
        sink_writer: Callable[[str, DataFrame], Any] | None = None,
        inputs: dict[str, DataFrame] | None = None,
        checkpoint_dir: str | None = None,
    ) -> list:
        """Start one streaming query per sink; `sink_writer(name, df)` must
        return a started StreamingQuery (see flow_spark.streaming.sinks).
        With no writer, each sink dispatches on its own `bind` param —
        the sink-head-factory contract (sink_head_factory.go:17-46):
        tcp/udp/unix -> live socket head, file -> CRLF append head,
        anything else -> an in-memory table named after the sink."""
        result = self.run(inputs=inputs, streaming=True)
        if sink_writer is None:
            sink_writer = self.default_sink_writer(checkpoint_dir or ".ckpt")
        queries = []
        for sink_name, df in result.sinks.items():
            queries.append(sink_writer(sink_name, df))
        return queries

    def default_sink_writer(
        self, checkpoint_dir: str
    ) -> Callable[[str, DataFrame], Any]:
        """Bind-scheme dispatch for sink actors (sink_head_factory.go:17-46)."""
        from flow_spark.streaming import sinks as heads

        def writer(sink_name: str, df: DataFrame):
            params = self.cfg.actors[sink_name].get("params", {})
            bind = str(params.get("bind", ""))
            scheme, _, rest = bind.partition("://")
            retries = int(params.get("max_retries", 3))
            if scheme in ("tcp", "udp", "unix"):
                return heads.socket_sink(
                    sink_name, df, checkpoint_dir, bind, max_retries=retries
                )
            if scheme == "file":
                # STDOUT/STDERR special case (sink_head_file.go:11-19)
                path = {"STDOUT": "/dev/stdout", "STDERR": "/dev/stderr"}.get(
                    rest, rest
                )
                return heads.file_sink(
                    sink_name, df, checkpoint_dir, path, max_retries=retries
                )
            if scheme == "jsonl":
                # custom Python sink (DataSourceStreamWriter): batchId-keyed
                # files + manifests, idempotent under micro-batch replay
                from flow_spark.sources.python_datasource import register

                register(self.spark)
                return (
                    df.writeStream.format("jsonl_sink")
                    .outputMode("append")
                    .option("path", rest)
                    .option("checkpointLocation", f"{checkpoint_dir}/{sink_name}")
                    .start()
                )
            return (
                df.writeStream.outputMode("append")
                .format("memory")
                .queryName(sink_name)
                .option("checkpointLocation", f"{checkpoint_dir}/{sink_name}")
                .start()
            )

        return writer
