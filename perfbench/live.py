"""Workload ``live_ingest``: flow's own job, live.

A separate generator process (loadgen.py) sends ``\\r\\n``-framed records
over TCP into a YAML pipeline::

    tcp receiver -> core.meta_parser -> core.router -+-> core.throttler(msgkey=user) -> limited
                                                     +-> direct

run by ``Pipeline.run_streaming`` with a sink writer owned by the
benchmark: the default (as-fast-as-possible) trigger and a foreachBatch
that calls ``write_with_backoff`` and stamps when each row is seen.
Phase 1 is an open loop at RATE msgs/s (below capacity); phase 2 is a
closed loop with WINDOW messages in flight per connection.
"""

from __future__ import annotations

import bisect
import json
import math
import socket
import subprocess
import sys
import threading
import time
from pathlib import Path
from urllib.parse import parse_qsl

import harness
from checks import (
    Failure, check_acks, check_backlog, check_delivery, check_throttle, failed_ops,
)
from loadgen import ROUTES, run_load

#: phase-1 offered load, msgs/s: about half the phase-2 capacity measured
#: on 4 cores (median ~495 msgs/s), so queueing does not amplify host noise
RATE = 250
PHASE1_SHARE = 0.8  # of --seconds; phase 2 sends its bursts after it
BURSTS, BURST_MSGS = 3, 1_500  # phase 2: closed-loop bursts, each drained
WINDOW = 64  # phase-2 in-flight messages per connection
BUF = 20  # bridge spool flush size (records per spool file)
RPS = 20  # throttler rate per user
WARM_MSGS_RATE, WARM_S = 200, 0.5

PIPELINE = """
actors:
  rcv:
    module: core.receiver.tcp
    params:
      bind: 127.0.0.1:{port}
      buf_size: {buf}
  meta:
    module: core.meta_parser
  rtr:
    module: core.router
  limit:
    module: core.throttler
    params:
      rps: {rps}
      msgkey: user
  limited:
    module: core.sink
  direct:
    module: core.sink
pipeline:
  rcv:
    connect: [meta]
  meta:
    connect: [rtr]
  rtr:
    connect: [limit, direct]
  limit:
    connect: [limited]
  limited:
  direct:
"""


def conns() -> int:
    return min(4, harness.nproc())


def free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class SinkWriter:
    """``sink_writer`` for ``Pipeline.run_streaming``: one foreachBatch
    query per sink, default trigger, rows collected through
    ``write_with_backoff`` and stamped when seen."""

    def __init__(self, ckpt: Path) -> None:
        self.ckpt = ckpt
        self.lock = threading.Lock()
        self.rows: dict[str, list[tuple]] = {s: [] for s in ROUTES.values()}
        self.batches: list[dict] = []

    def delivered(self) -> int:
        with self.lock:
            return sum(len(v) for v in self.rows.values())

    def __call__(self, sink: str, df):
        from flow_spark.streaming.sinks import write_with_backoff

        cols = ["event_id"]
        if "throttle_status" in df.columns:
            cols += ["throttle_key", "ts_ns", "throttle_status"]
        got: list = []

        def write(batch) -> None:
            got[:] = batch.select(*cols).collect()

        def handle(batch, epoch_id: int) -> None:
            t0 = time.time_ns()
            attempts = write_with_backoff(write, batch, max_retries=3)
            seen = time.time_ns()
            with self.lock:
                self.rows[sink].extend((*tuple(r), seen) for r in got)
                self.batches.append(
                    {"sink": sink, "epoch": epoch_id, "rows": len(got),
                     "write_ms": (seen - t0) / 1e6, "attempts": attempts}
                )

        return (
            df.writeStream.foreachBatch(handle)
            .queryName(sink)
            .option("checkpointLocation", str(self.ckpt / sink))
            .start()
        )


def _wait_for(cond, timeout: float) -> bool:
    end = time.monotonic() + timeout
    while time.monotonic() < end:
        if cond():
            return True
        time.sleep(0.02)
    return cond()


def _spool_dirs(tmp: Path) -> set[Path]:
    return set(tmp.glob("flow_spool_rcv_*"))


def read_spool(spool: Path) -> dict[int, dict]:
    """bridge seq -> message fields and the spool file's publish time,
    from the spool's ``<time_ns>_<id>.txt`` files of ``<seq>\\t<body>``."""
    out: dict[int, dict] = {}
    for f in spool.glob("[0-9]*.txt"):
        published = int(f.name.split("_", 1)[0])
        for line in f.read_text().splitlines():
            seq, _, body = line.partition("\t")
            head = dict(parse_qsl(body.split(" ", 1)[0]))
            out[int(seq)] = {
                "id": int(head["id"]),
                "ts": int(head["ts"]),
                "sendto": head["sendto"],
                "published": published,
            }
    return out


def _slope(points: list[tuple[float, float]]) -> float:
    n = len(points)
    mx = sum(x for x, _ in points) / n
    my = sum(y for _, y in points) / n
    den = sum((x - mx) ** 2 for x, _ in points)
    return sum((x - mx) * (y - my) for x, y in points) / den if den else 0.0


class _Setup:
    """A started session and pipeline, and the warm-up load it delivered."""

    def __init__(self, spark, pipe, queries, port, writer, spool, warm):
        self.spark, self.pipe, self.queries = spark, pipe, queries
        self.port, self.writer, self.spool, self.warm = port, writer, spool, warm

    def stop(self) -> None:
        for q in self.queries:
            q.stop()
        self.pipe.stop()


def _setup(ctx, k: int, event_log, tracer, timings: dict) -> _Setup:
    from flow_spark.plans.builder import Pipeline

    t0 = time.perf_counter()
    with tracer.span("session_start", "session"):
        spark = harness.start_session(ctx.work, "perfbench-live", event_log)
    t1 = time.perf_counter()
    tmp = ctx.work / "tmp"
    before = _spool_dirs(tmp)
    writer = SinkWriter(ctx.work / f"ckpt-{time.time_ns()}")
    port = free_port()
    with tracer.span("pipeline_start", "plans"):
        pipe = Pipeline.from_yaml(spark, PIPELINE.format(port=port, buf=BUF, rps=RPS))
        queries = pipe.run_streaming(sink_writer=writer)
    t2 = time.perf_counter()
    (spool,) = _spool_dirs(tmp) - before
    with tracer.span("warmup", "session"):
        warm = run_load(port, 1, ctx.seed, WARM_MSGS_RATE, WARM_S, id_base=10_000_000 * (k + 1))
        n_warm = len(warm["msgs"])
        if n_warm % BUF:
            raise RuntimeError("warm-up must fill whole spool files")
        if not _wait_for(lambda: writer.delivered() >= n_warm, 120):
            raise RuntimeError("warm-up messages were not delivered within 120 s")
    t3 = time.perf_counter()
    timings.setdefault("setup_s", []).append(t3 - t0)
    timings.setdefault("session_start_s", []).append(t1 - t0)
    timings.setdefault("pipeline_start_s", []).append(t2 - t1)
    timings.setdefault("warmup_s", []).append(t3 - t2)
    return _Setup(spark, pipe, queries, port, writer, spool, warm)


def run(ctx) -> dict:
    tracer = ctx.tracer
    timings: dict[str, list[float]] = {}
    cur = None
    for k in range(ctx.setups):
        if cur is not None:
            cur.stop()
            cur.spark.stop()
        cur = _setup(ctx, k, ctx.event_log if k == ctx.setups - 1 else None, tracer, timings)

    def generate(tag: str, id_base: int, *phase_args: str) -> dict:
        out = ctx.work / f"load-{tag}.json"
        cmd = [
            sys.executable, str(Path(__file__).with_name("loadgen.py")),
            "--port", str(cur.port), "--conns", str(conns()), "--seed", str(ctx.seed),
            "--id-base", str(id_base), "--out", str(out), *phase_args,
        ]
        with tracer.span(f"load_{tag}", "bridge"):
            proc = subprocess.Popen(cmd)
            try:
                rc = proc.wait(timeout=ctx.seconds + 60)
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        if rc != 0:
            raise RuntimeError(f"load generator exited with {rc}")
        return json.loads(out.read_text())

    def settle(n_msgs: int, what: str) -> None:
        with tracer.span(f"drain_{what}", "streaming"):
            if not _wait_for(lambda: cur.writer.delivered() >= n_msgs, 60):
                fails.append(Failure("backlog not delivered within 60 s", (what,)))

    fails: list[Failure] = []
    n_warm = len(cur.warm["msgs"])
    # phase 1 fills whole spool files, so every message is published
    # without waiting on phase 2
    phase1_s = BUF * round(RATE * ctx.seconds * PHASE1_SHARE / BUF) / RATE
    w0 = time.time_ns() // 1_000_000
    load1 = generate("open", 0, "--rate", str(RATE), "--phase1-s", str(phase1_s))
    settle(n_warm + len(load1["msgs"]), "phase1")
    msgs = cur.warm["msgs"] + load1["msgs"]
    bursts = []
    for b in range(BURSTS):
        bursts.append(
            generate(
                f"closed{b}", 1_000_000 * (b + 1), "--rate", "0", "--phase1-s", "0",
                "--phase2-msgs", str(BURST_MSGS), "--phase2-s", str(ctx.seconds),
                "--window", str(WINDOW),
            )
        )
        msgs += bursts[-1]["msgs"]
        if b == BURSTS - 1:
            cur.pipe.stop()  # publishes the bridge's last partial spool file
        settle(sum(1 for m in msgs if m[7] == "OK"), f"burst{b}")
    w1 = time.time_ns() // 1_000_000 + 1
    progress = [
        p if isinstance(p, dict) else json.loads(p.json)
        for q in cur.queries
        for p in q.recentProgress
    ]
    for q in cur.queries:
        q.stop()

    t_check = time.perf_counter()
    spool = read_spool(cur.spool)
    fails += check_acks({m[0]: m[7] for m in msgs})
    delivered, seen_ns, unknown = [], {}, []
    for sink, rows in cur.writer.rows.items():
        for r in rows:
            rec = spool.get(r[0])
            if rec is None:
                unknown.append(f"seq {r[0]}")
                continue
            delivered.append((rec["id"], sink))
            seen_ns[rec["id"]] = r[-1]
    if unknown:
        fails.append(Failure("sink rows without a spooled record", tuple(unknown)))
    acked = {m[0]: ROUTES[m[2]] for m in msgs if m[7] == "OK"}
    fails += check_delivery(acked, delivered)
    fails += [  # verdicts name bridge seqs; count them as message ids
        Failure(f.what, tuple(spool[e]["id"] if e in spool else e for e in f.ops))
        for f in check_throttle([r[:4] for r in cur.writer.rows["limited"]], RPS)
    ]
    check_s = time.perf_counter() - t_check

    published = {rec["id"]: rec["published"] for rec in spool.values()}
    n_files = len(set(published.values()))
    p1 = load1["msgs"]
    inf = float("inf")
    deliver = [(seen_ns[m[0]] - m[4]) / 1e6 if m[0] in seen_ns else inf for m in p1]
    ack = [(m[6] - m[4]) / 1e6 if m[7] == "OK" else inf for m in p1]
    spool_wait = [(published[m[0]] - m[4]) / 1e6 for m in p1 if m[0] in published]
    engine = [
        (seen_ns[m[0]] - published[m[0]]) / 1e6
        for m in p1 if m[0] in seen_ns and m[0] in published
    ]
    late = [(m[5] - m[4]) / 1e6 for m in p1]
    # capacity of each burst: its messages over send start -> last seen
    capacities = []
    for burst in bursts:
        seen = [seen_ns[m[0]] for m in burst["msgs"] if m[0] in seen_ns]
        span_s = (max(seen) - burst["phase2_start_ns"]) / 1e9 if seen else math.inf
        capacities.append(len(seen) / span_s)
    capacity = harness.median(capacities)
    # backlog over phase 1 (acked - delivered) after a 20% lead-in, taken
    # as each sink batch lands: the troughs of its sawtooth, which grow
    # only when batches fall behind
    t_a = load1["phase1_start_ns"] + (load1["phase2_start_ns"] - load1["phase1_start_ns"]) // 5
    t_b = load1["phase2_start_ns"]
    acks = sorted(m[6] for m in p1 if m[6] is not None)
    seens = sorted(seen_ns[m[0]] for m in p1 if m[0] in seen_ns)
    pts = [
        ((t - t_a) / 1e9, bisect.bisect_right(acks, t) - bisect.bisect_right(seens, t))
        for t in sorted(set(seens)) if t_a <= t <= t_b
    ]
    slope = _slope(pts) if len(pts) > 1 else 0.0
    fails += check_backlog(slope, RATE)

    d = harness.latency_summary(deliver)
    a = harness.latency_summary(ack)
    sw = harness.latency_summary(spool_wait)
    en = harness.latency_summary(engine)
    batches = cur.writer.batches
    e2e = {
        "setup_s": harness.median(timings["setup_s"]),
        "result_latency_ms": d["p50"],
        "tail_latency_ms": d["p99"],
        "records_per_s": capacity,
    }
    detail = {
        "ack_p50_ms": a["p50"], "ack_p99_ms": a["p99"], "ack_n": a["n"],
        "deliver_p50_ms": d["p50"], "deliver_p99_ms": d["p99"], "deliver_n": d["n"],
        "deliver_p99_supported": d["supported"],
        "deliver_highest_supported_percentile": d["highest_supported"],
        "capacity_msgs_per_s": capacity, "burst_capacity_msgs_per_s": capacities,
        "offered_rate_msgs_per_s": RATE, "backlog_slope_msgs_per_s": slope,
        "phase1_msgs": len(p1),
        "phase2_msgs": sum(len(b["msgs"]) for b in bursts),
        "connections": conns(), "window": WINDOW,
        "setup_runs_s": timings["setup_s"],
    }
    layers = {
        "session_start_s": harness.median(timings["session_start_s"]),
        "warmup_s": harness.median(timings["warmup_s"]),
        "pipeline_start_s": harness.median(timings["pipeline_start_s"]),
        "spool_wait_ms_p50": sw["p50"], "spool_wait_ms_p99": sw["p99"],
        "engine_ms_p50": en["p50"], "engine_ms_p99": en["p99"],
        "spool_files": n_files,
        "records_per_spool_file": len(spool) / max(1, n_files),
        "backlog_slope_msgs_per_s": slope,
        "gen_late_ms_p99": harness.percentile(late, 99),
        "sink_write_ms_p50": harness.median([b["write_ms"] for b in batches]),
        "sink_attempts_per_batch": sum(b["attempts"] for b in batches) / len(batches),
        "check_s": check_s,
    }
    return {
        "spark": cur.spark,
        "e2e": e2e,
        "detail": detail,
        "layers": layers,
        "windows": {"live": (w0, w1)},
        "ops_wall_s": {"live": (w1 - w0) / 1e3},
        "progress": progress,
        "attempted": len(msgs),
        "failed": failed_ops(fails),
        "fails": fails,
    }
