"""Workload ``stateful_drain``: registry stateful-stream drains, closed
loop, one drain at a time, over a seeded ``events`` table.

Each drain is the registry builder itself (readStream over the events
file -> a stateful operator, mostly ``applyInPandasWithState`` -> memory
sink, run with ``trigger(availableNow)``), executed into the ``noop``
sink.  Inputs: far more keys than the fixture's 1,500 users, Zipf-skewed,
with a share of out-of-order timestamps — the state store holds many
keys per bucket and the Python workers see large groups.
"""

from __future__ import annotations

import random
import time
from pathlib import Path

import harness
from checks import Failure, check_oracle, failed_ops

#: the registry's stateful-stream drains (tools/family_bench.py) that read
#: only the events table: GCRA (flow's throttler, append mode), time-
#: weighted average (update mode), sessionization (event-time timeouts),
#: stream-batch as-of enrichment, the funnel state machine and the exact
#: quantile histogram.  Left out: stream_heavy_hitters reads ``documents``
#: and stream_upsert_cdc / stream_cdc_deletes read ``customer`` and
#: ``orders``, which are written empty here; stream_stream_asof_join
#: would add ~15 s (oracle and timed drain) to a run of ~60 s.
DRAINS = (
    "stream_gcra_throttle",
    "stream_twa",
    "stream_sessionize_stateful",
    "stream_asof_enrich",
    "stream_funnel_cep",
    "stream_quantile_monitor",
)

N_EVENTS = 20_000
N_USERS = 20_000
#: mild skew: the hottest key holds ~70 events, as many as a fixture user,
#: which bounds the recursion depth of the GCRA oracle
ZIPF_S = 0.5
OUT_OF_ORDER = 0.1  # share of events whose ts is pulled back ...
OUT_OF_ORDER_MAX_S = 3600  # ... by up to an hour
SPAN_S = 30 * 86400  # events cover 30 days, like the fixture
EPOCH_2024_US = 1_704_067_200_000_000
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")

#: fixture schemas (FIXTURES.md) of the tables the drains do not read:
#: written empty so the oracle's DuckDB views over every table bind
EMPTY_TABLES = {
    "region": "r_regionkey INTEGER, r_name VARCHAR",
    "nation": "n_nationkey INTEGER, n_name VARCHAR, n_regionkey INTEGER",
    "customer": "c_custkey BIGINT, c_name VARCHAR, c_nationkey INTEGER, "
    "c_acctbal DOUBLE, c_mktsegment VARCHAR",
    "supplier": "s_suppkey BIGINT, s_name VARCHAR, s_nationkey INTEGER, s_acctbal DOUBLE",
    "part": "p_partkey BIGINT, p_name VARCHAR, p_brand VARCHAR, p_type VARCHAR, "
    "p_size INTEGER, p_retailprice DOUBLE",
    "orders": "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus VARCHAR, "
    "o_totalprice DOUBLE, o_orderdate TIMESTAMP_MS, o_orderpriority VARCHAR",
    "lineitem": "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, "
    "l_linenumber INTEGER, l_quantity DOUBLE, l_extendedprice DOUBLE, "
    "l_discount DOUBLE, l_tax DOUBLE, l_returnflag VARCHAR, l_linestatus VARCHAR, "
    "l_shipdate TIMESTAMP_MS",
    "documents": "doc_id BIGINT, text VARCHAR, lang VARCHAR, source VARCHAR, n_chars BIGINT",
    "embeddings": "vec_id BIGINT, embedding FLOAT[], label INTEGER",
}


def generate_events(sf_dir: Path, seed: int) -> int:
    """Write ``events.parquet`` (fixture schema, ts as timestamp[ns]) and
    empty placeholders for the other fixture tables; returns the event
    count.  Same seed, same bytes of input."""
    import duckdb
    import pyarrow as pa

    rng = random.Random(seed)
    weights = [1.0 / (k + 1) ** ZIPF_S for k in range(N_USERS)]
    ids = list(range(N_USERS))
    rng.shuffle(ids)  # hot keys land in arbitrary state buckets
    users = [ids[k] for k in rng.choices(range(N_USERS), weights=weights, k=N_EVENTS)]
    base = sorted(rng.randrange(SPAN_S * 1_000_000) for _ in range(N_EVENTS))
    ts_ns, etype, value, props = [], [], [], []
    for us in base:
        if rng.random() < OUT_OF_ORDER:
            us = max(0, us - rng.randrange(OUT_OF_ORDER_MAX_S * 1_000_000))
        ts_ns.append((EPOCH_2024_US + us) * 1000)
        etype.append(rng.choice(EVENT_TYPES))
        value.append(round(rng.gammavariate(2.0, 25.0), 2))
        props.append(f'{{"k": {rng.randrange(100)}}}')
    ev = pa.table(
        {
            "event_id": pa.array(range(N_EVENTS), pa.int64()),
            "ts": pa.array(ts_ns, pa.timestamp("ns")),
            "user_id": pa.array(users, pa.int64()),
            "event_type": etype,
            "value": pa.array(value, pa.float64()),
            "props": props,
        }
    )
    sf_dir.mkdir(parents=True, exist_ok=True)
    con = duckdb.connect()
    try:
        con.register("ev", ev)
        con.execute(f"COPY ev TO '{sf_dir / 'events.parquet'}' (FORMAT parquet)")
        for name, cols in EMPTY_TABLES.items():
            con.execute(f"CREATE TABLE {name} ({cols})")
            con.execute(f"COPY {name} TO '{sf_dir / (name + '.parquet')}' (FORMAT parquet)")
    finally:
        con.close()
    return N_EVENTS


def _warm_python(spark) -> None:
    """Boot the Python workers with a tiny grouped pandas job."""
    df = spark.range(0, 64, 1, 4).selectExpr("id % 4 AS k", "id")
    df.groupBy("k").applyInPandas(lambda p: p, "k long, id long").collect()


def _drain(spark, queries, name: str, sf_dir: Path) -> None:
    queries[name].builder(spark, str(sf_dir)).write.format("noop").mode("overwrite").save()


def run(ctx) -> dict:
    """Set up ``ctx.setups`` times, run every drain once untimed (through
    its oracle check when ``ctx.check``), then time rounds over all
    drains for ``ctx.seconds``, at least one round."""
    from flow_spark.oracle import check_query
    from flow_spark.queries.registry import all_queries
    from flow_spark.session import release_cached_blocks

    tracer = ctx.tracer
    sf_dir = ctx.work / "sf"
    queries = all_queries()
    setup_s, session_s, gen_s, warm_s = [], [], [], []
    spark = None
    for i in range(ctx.setups):
        t0 = time.perf_counter()
        with tracer.span("session_start", "session"):
            if spark is not None:
                spark.stop()
            spark = harness.start_session(
                ctx.work, "perfbench-drain",
                ctx.event_log if i == ctx.setups - 1 else None,
            )
        t1 = time.perf_counter()
        with tracer.span("generate_events", "datagen"):
            n_events = generate_events(sf_dir, ctx.seed)
        t2 = time.perf_counter()
        with tracer.span("warmup", "session"):
            _warm_python(spark)
        t3 = time.perf_counter()
        setup_s.append(t3 - t0)
        session_s.append(t1 - t0)
        gen_s.append(t2 - t1)
        warm_s.append(t3 - t2)

    # every drain runs once before it is timed: the first run of a drain
    # in a session is ~20% slow (JIT, Python worker start-up)
    fails: list[Failure] = []
    check_s = 0.0
    for name in DRAINS:
        t0 = time.perf_counter()
        if ctx.check:
            with tracer.span(name, "oracle"):
                res = check_query(spark, queries[name], str(sf_dir))
            fails += check_oracle(res, queries[name])
        else:
            with tracer.span(name, "warmup"):
                _drain(spark, queries, name, sf_dir)
        check_s += time.perf_counter() - t0
        release_cached_blocks(spark)

    times: dict[str, list[float]] = {n: [] for n in DRAINS}
    windows: dict[str, tuple[int, int]] = {}
    deadline = time.perf_counter() + ctx.seconds
    k = 0
    while k < len(DRAINS) or time.perf_counter() < deadline:
        name = DRAINS[k % len(DRAINS)]
        k += 1
        spark.sparkContext.setJobGroup(name, f"perfbench {name}")
        w0 = time.time_ns() // 1_000_000
        t0 = time.perf_counter()
        try:
            with tracer.span(name, "queries"):
                _drain(spark, queries, name, sf_dir)
        except Exception as e:  # noqa: BLE001 — a failed drain is counted, not fatal
            fails.append(Failure(f"{type(e).__name__}: {e}"[:300], (f"{name}#{k}",)))
            continue
        finally:
            spark.sparkContext.setJobGroup("", "")
        times[name].append(time.perf_counter() - t0)
        windows[f"{name}#{k}"] = (w0, time.time_ns() // 1_000_000 + 1)
        release_cached_blocks(spark)

    per_drain = {n: harness.median(v) for n, v in times.items() if v}
    total = sum(per_drain.values())
    e2e = {
        "setup_s": harness.median(setup_s),
        "result_latency_ms": harness.geomean(list(per_drain.values())) * 1e3,
        "tail_latency_ms": max(per_drain.values()) * 1e3,
        "records_per_s": n_events * len(per_drain) / total,
    }
    detail = {
        "drain_events_per_s": e2e["records_per_s"],
        "drain_median_s": per_drain,
        "drain_runs": {n: len(v) for n, v in times.items()},
        "input_events": n_events,
        "users": N_USERS,
        "setup_runs_s": setup_s,
    }
    layers = {
        "session_start_s": harness.median(session_s),
        "warmup_s": harness.median(warm_s),
        "input_gen_s": harness.median(gen_s),
        "check_s": check_s if ctx.check else 0.0,
    }
    return {
        "spark": spark,
        "e2e": e2e,
        "detail": detail,
        "layers": layers,
        "windows": windows,
        "ops_wall_s": {w: (t - s) / 1e3 for w, (s, t) in windows.items()},
        "attempted": k + (len(DRAINS) if ctx.check else 0),  # timed drains, oracle checks
        "failed": failed_ops(fails),
        "fails": fails,
    }
