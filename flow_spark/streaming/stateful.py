"""Stateful streaming operators over ``applyInPandasWithState``: the GCRA
throttler, sessionization, funnel CEP, Misra-Gries heavy hitters, the
time-weighted average, the exact quantile monitor and the stream-stream
as-of join.

GCRA follows flow's throttler (``pkg/corev1alpha1/actor/throttler.go``
126-147): admission via CAS on the theoretical-arrival-time (TAT), per
message cost = 1e9/rps ns, burst capacity = 1e9 - cost ns; a message is
admitted iff TAT hasn't run more than the burst ahead of now, and admission
advances TAT by the cost.  "Now" is EVENT time (deterministic, replay-safe)
rather than the reference's wall clock, so the admission rate is identical
in steady state and testable.  Keys partition the state: the global bucket
(``''`` key) serializes through one state partition (SURVEY.md §7).

State codec.  Every operator here keeps its group's state in the one
Spark state schema ``STATE_SCHEMA``: a single ``BinaryType`` column holding
one Arrow IPC stream with one record batch.  Each operator declares that
batch's ``pyarrow`` schema beside itself (``GCRA_STATE``, ``ASOF_STATE``,
...), and ``pack_state``/``unpack_state`` write and read it.  A bucketed
operator's batch has one row per key: row i of every column belongs to the
key in row i of the first column, which ``load_keyed``/``save_keyed`` turn
into a ``key -> [other columns]`` dict and back.  The codec is Arrow, never
pickle, because state is read back from checkpoints and unpickling runs
code; an int outside int64 raises instead of wrapping.

Why binary: the state serializer Spark generates for an array-valued state
struct names its fields after global ``MapObjects`` lambda ids, so its code
text (the codegen cache key) differed for every query and every drain
recompiled it with Janino.  The binary column's serializer is the same code
in every query, so it compiles once per JVM.

The state FORMAT changed with this codec: a checkpoint written with the
earlier array-valued state structs is rejected by Spark's state schema
compatibility check on restart (``STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE``).
Restart such a query from a fresh checkpoint.
"""

from __future__ import annotations

import itertools
from collections.abc import Iterator, Sequence
from typing import Any

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from flow_spark.session import _env_int

_NS = 1_000_000_000

#: the Spark state schema of every operator in this module: one Arrow IPC
#: stream (one record batch, the operator's declared Arrow schema)
STATE_SCHEMA = StructType([StructField("batch", BinaryType())])


def _to_arrow(values: Sequence, typ: pa.DataType) -> pa.Array:
    if pa.types.is_list(typ):
        offsets = np.zeros(len(values) + 1, dtype=np.int32)
        np.cumsum([len(v) for v in values], out=offsets[1:])
        flat = list(itertools.chain.from_iterable(values))
        return pa.ListArray.from_arrays(pa.array(offsets), _to_arrow(flat, typ.value_type))
    if typ == pa.int64():
        # numpy converts a Python int list far faster than pa.array, and
        # raises OverflowError for an int outside int64
        return pa.array(np.array(values, dtype=np.int64))
    return pa.array(values, type=typ)


def _to_python(arr: pa.Array) -> list:
    if pa.types.is_list(arr.type):
        flat = _to_python(arr.values)
        offsets = arr.offsets.to_numpy().tolist()
        return [flat[a:b] for a, b in zip(offsets, offsets[1:])]
    return arr.to_numpy(zero_copy_only=False).tolist()


def pack_state(schema: pa.Schema, columns: Sequence[Sequence]) -> bytes:
    """One Arrow IPC stream holding ``columns`` (Python lists, in
    ``schema``'s field order) as one record batch."""
    arrays = [_to_arrow(c, f.type) for c, f in zip(columns, schema, strict=True)]
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, schema) as writer:
        writer.write_batch(pa.record_batch(arrays, schema=schema))
    return sink.getvalue().to_pybytes()


def unpack_state(schema: pa.Schema, blob: bytes) -> list[list]:
    """The columns of a ``pack_state`` stream as Python lists; raises
    ``ValueError`` when it was written with another schema."""
    with pa.ipc.open_stream(blob) as reader:
        if not reader.schema.equals(schema):
            raise ValueError(f"state written as {reader.schema}, expected {schema}")
        batch = reader.read_next_batch()
    return [_to_python(c) for c in batch.columns]


def load_state(state, schema: pa.Schema) -> list[list]:
    """The group's state columns; empty columns when it has no state."""
    if not state.exists:
        return [[] for _ in schema]
    return unpack_state(schema, state.get[0])


def save_state(state, schema: pa.Schema, columns: Sequence[Sequence]) -> None:
    state.update((pack_state(schema, columns),))


def load_keyed(state, schema: pa.Schema) -> dict[Any, list]:
    """The group's per-key sub-states: first column -> [other columns]."""
    return {k: rest for k, *rest in zip(*load_state(state, schema))}


def save_keyed(state, schema: pa.Schema, sub: dict[Any, Sequence]) -> None:
    """Store ``sub`` (the ``load_keyed`` shape) as the group's state."""
    rows = list(sub.values())
    save_state(state, schema, [list(sub), *([r[i] for r in rows] for i in range(len(schema) - 1))])


OUTPUT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("throttle_key", StringType()),
        StructField("ts_ns", LongType()),
        StructField("throttle_status", StringType()),
    ]
)

#: per-key TATs of a key bucket — see ``asof_join_stream`` for why
#: stateful operators group on a key BUCKET
GCRA_STATE = pa.schema([("keys", pa.string()), ("tat_ns", pa.int64())])


def gcra_admit(
    ts_ns: list[int], tat_ns: int, rps: int
) -> tuple[list[bool], int]:
    """Pure GCRA over a sorted timestamp sequence; returns (admits, tat)."""
    cost = _NS // rps
    burst = _NS - cost  # throttler.go:36-38
    out = []
    for t in ts_ns:
        if tat_ns <= t + burst:
            out.append(True)
            tat_ns = max(tat_ns, t) + cost
        else:
            out.append(False)
    return out, tat_ns


def throttle_stream(
    df: DataFrame,
    rps: int,
    key_col: str | None = None,
    ts_col: str = "ingest_ts",
    n_buckets: int | None = None,
) -> DataFrame:
    """Streaming throttler: emits (event_id, throttle_key, ts_ns, status).

    Must be applied to a streaming DataFrame with event_id/meta/ts columns;
    joins back on event_id to recover full rows if needed.

    The stateful operator groups on ``pmod(xxhash64(key), n_buckets)``,
    not on the key itself (r08, guide §4 — same rationale and measured
    basis as ``asof_join_stream``): applyInPandasWithState pays a fixed
    JVM->Python group round trip per group per batch, so per-key
    grouping scales the drain with key count (1500 keys at sf0.1);
    bucketing caps it at ``n_buckets`` calls per batch.  The bucket's
    rows are sorted by (key, ts, id) — each key's subsequence keeps
    event-time order, so GCRA admissions are unchanged row for row.
    Env knob ``SPARK_GRAFT_GCRA_BUCKETS`` (default 32).
    """
    if n_buckets is None:
        n_buckets = _env_int("SPARK_GRAFT_GCRA_BUCKETS", 32, 1)
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    key_expr = (
        F.coalesce(F.col("meta").getItem(key_col), F.lit("")) if key_col else F.lit("")
    )
    prepared = df.select(
        "event_id",
        key_expr.alias("throttle_key"),
        (F.unix_micros(F.col(ts_col)) * 1000).alias("ts_ns"),
    ).withColumn(
        "bkey", F.pmod(F.xxhash64(F.col("throttle_key")), F.lit(n_buckets))
    )

    def fn(key: Any, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        # per-key TATs of this bucket
        sub = dict(zip(*load_state(state, GCRA_STATE)))
        # buffer the whole group before sorting: a >maxRecordsPerBatch group
        # arrives as SEVERAL Arrow chunks in shuffle order, and GCRA is
        # order-sensitive — per-chunk sorting with cross-chunk TAT carry
        # would admit by chunk-local order, not event time.  Sorting by
        # key FIRST groups each key's rows contiguously while keeping
        # their (ts, id) order, so one pass over the frame runs GCRA per
        # key run.
        pdf = pd.concat(list(pdfs)).sort_values(["throttle_key", "ts_ns", "event_id"])
        tks = pdf["throttle_key"].tolist()
        tss = pdf["ts_ns"].tolist()
        admits: list[bool] = []
        i, n = 0, len(tks)
        while i < n:
            k = tks[i]
            j = i
            while j < n and tks[j] == k:
                j += 1
            adm, tat = gcra_admit(tss[i:j], sub.get(k, 0), rps)
            admits.extend(adm)
            sub[k] = tat
            i = j
        pdf = pdf.assign(
            throttle_status=["admitted" if a else "throttled" for a in admits]
        )
        yield pdf[["event_id", "throttle_key", "ts_ns", "throttle_status"]]
        save_state(state, GCRA_STATE, [list(sub), list(sub.values())])

    return prepared.groupBy("bkey").applyInPandasWithState(
        fn,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


# --- event-time-timeout sessionization --------------------------------------

SESSION_OUTPUT_SCHEMA = StructType(
    [
        StructField("skey", LongType()),
        StructField("start_us", LongType()),
        StructField("end_us", LongType()),
        StructField("n", LongType()),
        StructField("total", LongType()),
    ]
)

#: per-key open sessions of a key bucket
SESSION_STATE = pa.schema(
    [(c, pa.int64()) for c in ("keys", "start_us", "last_us", "n", "total")]
)


def sessionize_stream(
    df: DataFrame,
    gap_minutes: int,
    key_col: str,
    ts_col: str,
    val_col: str,
    n_buckets: int | None = None,
) -> DataFrame:
    """Custom stateful sessionization with EVENT-TIME TIMEOUT state expiry —
    the applyInPandasWithState surface F.session_window can't reach: the
    operator owns when a session closes (watermark passes last_event +
    gap), so it can emit arbitrary per-session summaries and drop state
    deterministically on replay.  Complements stream_session_window (the
    built-in) the way the GCRA throttler complements window ranking.

    Emits one row per CLOSED session (skey, start_us, end_us, n, total);
    in-batch gaps close sessions inline, cross-batch gaps close via
    ``state.hasTimedOut`` when the watermark crosses last_us + gap.  All
    arithmetic is integer microseconds — replay-deterministic.  At scale
    state is per-key in the state store, one shuffle on the key, and the
    watermark bounds state size exactly as the built-in operator's.

    The stateful operator groups on ``pmod(key, n_buckets)``, not on the
    key itself (r08, guide §4 — same rationale and measured basis as
    ``asof_join_stream``): applyInPandasWithState pays a fixed
    JVM->Python group round trip per group per batch, so per-key
    grouping scales the drain with key count; bucketing caps it at
    ``n_buckets`` calls per batch (and state-store rows at n_buckets)
    while the per-key sessions move inside the fn.  The closed-session
    SET is unchanged: every call sweeps the bucket with the per-key
    timer rule itself (close iff watermark ms STRICTLY exceeds
    last_ms + gap_ms), so a session closes in the first batch whose
    watermark passes its deadline — exactly when its own per-key timer
    would have fired — and the bucket timeout re-arms at the bucket's
    min deadline (never later than any member key's own arm point).
    Env knob ``SPARK_GRAFT_SESSION_BUCKETS`` (default 32).

    One-ms re-arm edge: the API takes a timeout strictly above the current
    watermark, so a bucket call at a watermark EQUAL to a kept key's
    deadline D (which does not close it: closing needs wm > D) re-arms at
    D + 1, where the key's own per-key timer, armed at D earlier, fires
    once wm > D.  The bucket's timer then fires only once wm > D + 1.  A
    stream whose watermark ends exactly at D + 1 with no later call for
    that bucket therefore never emits the session, where per-key grouping
    would.  Any later call for the bucket (its data or another key's
    timeout) sweeps and closes it as usual.

    Input must already carry ``withWatermark(ts_col, ...)``.
    """
    if n_buckets is None:
        n_buckets = _env_int("SPARK_GRAFT_SESSION_BUCKETS", 32, 1)
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    gap_us = gap_minutes * 60 * 1_000_000
    gap_ms = gap_minutes * 60 * 1000

    prepared = df.select(
        F.col(key_col).cast("long").alias("skey"),
        F.col(ts_col).alias("ts"),
        F.unix_micros(F.col(ts_col)).alias("ts_us"),
        F.col(val_col).cast("long").alias("v"),
    ).withColumn("bkey", F.pmod(F.col("skey"), F.lit(n_buckets)))

    def fn(key: Any, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        wm_ms = state.getCurrentWatermarkMs()
        # per-key open sessions of this bucket:
        # skey -> [start_us, last_us, n, total]
        sub: dict[int, list[int]] = load_keyed(state, SESSION_STATE)
        closed: list[tuple[int, int, int, int, int]] = []
        if not state.hasTimedOut:
            # key-major sort keeps each key's rows in event-time order
            # (the per-key semantics) while one pass walks key runs
            pdf = pd.concat(list(pdfs)).sort_values(["skey", "ts_us"])
            for skey, ts_us, v in zip(
                pdf["skey"].tolist(), pdf["ts_us"].tolist(), pdf["v"].tolist()
            ):
                cur = sub.get(skey)
                if cur is not None and ts_us - cur[1] > gap_us:
                    closed.append((skey, cur[0], cur[1], cur[2], cur[3]))
                    cur = None
                if cur is None:
                    cur = sub[skey] = [ts_us, ts_us, 0, 0]
                cur[1] = ts_us
                cur[2] += 1
                cur[3] += v
        # sweep EVERY key in the bucket with the per-key timer rule:
        # a session closes iff the watermark ms strictly exceeds
        # last_ms + gap_ms — the exact condition under which its own
        # per-key EventTimeTimeout would have fired, so the closed set
        # (and each closed row) is identical to per-key grouping.  A
        # data row can never rescue a swept session: late rows older
        # than the watermark are filtered before the operator, so any
        # row for this key has ts >= wm > last + gap — an inline break.
        kept: dict[int, list[int]] = {}
        min_deadline = None
        for skey, cur in sub.items():
            deadline_ms = cur[1] // 1000 + gap_ms
            if wm_ms > deadline_ms:
                closed.append((skey, cur[0], cur[1], cur[2], cur[3]))
            else:
                kept[skey] = cur
                if min_deadline is None or deadline_ms < min_deadline:
                    min_deadline = deadline_ms
        if kept:
            save_keyed(state, SESSION_STATE, kept)
            # re-arm at the bucket's min deadline; the API needs a ts
            # strictly above the current watermark — a kept deadline can
            # EQUAL wm (close needs wm strictly greater), so clamp to
            # wm+1 (the one-ms edge in the docstring).
            state.setTimeoutTimestamp(max(wm_ms + 1, min_deadline))
        elif state.exists:
            state.remove()
        yield pd.DataFrame(
            closed, columns=["skey", "start_us", "end_us", "n", "total"]
        )

    return prepared.groupBy("bkey").applyInPandasWithState(
        fn,
        outputStructType=SESSION_OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf="EventTimeTimeout",
    )


FUNNEL_OUTPUT_SCHEMA = StructType(
    [
        StructField("fkey", LongType()),
        StructField("view_us", LongType()),
        StructField("click_us", LongType()),
        StructField("purchase_us", LongType()),
        StructField("purchase_id", LongType()),
    ]
)

#: per-key funnel progress of a key bucket
FUNNEL_STATE = pa.schema([(c, pa.int64()) for c in ("keys", "view_us", "click_us")])


def funnel_stream(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    type_col: str,
    id_col: str,
    n_buckets: int | None = None,
) -> DataFrame:
    """CEP-style ordered-pattern detection over a stream: the greedy
    view -> click -> purchase state machine per key, with partial
    progress carried ACROSS micro-batches in the state store — the
    MATCH_RECOGNIZE shape Spark has no built-in for.

    Semantics (deterministic given (ts, id) order): the FIRST view arms
    the funnel, the first click after an armed view advances it, a
    purchase after a click EMITS (key, view_us, click_us, purchase_us,
    purchase_id) and resets; events that don't advance the pattern are
    ignored.  State is exactly two longs per key — O(keys) total, no
    timeout needed (contrast sessionize_stream, whose correctness
    depends on event-time expiry).  One shuffle on the key; the same
    recurrence replays as a recursive CTE, so the registry entry is
    VALUE-checked, and multi-batch == single-batch equivalence is
    runtime-tested.

    The stateful operator groups on ``pmod(key, n_buckets)``, not on
    the key itself (r08, guide §4 — same rationale and measured basis
    as ``asof_join_stream``): applyInPandasWithState pays a fixed
    JVM->Python group round trip per group per batch, so per-key
    grouping scales the drain with key count; bucketing caps it at
    ``n_buckets`` calls per batch (and state-store rows at n_buckets).
    The bucket's rows are sorted by (key, ts, id) — each key's
    subsequence keeps (ts, id) order, so the state machine's emissions
    are unchanged row for row; keys whose funnel is fully reset
    ((-1, -1)) are dropped from state, since an absent key IS the reset
    state.  Env knob ``SPARK_GRAFT_CEP_BUCKETS`` (default 32).
    """
    if n_buckets is None:
        n_buckets = _env_int("SPARK_GRAFT_CEP_BUCKETS", 32, 1)
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    prepared = df.select(
        F.col(key_col).cast("long").alias("fkey"),
        F.unix_micros(F.col(ts_col)).alias("ts_us"),
        F.col(type_col).alias("etype"),
        F.col(id_col).cast("long").alias("eid"),
    ).withColumn("bkey", F.pmod(F.col("fkey"), F.lit(n_buckets)))

    def fn(key: Any, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        # per-key funnel progress of this bucket: fkey -> [view, click]
        sub = load_keyed(state, FUNNEL_STATE)
        out: list[tuple[int, int, int, int, int]] = []
        # key-major sort keeps each key's rows in (ts, id) order — the
        # per-key state-machine order — while one pass walks key runs
        pdf = pd.concat(list(pdfs)).sort_values(["fkey", "ts_us", "eid"])
        for fkey, ts_us, etype, eid in zip(
            pdf["fkey"].tolist(),
            pdf["ts_us"].tolist(),
            pdf["etype"].tolist(),
            pdf["eid"].tolist(),
        ):
            s = sub.get(fkey)
            if s is None:
                s = sub[fkey] = [-1, -1]
            if etype == "view":
                if s[0] < 0:
                    s[0] = ts_us
            elif etype == "click":
                if s[0] >= 0 and s[1] < 0:
                    s[1] = ts_us
            elif etype == "purchase":
                if s[1] >= 0:
                    out.append((fkey, s[0], s[1], ts_us, eid))
                    s[0] = -1
                    s[1] = -1
        kept = {k: s for k, s in sub.items() if s[0] >= 0 or s[1] >= 0}
        if kept:
            save_keyed(state, FUNNEL_STATE, kept)
        elif state.exists:
            state.remove()
        yield pd.DataFrame(
            out,
            columns=["fkey", "view_us", "click_us", "purchase_us", "purchase_id"],
        )

    return prepared.groupBy("bkey").applyInPandasWithState(
        fn,
        outputStructType=FUNNEL_OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


MG_OUTPUT_SCHEMA = StructType(
    [
        StructField("shard", LongType()),
        StructField("seq", LongType()),
        StructField("item", StringType()),
        StructField("mg_count", LongType()),
    ]
)

#: one row per shard: the emission counter and the (item, count) summary
MG_STATE = pa.schema(
    [("seq", pa.int64()), ("items", pa.list_(pa.string())), ("counts", pa.list_(pa.int64()))]
)


def heavy_hitters_stream(
    df: DataFrame,
    item_col: str = "item",
    n_shards: int = 4,
    capacity: int = 64,
) -> DataFrame:
    """Streaming Misra-Gries heavy hitters: a capacity-bounded summary
    per hash shard, maintained ACROSS micro-batches in the state store.

    Items route to ``portable_hash % n_shards`` shards, so every
    occurrence of an item meets the SAME summary and the classic
    guarantee holds per shard under ANY micro-batch split: the batched
    decrement (add a batch's counts, subtract the (capacity+1)-th
    largest, drop non-positives) under-counts any item by at most
    N_shard/(capacity+1).  Hence every item with GLOBAL count >
    N/(capacity+1) survives in its shard's summary — the candidate
    superset an exact verification pass then narrows (the streaming
    twin of sketch_heavy_hitters' mapInPandas two-pass).

    State per shard is <= capacity (item, count) pairs — O(shards *
    capacity) total regardless of stream length or vocabulary.  Each
    batch emits the shard's full current summary stamped with a
    monotonically increasing ``seq``; the final summary is the max-seq
    row set per shard.
    """
    from flow_spark.functions.hashing import portable_hash64

    prepared = df.select(
        F.pmod(portable_hash64(F.col(item_col), salt="mgshard"), F.lit(n_shards))
        .cast("long")
        .alias("shard"),
        F.col(item_col).cast("string").alias("item"),
    )

    def fn(key: Any, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        if state.exists:
            [seq], [items], [counts] = load_state(state, MG_STATE)
            summary = dict(zip(items, counts))
        else:
            seq, summary = 0, {}
        for pdf in pdfs:
            if pdf.empty:
                continue
            for item, c in pdf["item"].value_counts().items():
                summary[item] = summary.get(item, 0) + int(c)
            if len(summary) > capacity:
                dec = sorted(summary.values(), reverse=True)[capacity]
                summary = {i: c - dec for i, c in summary.items() if c > dec}
        seq += 1
        items = sorted(summary)
        save_state(state, MG_STATE, [[seq], [items], [[int(summary[i]) for i in items]]])
        yield pd.DataFrame(
            {
                "shard": key[0],
                "seq": seq,
                "item": items,
                "mg_count": [int(summary[i]) for i in items],
            }
        )

    return prepared.groupBy("shard").applyInPandasWithState(
        fn,
        outputStructType=MG_OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


# --- streaming time-weighted average -----------------------------------------

TWA_OUTPUT_SCHEMA = StructType(
    [
        StructField("tkey", LongType()),
        StructField("n_events", LongType()),
        StructField("held_us", LongType()),
        StructField("acc_num", LongType()),
        StructField("twa_cents", LongType()),
    ]
)

#: per-key TWA edges and running totals of a key bucket
TWA_STATE = pa.schema(
    [(c, pa.int64()) for c in ("keys", "last_us", "last_v", "n", "held_us", "acc_num")]
)


def twa_stream(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    val_col: str,
    order_col: str = "event_id",
    n_buckets: int | None = None,
) -> DataFrame:
    """Streaming time-weighted average: per key, the value is a step
    function held between consecutive events, and the running TWA
    Sum(v * dur_us) / Sum(dur_us) updates across micro-batches with the
    (last_us, last_v) edge carried in the state store — the batch
    ``ts_time_weighted_avg`` semantics made incremental.

    Emits one UPDATE row per key per batch with the running totals; all
    arithmetic is integer cents x microseconds, so replay, retry, and a
    different batch slicing all yield the same final row (the
    multi-batch == single-batch equivalence is runtime-tested).  A late
    row older than the carried edge is counted in ``n_events`` but
    contributes zero duration AND leaves the (last_us, last_v) edge
    untouched — otherwise a stale value would weight every subsequent
    hold interval (cross-batch late-arrival test covers this).  "Have we
    seen a row" is tracked by ``n > 0``, not a ``last_us`` sentinel,
    because unix_micros is legitimately negative for pre-1970
    timestamps.  State is two longs + three counters per key, one
    shuffle on the key.

    The stateful operator groups on ``pmod(key, n_buckets)``, not on
    the key itself (r08, guide §4 — same rationale and measured basis
    as ``asof_join_stream``): applyInPandasWithState pays a fixed
    JVM->Python group round trip per group per batch, so per-key
    grouping scales the drain with key count; bucketing caps it at
    ``n_buckets`` calls per batch (and state-store rows at n_buckets).
    The bucket's rows are sorted by (key, ts, ord) — each key's
    subsequence keeps (ts, ord) order, so every TWA fold is unchanged —
    and a bucket call emits the running row for exactly the keys that
    HAD INPUT this batch (per-key grouping only invoked the fn for
    those), so the emitted row set is identical.  Env knob
    ``SPARK_GRAFT_TWA_BUCKETS`` (default 32).
    """
    if n_buckets is None:
        n_buckets = _env_int("SPARK_GRAFT_TWA_BUCKETS", 32, 1)
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    prepared = df.select(
        F.col(key_col).cast("long").alias("tkey"),
        F.unix_micros(F.col(ts_col)).alias("ts_us"),
        F.col(order_col).cast("long").alias("ord"),
        F.col(val_col).cast("long").alias("v"),
    ).withColumn("bkey", F.pmod(F.col("tkey"), F.lit(n_buckets)))

    def fn(key: Any, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        # per-key TWA sub-states of this bucket:
        # tkey -> [last_us, last_v, n, held, acc]
        sub: dict[int, list[int]] = load_keyed(state, TWA_STATE)
        # key-major sort keeps each key's rows in (ts, ord) order — the
        # per-key fold order — while one pass walks key runs
        pdf = pd.concat(list(pdfs)).sort_values(["tkey", "ts_us", "ord"])
        tks = pdf["tkey"].tolist()
        tss = pdf["ts_us"].tolist()
        vs = pdf["v"].tolist()
        out: list[tuple[int, int, int, int, int]] = []
        i, nrow = 0, len(tks)
        while i < nrow:
            k = tks[i]
            s = sub.get(k)
            if s is None:
                s = sub[k] = [0, 0, 0, 0, 0]
            last_us, last_v, n, held, acc = s
            j = i
            while j < nrow and tks[j] == k:
                ts_us, v = tss[j], vs[j]
                if n == 0:
                    last_us, last_v = ts_us, v
                elif ts_us >= last_us:
                    dur = ts_us - last_us
                    held += dur
                    acc += last_v * dur
                    last_us, last_v = ts_us, v
                # else: late row older than the carried edge — count only
                n += 1
                j += 1
            s[0], s[1], s[2], s[3], s[4] = last_us, last_v, n, held, acc
            # emit ONLY keys with input this batch (matches per-key form)
            out.append((k, n, held, acc, acc // held if held > 0 else last_v))
            i = j
        save_keyed(state, TWA_STATE, sub)
        yield pd.DataFrame(
            out,
            columns=["tkey", "n_events", "held_us", "acc_num", "twa_cents"],
        )

    return prepared.groupBy("bkey").applyInPandasWithState(
        fn,
        outputStructType=TWA_OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


# --- streaming exact quantile monitor -----------------------------------------

QM_OUTPUT_SCHEMA = StructType(
    [
        StructField("qkey", StringType()),
        StructField("n_obs", LongType()),
        StructField("p50", LongType()),
        StructField("p90", LongType()),
    ]
)

#: the key's (value, count) histogram, one row per distinct value
QM_STATE = pa.schema([("vals", pa.int64()), ("cnts", pa.int64())])


def quantile_monitor_stream(
    df: DataFrame, key_col: str, val_col: str
) -> DataFrame:
    """Streaming EXACT quantile monitor: per key, the state store carries
    a (value -> count) histogram; each micro-batch merges its own
    histogram in and emits the running n/p50/p90.

    Quantiles are order statistics over the merged histogram — p50 =
    smallest v with 2*cum >= n, p90 = smallest v with 10*cum >= 9*n —
    so the final row after an availableNow drain equals the batch
    computation over all data (histogram merge is commutative and
    associative; batch slicing cannot change it).  No t-digest/KLL
    approximation is needed because the monitored metric lives on a
    bounded integer grid (cents): state is O(distinct values) per key —
    domain-bounded, NOT row-bounded — which is exactly when exact
    streaming quantiles are the right call at 100 TB.  One shuffle on
    the key.
    """
    prepared = df.select(
        F.col(key_col).cast("string").alias("qkey"),
        F.col(val_col).cast("long").alias("v"),
    )

    def fn(key: Any, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        batch = pd.concat(list(pdfs))
        hist = dict(zip(*load_state(state, QM_STATE)))
        for v, c in batch.groupby("v").size().items():
            v = int(v)
            hist[v] = hist.get(v, 0) + int(c)
        items = sorted(hist.items())
        save_state(state, QM_STATE, [[v for v, _ in items], [c for _, c in items]])
        n = sum(c for _, c in items)

        def rank_value(num: int, den: int) -> int:
            # smallest v with den*cum >= num*n
            cum = 0
            for v, c in items:
                cum += c
                if den * cum >= num * n:
                    return v
            return items[-1][0]

        yield pd.DataFrame(
            [(key[0], n, rank_value(1, 2), rank_value(9, 10))],
            columns=["qkey", "n_obs", "p50", "p90"],
        )

    return prepared.groupBy("qkey").applyInPandasWithState(
        fn,
        outputStructType=QM_OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


ASOF_OUTPUT_SCHEMA = StructType(
    [
        StructField("left_id", LongType()),
        StructField("akey", LongType()),
        StructField("ts_us", LongType()),
        StructField("asof_val", LongType()),
    ]
)

#: one state-store entry per KEY BUCKET, holding its keys' pending lefts
#: and right histories.  Bucketing exists because applyInPandasWithState
#: pays a fixed JVM->Python protocol round trip PER GROUP PER BATCH
#: (~0.9 ms measured) — grouped per key, that term scales with key count;
#: grouped per bucket it is capped at n_buckets calls per batch (guide §4:
#: you cannot remove the boundary, but you control how many times you
#: cross it).
ASOF_STATE = pa.schema(
    [("keys", pa.int64())]
    + [(c, pa.list_(pa.int64())) for c in ("pend_ts", "pend_id", "hist_ts", "hist_val", "hist_id")]
)


def asof_join_stream(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    ts_col: str,
    left_id_col: str,
    right_val_col: str,
    right_id_col: str,
    delay: str = "5 minutes",
    n_buckets: int | None = None,
) -> DataFrame:
    """STREAM-STREAM as-of join: each left event is enriched with the
    value of the latest right event at-or-before its event time for the
    same key, where BOTH sides arrive as live streams — the temporal
    join Spark's stream-stream equi/interval joins can't express (they
    bound the time difference; as-of wants "latest so far", unbounded).

    Execution shape (new machinery vs the stream-batch
    ``stream_asof_enrich``): the two streams are unioned with a side
    tag and share ONE watermark; per-key state buffers (a) pending left
    events and (b) the right-side history, and a left row is emitted
    ONLY once the watermark passes its event time — at that point no
    right row with an earlier event time can still arrive (it would be
    dropped as late), so the match is final and replay-deterministic.
    Keys idle in a batch flush via EVENT-TIME TIMEOUT when the
    watermark moves past their oldest pending row.  The right history
    is trimmed to rows the watermark hasn't sealed plus the single
    newest sealed row (still the match for future lefts), so state is
    watermark-bounded exactly like the built-in stream-stream joins'.

    Same-event-time right rows dedupe to the greatest ``right_id_col``
    (the batch as-of operator's tie rule).  All comparisons are integer
    microseconds/milliseconds — replay-safe.  Emitted set: every left
    whose event-time ms lies strictly below the final watermark
    (global max event-time ms across BOTH streams minus the delay) —
    an exact, batching-independent contract the DuckDB oracle replays.

    The stateful operator groups on ``pmod(key, n_buckets)``, NOT on
    the key itself (r08, guide §4): applyInPandasWithState pays a fixed
    JVM->Python group-protocol round trip per GROUP per batch (~0.9 ms
    measured), so per-key grouping makes the drain cost scale with key
    count — bucketing caps it at n_buckets calls per batch while the
    per-key logic moves inside the fn (a dict of per-key sub-states).
    The emitted SET is unchanged: a bucket call sweeps every key it
    holds, so a sealed left emits no later than the batch in which its
    per-key timeout would have fired, and timeouts arm at the bucket's
    min pending ms (never later than any member key's own arm point;
    one firing sweeps all sealed lefts at the current watermark, so no
    extra micro-batches are needed).  The trade-off is per-call state
    width: a called bucket rehydrates all its keys, so a deployment
    with sparse per-batch key activity sizes ``n_buckets`` up (env
    ``SPARK_GRAFT_SSAJ_BUCKETS``; default 32 — measured 1.27x over
    per-key grouping on the sf0.1 drain, where batches touch most
    keys; 8/32/64 were within noise of each other).

    Returns (left_id, akey, ts_us, asof_val) in append mode; asof_val
    is NULL when no right row precedes the left row.
    """
    import bisect

    if n_buckets is None:
        n_buckets = _env_int("SPARK_GRAFT_SSAJ_BUCKETS", 32, 1)
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")

    tagged = left.select(
        F.col(key_col).cast("long").alias("akey"),
        F.col(ts_col).alias("ts"),
        F.col(left_id_col).cast("long").alias("eid"),
        F.lit(None).cast("long").alias("val"),
        F.lit(0).alias("side"),
    ).unionByName(
        right.select(
            F.col(key_col).cast("long").alias("akey"),
            F.col(ts_col).alias("ts"),
            F.col(right_id_col).cast("long").alias("eid"),
            F.col(right_val_col).cast("long").alias("val"),
            F.lit(1).alias("side"),
        )
    )
    prepared = tagged.withWatermark("ts", delay).select(
        F.pmod(F.col("akey"), F.lit(n_buckets)).alias("bkey"),
        "akey",
        "ts",
        F.unix_micros("ts").alias("ts_us"),
        "eid",
        "val",
        "side",
    )

    def fn(key: Any, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        wm_ms = state.getCurrentWatermarkMs()
        # a left at ms L is sealed iff wm > L, i.e. wm_ms > ts_us//1000,
        # i.e. ts_us < wm_ms*1000 (non-negative integers) — precomputed
        # so the per-row checks below are one comparison, no division
        wm_us = wm_ms * 1000
        # per-key sub-states of this bucket:
        # akey -> [pend_ts, pend_id, hist_ts, hist_val, hist_id]
        sub: dict[int, list[list[int]]] = load_keyed(state, ASOF_STATE)
        if not state.hasTimedOut:
            # NO cross-chunk sort needed (r08, guide §1.2 per-task work —
            # the concat+sort here was vestigial from the order-sensitive
            # GCRA template): right-side inserts go through bisect with a
            # greatest-id tie rule, both order-independent, and pending
            # lefts are sorted at emission below.  .tolist() converts the
            # Arrow-backed columns to plain Python ints once instead of
            # yielding numpy scalars element-wise.
            for pdf in pdfs:
                if not len(pdf):
                    continue
                for akey, ts_us, eid, val, side in zip(
                    pdf["akey"].tolist(),
                    pdf["ts_us"].tolist(),
                    pdf["eid"].tolist(),
                    pdf["val"].tolist(),
                    pdf["side"].tolist(),
                ):
                    s = sub.get(akey)
                    if s is None:
                        s = sub[akey] = [[], [], [], [], []]
                    if side == 1:
                        hist_ts, hist_val, hist_id = s[2], s[3], s[4]
                        v = int(val)
                        i = bisect.bisect_left(hist_ts, ts_us)
                        if i < len(hist_ts) and hist_ts[i] == ts_us:
                            if eid > hist_id[i]:  # same-ts tie: greatest id
                                hist_val[i], hist_id[i] = v, eid
                        else:
                            hist_ts.insert(i, ts_us)
                            hist_val.insert(i, v)
                            hist_id.insert(i, eid)
                    else:
                        s[0].append(ts_us)
                        s[1].append(eid)
        # emit, for EVERY key in the bucket, the pending lefts the
        # watermark has sealed: no right with event time <= them can
        # still arrive.  Sweeping keys without input this batch only
        # moves their emission EARLIER than a per-key timeout would
        # (never later) — the emitted set is unchanged.
        out: list[tuple[int, int, int, "int | None"]] = []
        kept: dict[int, list[list[int]]] = {}
        min_keep = None
        for akey, (pend_ts, pend_id, hist_ts, hist_val, hist_id) in sub.items():
            keep_ts: list[int] = []
            keep_id: list[int] = []
            for ts_us, eid in sorted(zip(pend_ts, pend_id)):
                if ts_us < wm_us:
                    j = bisect.bisect_right(hist_ts, ts_us) - 1
                    out.append(
                        (eid, akey, ts_us, hist_val[j] if j >= 0 else None)
                    )
                else:
                    keep_ts.append(ts_us)
                    keep_id.append(eid)
            # trim sealed rights, keeping the newest sealed one — it is
            # still the as-of match for future (>= watermark) lefts.
            # t//1000 < wm_ms == t < wm_us for non-negative t, so the
            # cut bisects hist_ts directly, no divided copy.
            cut = bisect.bisect_left(hist_ts, wm_us)
            drop = max(0, cut - 1)
            if drop:
                hist_ts, hist_val, hist_id = (
                    hist_ts[drop:],
                    hist_val[drop:],
                    hist_id[drop:],
                )
            if keep_ts or hist_ts:
                kept[akey] = [keep_ts, keep_id, hist_ts, hist_val, hist_id]
                # keep_ts came out of the sorted() sweep ascending, so
                # its head is this key's min pending
                if keep_ts and (min_keep is None or keep_ts[0] < min_keep):
                    min_keep = keep_ts[0]
        if kept:
            save_keyed(state, ASOF_STATE, kept)
            if min_keep is not None:
                # timeouts fire when the watermark STRICTLY exceeds the
                # set timestamp, and a left at ms L is sealed once
                # wm > L — so arm at the bucket's min pending L itself
                # (wm > L fires exactly at the seal point; L+1 would
                # silently drop a left whose seal equals the final
                # watermark).  Arming at the bucket min is never LATER
                # than any member key's own arm point, and one firing
                # sweeps every sealed left in the bucket, so no key
                # waits on a second firing.  The API requires a
                # timestamp strictly above the current watermark: when
                # wm == L already (the left seals at the very next
                # advance), wm+1 is the closest legal arm point; the
                # only gap left is a stream whose watermark ends
                # EXACTLY one ms past such a left — vanishingly narrow
                # and batching-dependent, unlike the +1 bug this
                # replaces, which dropped at every exact-boundary seal.
                # A stale armed timeout from an earlier batch (pendings
                # since emitted by a data-triggered sweep) fires into
                # an empty sweep and re-arms or lapses — harmless.
                state.setTimeoutTimestamp(max(wm_ms + 1, min_keep // 1000))
        else:
            state.remove()
        if out:  # constructing an empty DataFrame per silent bucket
            # costs more than the whole emission path
            yield pd.DataFrame(
                out, columns=["left_id", "akey", "ts_us", "asof_val"]
            )

    return prepared.groupBy("bkey").applyInPandasWithState(
        fn,
        outputStructType=ASOF_OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf="EventTimeTimeout",
    )
