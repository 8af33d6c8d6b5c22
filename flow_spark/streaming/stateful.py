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

Bucketed state.  The five keyed operators (GCRA, sessionize, funnel, TWA
and the as-of join) run on one kernel, ``Bucketed``.  It groups rows on a
key BUCKET, sorts each bucket's rows key-major and hands every key's run to
the operator's per-key ``step``; an operator whose state expires with the
watermark adds a ``sweep`` that applies its timer rule to every key of the
bucket.  Each of those operators is thus an Arrow state schema, a step and
an optional sweep; ``Bucketed`` says why state is bucketed.  Heavy hitters
(a handful of hash shards) and the quantile monitor (a handful of keys)
group on their own key.

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

import bisect
import itertools
from collections.abc import Callable, Iterator, Sequence
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

_NS = 1_000_000_000

#: key buckets per keyed operator (see ``Bucketed``)
STATE_BUCKETS = 32

#: the Spark state schema of every operator in this module: one Arrow IPC
#: stream (one record batch, the operator's declared Arrow schema)
STATE_SCHEMA = StructType([StructField("batch", BinaryType())])


def _longs(*names: str) -> StructType:
    return StructType([StructField(n, LongType()) for n in names])


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


class Bucketed:
    """The kernel of the keyed operators: one ``applyInPandasWithState``
    group per KEY BUCKET, with the per-key logic inside the group function.

    Why buckets: ``applyInPandasWithState`` pays a fixed JVM->Python round
    trip per group per batch (~0.9 ms measured), so grouping per key scales
    a drain with its key count (1,500 keys at sf0.1).  Grouping on
    ``pmod(key, n_buckets)`` (``pmod(xxhash64(key), n_buckets)`` for a
    string key) caps that at ``n_buckets`` calls per batch, and state-store
    rows at ``n_buckets``.  On the sf0.1 as-of drain this measured 1.27x
    over per-key grouping, with 8, 32 and 64 buckets within noise of each
    other.  The trade-off is per-call state width: a called bucket reads
    and writes all its keys.

    A call of ``group``:

    - loads the bucket's per-key sub-states (``load_keyed``);
    - buffers every chunk of the group, then sorts the rows by
      ``(key, *order)``.  A group larger than ``maxRecordsPerBatch``
      arrives as several Arrow chunks in shuffle order; the key-major sort
      gives each key one contiguous run in its own event order, so every
      per-key result is the one per-key grouping computes;
    - calls ``step(key, sub_state, *runs) -> (sub_state | None, out_rows)``
      once per key run, where ``runs`` are the run's ``cols`` as lists and
      ``sub_state`` is None for a key without state.  A returned None drops
      the key: an absent key is the operator's initial state;
    - with a ``sweep``, calls ``sweep(key, sub_state, wm_ms) ->
      (sub_state | None, out_rows, deadline_ms | None)`` for EVERY key of
      the bucket, with input or not.  The sweep applies the key's own timer
      rule, so no key is swept later than its per-key timeout would have
      fired, and the bucket's event-time timeout is armed at
      ``max(wm_ms + 1, min deadline)``: the API needs a timestamp strictly
      above the current watermark;
    - saves the kept keys as ONE state row, or removes the state when no
      key is left.

    ``n_buckets`` (default ``STATE_BUCKETS``) only changes which keys
    share a call; tests set it to 1 to put every key in one bucket.
    """

    def __init__(
        self,
        key: str,
        order: Sequence[str],
        cols: Sequence[str],
        schema: pa.Schema,
        output: StructType,
        step: Callable,
        sweep: Callable | None = None,
        mode: str = "append",
    ):
        self.key, self.order, self.cols = key, tuple(order), tuple(cols)
        self.schema, self.output, self.mode = schema, output, mode
        self.step, self.sweep = step, sweep

    def apply(self, prepared: DataFrame, n_buckets: int | None = None) -> DataFrame:
        """Run the operator over ``prepared``, which holds ``key``,
        ``order`` and ``cols``."""
        n_buckets = STATE_BUCKETS if n_buckets is None else n_buckets
        if n_buckets < 1:
            raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
        key = F.col(self.key)
        if isinstance(prepared.schema[self.key].dataType, StringType):
            key = F.xxhash64(key)
        return (
            prepared.withColumn("bkey", F.pmod(key, F.lit(n_buckets)))
            .groupBy("bkey")
            .applyInPandasWithState(
                self.group,
                outputStructType=self.output,
                stateStructType=STATE_SCHEMA,
                outputMode=self.mode,
                timeoutConf="EventTimeTimeout" if self.sweep else "NoTimeout",
            )
        )

    def group(self, _bkey: Any, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        """The ``applyInPandasWithState`` function of one bucket."""
        sub = load_keyed(state, self.schema)
        out: list[tuple] = []
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            sort = (self.key, *self.order)
            arrays = {
                c: np.concatenate([pdf[c].to_numpy() for pdf in chunks])
                for c in {*sort, *self.cols}
            }
            idx = np.lexsort([arrays[c] for c in reversed(sort)])
            keys = arrays[self.key][idx]
            starts = [0, *(np.flatnonzero(keys[1:] != keys[:-1]) + 1).tolist()]
            runs = [arrays[c][idx].tolist() for c in self.cols]
            for k, a, b in zip(keys[starts].tolist(), starts, [*starts[1:], len(keys)]):
                s, rows = self.step(k, sub.get(k), *(r[a:b] for r in runs))
                if s is None:
                    sub.pop(k, None)
                else:
                    sub[k] = s
                out += rows
        deadline = None
        if self.sweep is not None:
            wm_ms = state.getCurrentWatermarkMs()
            kept = {}
            for k, s in sub.items():
                s, rows, d = self.sweep(k, s, wm_ms)
                out += rows
                if s is not None:
                    kept[k] = s
                if d is not None and (deadline is None or d < deadline):
                    deadline = d
            sub = kept
        if sub:
            save_keyed(state, self.schema, sub)
            if deadline is not None:
                state.setTimeoutTimestamp(max(wm_ms + 1, deadline))
        elif state.exists:
            state.remove()
        if out:
            yield pd.DataFrame(out, columns=self.output.names)


OUTPUT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("throttle_key", StringType()),
        StructField("ts_ns", LongType()),
        StructField("throttle_status", StringType()),
    ]
)

#: per-key TATs of a key bucket
GCRA_STATE = pa.schema([("keys", pa.string()), ("tat_ns", pa.int64())])


def gcra_admit(ts_ns: list[int], tat_ns: int, rps: int) -> tuple[list[bool], int]:
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


def gcra_kernel(rps: int) -> Bucketed:
    """GCRA per key over its rows in (ts, id) order."""

    def step(k, s, ids, ts):
        admits, tat = gcra_admit(ts, s[0] if s else 0, rps)
        status = ["admitted" if a else "throttled" for a in admits]
        return [tat], list(zip(ids, [k] * len(ids), ts, status))

    return Bucketed(
        "throttle_key", ("ts_ns", "event_id"), ("event_id", "ts_ns"),
        GCRA_STATE, OUTPUT_SCHEMA, step,
    )


def throttle_stream(
    df: DataFrame,
    rps: int,
    key_col: str | None = None,
    ts_col: str = "ingest_ts",
    n_buckets: int | None = None,
) -> DataFrame:
    """Streaming throttler: emits (event_id, throttle_key, ts_ns, status).

    Must be applied to a streaming DataFrame with event_id/meta/ts columns;
    joins back on event_id to recover full rows if needed.  Each key's
    rows pass GCRA in (ts, id) order, the bucketed kernel's key runs.
    """
    key_expr = (
        F.coalesce(F.col("meta").getItem(key_col), F.lit("")) if key_col else F.lit("")
    )
    prepared = df.select(
        "event_id",
        key_expr.alias("throttle_key"),
        (F.unix_micros(F.col(ts_col)) * 1000).alias("ts_ns"),
    )
    return gcra_kernel(rps).apply(prepared, n_buckets)


# --- event-time-timeout sessionization --------------------------------------

SESSION_OUTPUT_SCHEMA = _longs("skey", "start_us", "end_us", "n", "total")

#: per-key open sessions of a key bucket
SESSION_STATE = pa.schema(
    [(c, pa.int64()) for c in ("keys", "start_us", "last_us", "n", "total")]
)


def session_kernel(gap_minutes: int) -> Bucketed:
    """Per key: an open session [start_us, last_us, n, total]."""
    gap_us = gap_minutes * 60 * 1_000_000
    gap_ms = gap_minutes * 60 * 1000

    def step(k, cur, ts, vs):
        closed = []
        for ts_us, v in zip(ts, vs):
            if cur is not None and ts_us - cur[1] > gap_us:
                closed.append((k, *cur))
                cur = None
            if cur is None:
                cur = [ts_us, ts_us, 0, 0]
            cur[1] = ts_us
            cur[2] += 1
            cur[3] += v
        return cur, closed

    def sweep(k, cur, wm_ms):
        # the per-key timer rule: close iff the watermark ms strictly
        # exceeds last_ms + gap_ms.  A data row can never rescue a swept
        # session: rows older than the watermark are dropped before the
        # operator, so any row for this key has ts >= wm > last + gap.
        deadline_ms = cur[1] // 1000 + gap_ms
        if wm_ms > deadline_ms:
            return None, [(k, *cur)], None
        return cur, (), deadline_ms

    return Bucketed(
        "skey", ("ts_us",), ("ts_us", "v"), SESSION_STATE, SESSION_OUTPUT_SCHEMA, step, sweep
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
    in-batch gaps close sessions inline, cross-batch gaps close when the
    watermark crosses last_us + gap.  All arithmetic is integer
    microseconds — replay-deterministic.  At scale state is per-key in the
    state store, one shuffle on the key, and the watermark bounds state
    size exactly as the built-in operator's.

    Every bucket call sweeps all its keys with the per-key timer rule
    (close iff watermark ms STRICTLY exceeds last_ms + gap_ms), so a
    session closes in the first batch whose watermark passes its deadline,
    exactly when its own per-key timer would have fired.

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
    prepared = df.select(
        F.col(key_col).cast("long").alias("skey"),
        F.col(ts_col).alias("ts"),
        F.unix_micros(F.col(ts_col)).alias("ts_us"),
        F.col(val_col).cast("long").alias("v"),
    )
    return session_kernel(gap_minutes).apply(prepared, n_buckets)


FUNNEL_OUTPUT_SCHEMA = _longs("fkey", "view_us", "click_us", "purchase_us", "purchase_id")

#: per-key funnel progress of a key bucket
FUNNEL_STATE = pa.schema([(c, pa.int64()) for c in ("keys", "view_us", "click_us")])


def _funnel_step(k, s, ts, etypes, eids):
    view, click = s or (-1, -1)
    out = []
    for ts_us, etype, eid in zip(ts, etypes, eids):
        if etype == "view":
            if view < 0:
                view = ts_us
        elif etype == "click":
            if view >= 0 and click < 0:
                click = ts_us
        elif etype == "purchase" and click >= 0:
            out.append((k, view, click, ts_us, eid))
            view = click = -1
    # a fully reset funnel is the absent key
    return ([view, click] if view >= 0 or click >= 0 else None), out


FUNNEL_KERNEL = Bucketed(
    "fkey", ("ts_us", "eid"), ("ts_us", "etype", "eid"),
    FUNNEL_STATE, FUNNEL_OUTPUT_SCHEMA, _funnel_step,
)


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
    ignored.  State is at most two longs per key, and a reset key is
    dropped from state — O(keys) total, no timeout needed (contrast
    sessionize_stream, whose correctness depends on event-time expiry).
    One shuffle on the key; the same recurrence replays as a recursive
    CTE, so the registry entry is VALUE-checked, and multi-batch ==
    single-batch equivalence is runtime-tested.
    """
    prepared = df.select(
        F.col(key_col).cast("long").alias("fkey"),
        F.unix_micros(F.col(ts_col)).alias("ts_us"),
        F.col(type_col).alias("etype"),
        F.col(id_col).cast("long").alias("eid"),
    )
    return FUNNEL_KERNEL.apply(prepared, n_buckets)


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

TWA_OUTPUT_SCHEMA = _longs("tkey", "n_events", "held_us", "acc_num", "twa_cents")

#: per-key TWA edges and running totals of a key bucket
TWA_STATE = pa.schema(
    [(c, pa.int64()) for c in ("keys", "last_us", "last_v", "n", "held_us", "acc_num")]
)


def _twa_step(k, s, ts, vs):
    last_us, last_v, n, held, acc = s or (0, 0, 0, 0, 0)
    for ts_us, v in zip(ts, vs):
        if n == 0:
            last_us, last_v = ts_us, v
        elif ts_us >= last_us:
            dur = ts_us - last_us
            held += dur
            acc += last_v * dur
            last_us, last_v = ts_us, v
        # else: late row older than the carried edge — count only
        n += 1
    return [last_us, last_v, n, held, acc], [(k, n, held, acc, acc // held if held > 0 else last_v)]


TWA_KERNEL = Bucketed(
    "tkey", ("ts_us", "ord"), ("ts_us", "v"),
    TWA_STATE, TWA_OUTPUT_SCHEMA, _twa_step, mode="update",
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

    Emits one UPDATE row per key per batch with the running totals, for
    exactly the keys that had input in the batch; all arithmetic is
    integer cents x microseconds, so replay, retry, and a different batch
    slicing all yield the same final row (the multi-batch == single-batch
    equivalence is runtime-tested).  A late row older than the carried
    edge is counted in ``n_events`` but contributes zero duration AND
    leaves the (last_us, last_v) edge untouched — otherwise a stale value
    would weight every subsequent hold interval (cross-batch late-arrival
    test covers this).  "Have we seen a row" is tracked by ``n > 0``, not
    a ``last_us`` sentinel, because unix_micros is legitimately negative
    for pre-1970 timestamps.  State is two longs + three counters per key,
    one shuffle on the key; each key folds its rows in (ts, ord) order.
    """
    prepared = df.select(
        F.col(key_col).cast("long").alias("tkey"),
        F.unix_micros(F.col(ts_col)).alias("ts_us"),
        F.col(order_col).cast("long").alias("ord"),
        F.col(val_col).cast("long").alias("v"),
    )
    return TWA_KERNEL.apply(prepared, n_buckets)


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


ASOF_OUTPUT_SCHEMA = _longs("left_id", "akey", "ts_us", "asof_val")

#: per-key pending lefts and right histories of a key bucket
ASOF_STATE = pa.schema(
    [("keys", pa.int64())]
    + [(c, pa.list_(pa.int64())) for c in ("pend_ts", "pend_id", "hist_ts", "hist_val", "hist_id")]
)


def _asof_step(k, s, ts, eids, vals, sides):
    # inserts are order-independent (bisect with a greatest-id tie rule;
    # pending lefts are sorted at emission), so the kernel sorts on the
    # key alone
    s = s or [[], [], [], [], []]
    pend_ts, pend_id, hist_ts, hist_val, hist_id = s
    for ts_us, eid, val, side in zip(ts, eids, vals, sides):
        if side == 0:
            pend_ts.append(ts_us)
            pend_id.append(eid)
            continue
        v = int(val)
        i = bisect.bisect_left(hist_ts, ts_us)
        if i < len(hist_ts) and hist_ts[i] == ts_us:
            if eid > hist_id[i]:  # same-ts tie: greatest id
                hist_val[i], hist_id[i] = v, eid
        else:
            hist_ts.insert(i, ts_us)
            hist_val.insert(i, v)
            hist_id.insert(i, eid)
    return s, ()


def _asof_sweep(k, s, wm_ms):
    # a left at ms L is sealed iff wm > L, i.e. ts_us < wm_ms*1000
    # (non-negative integers): no right with event time <= it can still
    # arrive, so its match is final
    wm_us = wm_ms * 1000
    pend_ts, pend_id, hist_ts, hist_val, hist_id = s
    out, keep_ts, keep_id = [], [], []
    for ts_us, eid in sorted(zip(pend_ts, pend_id)):
        if ts_us < wm_us:
            j = bisect.bisect_right(hist_ts, ts_us) - 1
            out.append((eid, k, ts_us, hist_val[j] if j >= 0 else None))
        else:
            keep_ts.append(ts_us)
            keep_id.append(eid)
    # trim sealed rights, keeping the newest sealed one: it is still the
    # as-of match for future (>= watermark) lefts
    drop = max(0, bisect.bisect_left(hist_ts, wm_us) - 1)
    if drop:
        hist_ts, hist_val, hist_id = hist_ts[drop:], hist_val[drop:], hist_id[drop:]
    if not (keep_ts or hist_ts):
        return None, out, None
    # a timeout fires once wm > the armed ms, and the min pending left L
    # seals once wm > L: arm at L itself (L + 1 would drop a left whose
    # seal equals the final watermark)
    return [keep_ts, keep_id, hist_ts, hist_val, hist_id], out, (
        keep_ts[0] // 1000 if keep_ts else None
    )


ASOF_KERNEL = Bucketed(
    "akey", (), ("ts_us", "eid", "val", "side"),
    ASOF_STATE, ASOF_OUTPUT_SCHEMA, _asof_step, _asof_sweep,
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
    A bucket call sweeps every key it holds, so a sealed left emits no
    later than the batch in which its per-key timeout would have fired;
    the only gap is a stream whose watermark ends EXACTLY one ms past a
    left that was pending when the watermark equalled its ms.

    Returns (left_id, akey, ts_us, asof_val) in append mode; asof_val
    is NULL when no right row precedes the left row.
    """
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
        "akey", "ts", F.unix_micros("ts").alias("ts_us"), "eid", "val", "side"
    )
    return ASOF_KERNEL.apply(prepared, n_buckets)
