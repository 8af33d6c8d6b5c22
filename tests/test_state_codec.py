"""The stateful operators' shared state codec: every operator keeps its state
in one binary column holding an Arrow IPC record batch; and the bucketed
kernel the five keyed operators run on, against a per-key reference.

The codec and kernel tests need no JVM.  The last test drains two stateful operators
twice in one session and counts Janino compilations: with the binary state
column the state serializer's code is the same in every query, so a second
drain compiles nothing.
"""

from __future__ import annotations

import itertools
import json
from collections import Counter

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from pyspark.sql import functions as F

from flow_spark.streaming import stateful as st

INT64_MIN, INT64_MAX = -(2**63), 2**63 - 1

#: every operator's declared state batch schema
SCHEMAS = {
    "gcra": st.GCRA_STATE,
    "session": st.SESSION_STATE,
    "funnel": st.FUNNEL_STATE,
    "heavy_hitters": st.MG_STATE,
    "twa": st.TWA_STATE,
    "quantile": st.QM_STATE,
    "asof": st.ASOF_STATE,
}

# four rows per type: int64 extremes, pre-1970 microseconds, empty lists,
# and keys from message metadata with non-ASCII text and an embedded NUL
SAMPLES = {
    pa.int64(): [INT64_MIN, INT64_MAX, -86_400_000_000, 0],
    pa.string(): ["", "user-é中\x00tail", "\x00", "k"],
    pa.list_(pa.int64()): [[], [INT64_MIN, INT64_MAX], [-1_000_000], [0, 1, 2]],
    pa.list_(pa.string()): [[], ["a\x00b", "ß"], [""], ["x", "y"]],
}


class FakeState:
    """The slice of ``GroupState`` the codec helpers and the kernel use."""

    def __init__(self, wm_ms=0):
        self.value = None
        self.wm_ms = wm_ms
        self.updates = 0
        self.timeout = None

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return self.value

    def update(self, value):
        self.value = tuple(value)
        self.updates += 1

    def remove(self):
        self.value = None

    def getCurrentWatermarkMs(self):
        return self.wm_ms

    def setTimeoutTimestamp(self, ms):
        self.timeout = ms


@pytest.mark.parametrize("name", sorted(SCHEMAS))
def test_pack_unpack_round_trips_exactly(name):
    schema = SCHEMAS[name]
    columns = [SAMPLES[f.type] for f in schema]
    got = st.unpack_state(schema, st.pack_state(schema, columns))
    assert got == columns
    # exact Python types, not numpy scalars or floats
    flat = [x for col in got for v in col for x in (v if isinstance(v, list) else [v])]
    assert {type(x) for x in flat} <= {int, str}
    # a bucket whose keys all left still round-trips
    empty = [[] for _ in schema]
    assert st.unpack_state(schema, st.pack_state(schema, empty)) == empty


@pytest.mark.parametrize("big", [2**63, INT64_MIN - 1, 2**64])
def test_int_outside_int64_raises(big):
    with pytest.raises(OverflowError):
        st.pack_state(st.GCRA_STATE, [["k"], [big]])
    with pytest.raises(OverflowError):
        st.pack_state(st.ASOF_STATE, [[1], [[0, big]], [[]], [[]], [[]], [[]]])


def test_unpack_rejects_another_schema():
    blob = st.pack_state(st.QM_STATE, [[1], [2]])
    with pytest.raises(ValueError, match="state written as"):
        st.unpack_state(st.FUNNEL_STATE, blob)


def test_unequal_column_lengths_raise():
    with pytest.raises(ValueError, match="same length"):
        st.pack_state(st.QM_STATE, [[1, 2], [3]])


def test_keyed_helpers_round_trip_through_group_state():
    state = FakeState()
    assert st.load_keyed(state, st.ASOF_STATE) == {}
    sub = {
        7: [[1, 2], [10, 11], [], [], []],
        -3: [[], [], [INT64_MIN, 0], [5, 6], [1, 2]],
    }
    st.save_keyed(state, st.ASOF_STATE, sub)
    (blob,) = state.value
    assert isinstance(blob, bytes)
    # the JVM hands state back as a bytearray
    state.value = (bytearray(blob),)
    assert st.load_keyed(state, st.ASOF_STATE) == sub
    st.save_keyed(state, st.TWA_STATE, {})
    assert st.load_state(state, st.TWA_STATE) == [[] for _ in st.TWA_STATE]


#: keys in the one bucket of the kernel test, 1-6 rows each
N_KEYS = 10_000
#: two micro-batches: rows before / from 10 minutes on, and the watermark
#: (ms) each batch's call sees
WATERMARKS = (480_000, 1_080_000)


def _frames(seed):
    """One input frame per keyed operator, in its prepared column names,
    plus the ``batch`` (0 or 1) of every row.  Timestamps (us) lie on a
    one-second grid over 20 minutes, so some of a key's rows tie."""
    rng = np.random.default_rng(seed)
    keys = np.repeat(np.arange(N_KEYS), rng.integers(1, 7, N_KEYS))
    n = len(keys)
    ts = rng.integers(0, 1200, n) * 1_000_000
    ids = rng.permutation(n)
    side = rng.integers(0, 2, n)
    frames = {
        # a key's rows within 3 s at rps 2: some are throttled
        "gcra": {"throttle_key": [f"k{k}" for k in keys], "ts_ns": ts % 3_000_000 * 1000,
                 "event_id": ids},
        "session": {"skey": keys, "ts_us": ts, "v": rng.integers(0, 100, n)},
        "funnel": {"fkey": keys, "ts_us": ts, "eid": ids,
                   "etype": rng.choice(["view", "click", "purchase", "signup"], n)},
        "twa": {"tkey": keys, "ts_us": ts, "ord": ids, "v": rng.integers(-50, 100, n)},
        "asof": {"akey": keys, "ts_us": ts, "eid": ids, "side": side,
                 "val": np.where(side == 1, rng.integers(0, 100, n), np.nan)},
    }
    return {name: pd.DataFrame({**cols, "batch": ts >= 600_000_000}) for name, cols in frames.items()}


KERNELS = {
    "gcra": st.gcra_kernel(2),
    "session": st.session_kernel(1),
    "funnel": st.FUNNEL_KERNEL,
    "twa": st.TWA_KERNEL,
    "asof": st.ASOF_KERNEL,
}


def _per_key(kernel, frame):
    """Per-key grouping: batch by batch, every key's rows in (key, *order)
    order through the operator's step, then its sweep over every key."""
    state, out = {}, Counter()
    for batch, wm_ms in enumerate(WATERMARKS):
        part = frame[frame.batch == batch].sort_values([kernel.key, *kernel.order], kind="stable")
        rows = zip(*(part[c].tolist() for c in (kernel.key, *kernel.cols)))
        for k, run in itertools.groupby(rows, key=lambda r: r[0]):
            s, emitted = kernel.step(k, state.get(k), *map(list, list(zip(*run))[1:]))
            out.update(emitted)
            state[k] = s
        state = {k: s for k, s in state.items() if s is not None}
        timeout = None
        if kernel.sweep is not None:
            swept = {k: kernel.sweep(k, s, wm_ms) for k, s in state.items()}
            out.update(row for _, emitted, _ in swept.values() for row in emitted)
            state = {k: s for k, (s, _, _) in swept.items() if s is not None}
            deadlines = [d for _, _, d in swept.values() if d is not None]
            timeout = max(wm_ms + 1, min(deadlines)) if deadlines else None
    return out, state, timeout


def _one_bucket(kernel, frame, seed):
    """All keys in ONE bucket: each batch's rows shuffled into several
    chunks (one of them empty) of a single group call."""
    rng = np.random.default_rng(seed)
    state, out = FakeState(), Counter()
    for batch, wm_ms in enumerate(WATERMARKS):
        part = frame[frame.batch == batch]
        chunks = [part.iloc[i] for i in np.array_split(rng.permutation(len(part)), 4)]
        state.wm_ms, state.updates, state.timeout = wm_ms, 0, None
        for pdf in kernel.group((0,), iter([*chunks, part.iloc[:0]]), state):
            # a column with a null comes out as float with NaN
            out.update(tuple(None if v != v else v for v in r) for r in pdf.values.tolist())
        # the bucket's state is one row, written once per call
        assert state.updates == 1
    return out, st.load_keyed(state, kernel.schema), state.timeout


@pytest.mark.parametrize("name", sorted(KERNELS))
def test_one_bucket_equals_per_key_reference(name):
    kernel, frame = KERNELS[name], _frames(seed=11)[name]
    got = _one_bucket(kernel, frame, seed=5)
    out, state, _ = want = _per_key(kernel, frame)
    assert len(state) > 1000 and sum(out.values()) > 100
    assert got == want


def test_one_bucket_gcra_equals_gcra_admit_key_by_key():
    frame = _frames(seed=3)["gcra"]
    tat, out = {}, Counter()
    for batch in (0, 1):
        part = frame[frame.batch == batch].sort_values(["throttle_key", "ts_ns", "event_id"])
        rows = zip(part.throttle_key.tolist(), part.ts_ns.tolist(), part.event_id.tolist())
        for k, run in itertools.groupby(rows, key=lambda r: r[0]):
            _, ts, ids = zip(*run)
            admits, tat[k] = st.gcra_admit(list(ts), tat.get(k, 0), 2)
            out.update(
                (i, k, t, "admitted" if a else "throttled") for i, t, a in zip(ids, ts, admits)
            )
    assert "throttled" in {r[3] for r in out}
    want = (out, {k: [t] for k, t in tat.items()}, None)
    assert _one_bucket(KERNELS["gcra"], frame, seed=2) == want


def test_session_sizes_codegen_cache(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"


def test_second_stateful_drain_compiles_nothing(spark, tmp_path):
    """A drain re-run in a warm session hits Spark's codegen cache for every
    class: the state serializer of a binary state column has the same code
    in every query, where array-valued state structs named fields after
    per-query ``MapObjects`` lambda ids and recompiled every run."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    src = tmp_path / "src"
    src.mkdir()
    with open(src / "a.jsonl", "w") as fh:
        for i in range(200):
            fh.write(json.dumps({"user": i % 17, "ts_us": 1_000_000 * i, "v": i, "eid": i}) + "\n")

    def drain(kind: str, run: int) -> int:
        events = (
            spark.readStream.schema("user long, ts_us long, v long, eid long")
            .json(str(src))
            .withColumn("ts", F.timestamp_micros("ts_us"))
        )
        if kind == "twa":
            out = st.twa_stream(events, "user", "ts", "v", order_col="eid", n_buckets=4)
            mode = "update"
        else:
            msgs = events.select(
                F.col("eid").alias("event_id"),
                F.create_map(F.lit("user"), F.col("user").cast("string")).alias("meta"),
                "ts",
            )
            out = st.throttle_stream(msgs, rps=2, key_col="user", ts_col="ts", n_buckets=4)
            mode = "append"
        name = f"codegen_{kind}_{run}"
        q = (
            out.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.table(name).count()

    for kind, rows in (("twa", 17), ("gcra", 200)):
        assert drain(kind, 0) == rows
        before = metrics.METRIC_COMPILATION_TIME().getCount()
        assert drain(kind, 1) == rows
        assert metrics.METRIC_COMPILATION_TIME().getCount() - before == 0, kind
