"""The stateful operators' shared state codec: every operator keeps its state
in one binary column holding an Arrow IPC record batch.

The codec tests need no JVM.  The last test drains two stateful operators
twice in one session and counts Janino compilations: with the binary state
column the state serializer's code is the same in every query, so a second
drain compiles nothing.
"""

from __future__ import annotations

import json

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
    """The slice of ``GroupState`` the codec helpers use."""

    def __init__(self):
        self.value = None

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return self.value

    def update(self, value):
        self.value = tuple(value)


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
