"""Engine env knobs fail by name, and the session defaults fit the box."""

from __future__ import annotations

import os

import pytest

from flow_spark import session
from flow_spark.session import _env_int, default_driver_memory, workers_import_engine


def test_env_int_default_value_and_errors(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_TEST_KNOB", raising=False)
    assert _env_int("SPARK_GRAFT_TEST_KNOB", 7, 1) == 7
    monkeypatch.setenv("SPARK_GRAFT_TEST_KNOB", " 12 ")
    assert _env_int("SPARK_GRAFT_TEST_KNOB", 7, 1) == 12
    monkeypatch.setenv("SPARK_GRAFT_TEST_KNOB", "12k")
    with pytest.raises(ValueError, match="SPARK_GRAFT_TEST_KNOB='12k' is not an integer"):
        _env_int("SPARK_GRAFT_TEST_KNOB", 7, 1)
    monkeypatch.setenv("SPARK_GRAFT_TEST_KNOB", "0")
    with pytest.raises(ValueError, match="SPARK_GRAFT_TEST_KNOB=0 is below its minimum 1"):
        _env_int("SPARK_GRAFT_TEST_KNOB", 7, 1)


def test_cpus_default_is_the_affinity_count(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert session.local_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session.local_cpus() == 3


def test_cpus_knob_fails_by_name(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "four")
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        session.get_spark("knob-check")


def test_state_parts_knob_fails_by_name(spark, monkeypatch):
    from flow_spark.queries.streaming_windows import _state_parts

    before = spark.conf.get("spark.sql.shuffle.partitions")
    monkeypatch.setenv("SPARK_GRAFT_STATE_PARTS", "8.5")
    with pytest.raises(ValueError, match="SPARK_GRAFT_STATE_PARTS"):
        with _state_parts(spark):
            pass
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_overlapping_state_parts_restore_the_session(spark):
    """A second stateful start waits for the first one's restore, so the
    two restores cannot run out of order and leave the session narrowed."""
    import threading

    from flow_spark.queries.streaming_windows import _state_parts

    before = spark.conf.get("spark.sql.shuffle.partitions")
    inside = threading.Event()

    def second():
        with _state_parts(spark):
            inside.set()

    with _state_parts(spark):
        t = threading.Thread(target=second)
        t.start()
        # the second start must not get in while the first is narrowed
        assert not inside.wait(0.5)
    t.join(10)
    assert inside.is_set()
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


@pytest.fixture(scope="module")
def any_input(spark):
    """An empty frame with every column the keyed operators read."""
    return spark.createDataFrame(
        [], "k long, ts timestamp, v long, t string, id long, event_id long, "
        "ingest_ts timestamp, meta map<string, string>"
    )


@pytest.mark.parametrize(
    "call",
    [
        lambda st, df: st.throttle_stream(df, rps=1, key_col="k", n_buckets=0),
        lambda st, df: st.sessionize_stream(df, 30, "k", "ts", "v", n_buckets=0),
        lambda st, df: st.funnel_stream(df, "k", "ts", "t", "id", n_buckets=0),
        lambda st, df: st.twa_stream(df, "k", "ts", "v", n_buckets=0),
        lambda st, df: st.asof_join_stream(df, df, "k", "ts", "id", "v", "id", n_buckets=0),
    ],
    ids=["gcra", "session", "funnel", "twa", "asof"],
)
def test_zero_buckets_fail_by_name(any_input, call):
    """The bucket count is a parameter, not an env knob; a width below one
    fails by the parameter's name before the stateful operator is planned."""
    from flow_spark.streaming import stateful

    with pytest.raises(ValueError, match="n_buckets"):
        call(stateful, any_input)


def test_default_driver_memory_fits_physical_ram():
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    gib = int(default_driver_memory().removesuffix("g"))
    assert 1 <= gib <= session.MAX_DRIVER_MEM_GB
    assert gib << 30 <= max(ram, 1 << 30)


def test_worker_daemon_only_where_workers_import_the_engine(monkeypatch, tmp_path):
    monkeypatch.chdir(tmp_path)
    monkeypatch.setenv("PYTHONPATH", str(tmp_path))
    monkeypatch.setattr(session.site, "getsitepackages", lambda: [])
    assert not workers_import_engine()
    root = os.path.dirname(os.path.dirname(os.path.abspath(session.__file__)))
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join([str(tmp_path), root]))
    assert workers_import_engine()
    monkeypatch.delenv("PYTHONPATH")
    monkeypatch.chdir(root)
    assert workers_import_engine()
