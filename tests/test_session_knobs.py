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


@pytest.mark.parametrize(
    "knob, call",
    [
        ("SPARK_GRAFT_GCRA_BUCKETS", lambda st: st.throttle_stream(None, rps=1)),
        (
            "SPARK_GRAFT_SESSION_BUCKETS",
            lambda st: st.sessionize_stream(None, 30, "k", "ts", "v"),
        ),
        ("SPARK_GRAFT_CEP_BUCKETS", lambda st: st.funnel_stream(None, "k", "ts", "t", "id")),
        ("SPARK_GRAFT_TWA_BUCKETS", lambda st: st.twa_stream(None, "k", "ts", "v")),
        (
            "SPARK_GRAFT_SSAJ_BUCKETS",
            lambda st: st.asof_join_stream(None, None, "k", "ts", "id", "v", "rid"),
        ),
    ],
)
@pytest.mark.parametrize("value", ["x", "0"])
def test_bucket_knobs_fail_by_name(monkeypatch, knob, call, value):
    """Each operator reads its knob before it touches its input, so a bad
    value fails by name before any plan is built."""
    from flow_spark.streaming import stateful

    monkeypatch.setenv(knob, value)
    with pytest.raises(ValueError, match=knob):
        call(stateful)


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
