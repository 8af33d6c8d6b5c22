from __future__ import annotations

import os
import sys
import uuid

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Python workers import flow_spark (pickled operators, the worker daemon)
# whatever directory the suite is started from
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
)

SF_SMOKE = "/root/testdata/sf0.001"


def pytest_configure(config):
    config.addinivalue_line("markers", "slow: a long-running test; it still runs in Tier-1")


@pytest.fixture(scope="session")
def spark():
    from flow_spark.session import get_spark

    s = get_spark("flow-spark-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture
def count_jobs():
    """``count_jobs(spark, fn)`` -> (fn(), number of Spark jobs fn ran),
    counted by a job group."""

    def count(spark, fn):
        sc = spark.sparkContext
        group = f"count_{uuid.uuid4().hex[:8]}"
        sc.setJobGroup(group, "count jobs")
        try:
            out = fn()
        finally:
            sc.setJobGroup("", "")
        # job-start events reach the status tracker through the listener
        # bus: drain it, or a job that just ran is missed
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return count
