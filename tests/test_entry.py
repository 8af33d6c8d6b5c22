"""Smoke tests of the driver contract (__spark_entry__.py)."""

from __future__ import annotations

import importlib

from flow_spark.queries.registry import all_queries


def test_entry_contract(spark):
    mod = importlib.import_module("__spark_entry__")
    df = mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns[0] == "l_returnflag"

    qs = mod.queries()
    oracles = mod.oracle_sql()
    assert qs, "queries() must not be empty"
    # every oracle key must have a query
    assert set(oracles) <= set(qs)


def test_queries_match_registry():
    # test_parity runs every registered query against its oracle
    mod = importlib.import_module("__spark_entry__")
    assert list(mod.queries()) == list(all_queries())


def test_query_runs_through_configure_wrapper(spark, sf_dir):
    mod = importlib.import_module("__spark_entry__")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        df = mod.queries()["q1_pricing_summary"](spark, sf_dir)
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    expected = all_queries()["q1_pricing_summary"].builder(spark, sf_dir)
    assert sorted(df.collect()) == sorted(expected.collect())
