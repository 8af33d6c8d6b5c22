"""DuckDB-oracle parity for every registered query (mirrors the driver's
correctness gate at a smaller scale factor so failures surface locally)."""

from __future__ import annotations

import pytest

from flow_spark.oracle import check_query
from flow_spark.queries.registry import all_queries

QUERIES = sorted(all_queries().items())


@pytest.mark.parametrize("name,query", QUERIES, ids=[n for n, _ in QUERIES])
def test_oracle_parity(spark, sf_dir, name, query):
    res = check_query(spark, query, sf_dir)
    assert res.ok, f"{name}: {res.detail}"


def test_query_without_oracle_or_invariant_fails(spark, sf_dir):
    from flow_spark.queries.registry import Query

    q = Query("unchecked", lambda s, _: s.range(3), None, "test")
    res = check_query(spark, q, sf_dir)
    assert not res.ok and "unverifiable" in res.detail


@pytest.mark.parametrize("problem", [None, "n is off"])
def test_invariant_decides_a_query_without_oracle(spark, sf_dir, problem):
    from flow_spark.queries.registry import Query

    seen = []

    def invariant(con, cols, rows):
        seen.append((cols, sorted(rows), con.execute("SELECT count(*) FROM region").fetchone()))
        return problem

    q = Query("checked", lambda s, _: s.range(3), None, "test", invariant=invariant)
    res = check_query(spark, q, sf_dir)
    assert res.ok == (problem is None)
    assert res.detail == (problem or "invariant holds")
    assert seen == [(["id"], [(0,), (1,), (2,)], (5,))]
