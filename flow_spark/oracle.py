"""Local DuckDB-oracle parity checker.

Mirrors the driver's correctness gate: for each registered query, run the
Spark builder AND the oracle SQL on the same parquet fixture tables, then
compare row count, column names, and order-insensitive values.  A query
without oracle SQL is checked by its registered invariant over the same
tables, and fails when it has none.  Used by
``tests/test_parity.py`` so mismatches are caught before the driver runs.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import duckdb

from pyspark.sql import SparkSession

from flow_spark.catalog import TABLES, table_path
from flow_spark.queries.registry import Query


@dataclass
class ParityResult:
    name: str
    ok: bool
    detail: str
    spark_rows: int
    oracle_rows: int | None


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
        )
    return con


def _norm_cell(v: object) -> object:
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # driver hashes values; round here like the queries themselves do,
        # plus a guard for accumulated FP noise
        return round(v, 6)
    if isinstance(v, int):
        return v
    return str(v)


def _canon(rows: list[tuple], cols: list[str]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    projected = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    return sorted(projected, key=repr)


def check_query(spark: SparkSession, q: Query, sf_dir: str) -> ParityResult:
    sdf = q.builder(spark, sf_dir)
    spark_cols = list(sdf.columns)
    spark_rows = [tuple(r) for r in sdf.collect()]

    if q.oracle is None and q.invariant is None:
        return ParityResult(
            q.name, False, "no oracle and no invariant: result unverifiable", len(spark_rows), None
        )

    con = duckdb_connection(sf_dir)
    try:
        if q.oracle is None:
            problem = q.invariant(con, spark_cols, spark_rows)
            return ParityResult(q.name, problem is None, problem or "invariant holds", len(spark_rows), None)
        cur = con.execute(q.oracle)
        oracle_cols = [d[0] for d in cur.description]
        oracle_rows = [tuple(r) for r in cur.fetchall()]
    finally:
        con.close()

    if sorted(spark_cols) != sorted(oracle_cols):
        return ParityResult(
            q.name,
            False,
            f"column mismatch: spark={sorted(spark_cols)} oracle={sorted(oracle_cols)}",
            len(spark_rows),
            len(oracle_rows),
        )
    if len(spark_rows) != len(oracle_rows):
        return ParityResult(
            q.name,
            False,
            f"row count mismatch: spark={len(spark_rows)} oracle={len(oracle_rows)}",
            len(spark_rows),
            len(oracle_rows),
        )
    a = _canon(spark_rows, spark_cols)
    b = _canon(oracle_rows, oracle_cols)
    if a != b:
        diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
        return ParityResult(
            q.name, False, f"value mismatch, first diffs: {diffs}", len(spark_rows), len(oracle_rows)
        )
    return ParityResult(q.name, True, "ok", len(spark_rows), len(oracle_rows))
