"""Concurrent query execution: one SparkSession serving many threads —
the multi-tenant shape of a shared cluster — must produce the same
results as serial execution, with no cross-query interference."""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from flow_spark.queries.registry import get

SF = "/root/testdata/sf0.001"

NAMES = [
    "q1_pricing_summary",
    "win_topk_per_group",
    "dedup_exact",
    "seq_markov_transitions",
    "graph_degree_histogram",
    "fn_string",
]


def _run(spark, name):
    rows = get(name).builder(spark, SF).collect()
    return sorted(tuple(r) for r in rows)


def test_concurrent_queries_match_serial(spark):
    serial = {n: _run(spark, n) for n in NAMES}
    with ThreadPoolExecutor(max_workers=len(NAMES)) as pool:
        futures = {n: pool.submit(_run, spark, n) for n in NAMES}
        concurrent = {n: f.result(timeout=300) for n, f in futures.items()}
    for n in NAMES:
        assert concurrent[n] == serial[n], f"{n} diverged under concurrency"


#: stateful drains: the same drain twice, plus another one
STATEFUL = ["stream_twa", "stream_twa", "stream_funnel_cep"]


def test_concurrent_stateful_drains_match_serial(spark):
    """Overlapping stateful drains in one session each get their own memory
    sink and leave the session's shuffle width as they found it."""
    parts = spark.conf.get("spark.sql.shuffle.partitions")
    serial = {n: _run(spark, n) for n in set(STATEFUL)}
    with ThreadPoolExecutor(max_workers=len(STATEFUL)) as pool:
        futures = [(n, pool.submit(_run, spark, n)) for n in STATEFUL]
        for n, f in futures:
            assert f.result(timeout=300) == serial[n], f"{n} diverged under concurrency"
    assert spark.conf.get("spark.sql.shuffle.partitions") == parts
