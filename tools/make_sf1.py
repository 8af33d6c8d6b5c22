"""Generate sf1 fixtures (10x sf0.1) into .fixtures/sf1 for scale benching.

VERDICT r2 #4: the 10x replication experiments in SCALE.md were one-off;
this tool makes them a reproducible artifact so bench.py can record an sf1
section with per-query scale-up ratios every round.

Replication preserves join semantics and workload shape:

- every replica gets DISJOINT key ranges (custkey/orderkey/partkey/
  suppkey/event_id/user_id/doc_id/vec_id offset per replica), so join
  fan-out per key is IDENTICAL to sf0.1 — 10x data means 10x groups, not
  10x-deeper groups;
- region/nation stay 1x (bounded dimensions at any scale, like TPC-H);
- documents: every word is tagged with the replica index (same transform
  for the whole replica), so within-replica near-dup structure is
  preserved exactly while cross-replica shingles are disjoint — MinHash/
  LSH bucket sizes stay sf0.1-shaped instead of inflating 10x with exact
  clones (which would turn the LSH bench into a hot-bucket stress test);
- embeddings: each replica's vectors are rotated by the replica index
  (norm-preserving), so cross-replica vectors land in different LSH
  buckets and ANN candidate sets scale like real data, not like 10 exact
  copies.

Generation is pure DuckDB (no Spark session), ~10 s, idempotent.

Usage: python tools/make_sf1.py [src_sf_dir] [dst_dir]
"""

from __future__ import annotations

import os
import sys

N_REPLICAS = 10
K_OFF = 1_000_000  # customer/supplier/part/user/doc/vec key offset
O_OFF = 10_000_000  # orderkey/event_id offset


def ensure_sf1(
    src: str = "/root/testdata/sf0.1",
    dst: str | None = None,
) -> str:
    """Generate the sf1 fixture dir if absent; return its path."""
    import duckdb

    if dst is None:
        dst = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            ".fixtures",
            "sf1",
        )
    marker = os.path.join(dst, "_COMPLETE")
    if os.path.exists(marker):
        return dst
    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    rep = f"(SELECT UNNEST(range(0, {N_REPLICAS})) AS i)"

    def gen(
        name: str,
        select: str,
        replicate: bool = True,
        row_group_size: int | None = None,
    ) -> None:
        """``row_group_size``: every table must end up MULTI-row-group
        (VERDICT r7 #5) — the row group is Spark's scan-split unit, so a
        single-row-group file is a single-task scan at any core count
        (the sf0.1 fixtures' documented censoring artifact).  DuckDB's
        default (122880 rows) already gives the big tables 9-49 row
        groups; the small corpus tables (documents/embeddings/supplier/
        customer/part) need an explicit smaller size.  Tables stay ONE
        FILE each: the DuckDB oracle (read_parquet) and the file-stream
        sources (``catalog.stream_parquet``) address single files, and
        Spark's byte-range splitting parallelizes within a file at
        row-group granularity anyway — multi-file adds nothing those
        contracts don't lose."""
        frm = f"'{src}/{name}.parquet' t" + (f" CROSS JOIN {rep} r" if replicate else "")
        opts = "FORMAT PARQUET" + (
            f", ROW_GROUP_SIZE {row_group_size}" if row_group_size else ""
        )
        con.execute(
            f"COPY (SELECT {select} FROM {frm}) TO '{dst}/{name}.parquet' ({opts})"
        )

    gen("region", "*", replicate=False)
    gen("nation", "*", replicate=False)
    gen(
        "customer",
        f"c_custkey + r.i * {K_OFF} AS c_custkey, c_name, c_nationkey, "
        "c_acctbal, c_mktsegment",
        row_group_size=16384,
    )
    gen(
        "supplier",
        f"s_suppkey + r.i * {K_OFF} AS s_suppkey, s_name, s_nationkey, s_acctbal",
        row_group_size=1024,
    )
    gen(
        "part",
        f"p_partkey + r.i * {K_OFF} AS p_partkey, p_name, p_brand, p_type, "
        "p_size, p_retailprice",
        row_group_size=16384,
    )
    gen(
        "orders",
        f"o_orderkey + r.i * {O_OFF} AS o_orderkey, "
        f"o_custkey + r.i * {K_OFF} AS o_custkey, "
        "o_orderstatus, o_totalprice, o_orderdate, o_orderpriority",
    )
    gen(
        "lineitem",
        f"l_orderkey + r.i * {O_OFF} AS l_orderkey, "
        f"l_partkey + r.i * {K_OFF} AS l_partkey, "
        f"l_suppkey + r.i * {K_OFF} AS l_suppkey, "
        "l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax, "
        "l_returnflag, l_linestatus, l_shipdate",
    )
    gen(
        "events",
        f"event_id + r.i * {O_OFF} AS event_id, ts, "
        f"user_id + r.i * {K_OFF} AS user_id, event_type, value, props",
    )
    gen(
        "documents",
        f"doc_id + r.i * {K_OFF} AS doc_id, "
        "CASE WHEN r.i = 0 THEN text ELSE "
        "regexp_replace(text, '([a-z]+)', '\\1' || CAST(r.i AS VARCHAR), 'g') "
        "END AS text, "
        "lang, source, "
        "CAST(LENGTH(CASE WHEN r.i = 0 THEN text ELSE "
        "regexp_replace(text, '([a-z]+)', '\\1' || CAST(r.i AS VARCHAR), 'g') "
        "END) AS BIGINT) AS n_chars",
        row_group_size=4096,
    )
    gen(
        "embeddings",
        f"vec_id + r.i * {K_OFF} AS vec_id, "
        "CASE WHEN r.i = 0 THEN embedding ELSE "
        "embedding[(r.i + 1):] || embedding[1:r.i] END AS embedding, "
        "label",
        row_group_size=2048,
    )
    con.close()
    with open(marker, "w") as f:
        f.write(f"replicas={N_REPLICAS} src={src}\n")
    return dst


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    dst = sys.argv[2] if len(sys.argv) > 2 else None
    out = ensure_sf1(src, dst)
    import duckdb

    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        n = duckdb.sql(f"SELECT COUNT(*) FROM '{out}/{t}.parquet'").fetchone()[0]
        print(f"{t:12s} {n:>10,}")
    print(f"sf1 fixtures at {out}")


if __name__ == "__main__":
    main()
