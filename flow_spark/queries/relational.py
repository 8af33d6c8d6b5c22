"""Relational core: scans, filters, joins (all types), aggregations,
rollup/cube/grouping-sets, set ops, sorts/top-k, pivot.

The reference implements none of these (SURVEY.md §2.2 — flow is a message
relay); this is the analytic surface the engine declares on top of the same
fixtures.  Every builder is pure DataFrame API so Catalyst gets pushdown /
pruning / join selection; dimension tables are broadcast explicitly where a
1000-executor plan must avoid a shuffle.

Scale notes (100 TB): every groupBy here keys on low-cardinality columns or
pre-filtered fact subsets; joins are fact->dim (broadcast) or
fact->fact on the join graph keys which parquet bucketing would co-locate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flow_spark.catalog import load_table
from flow_spark.queries.registry import register
from flow_spark.queries.util import (
    SQL_DISC_PCT,
    SQL_CHARGE_CENTS,
    SQL_ONE_PLUS_TAX,
    SQL_PRICE,
    SQL_PRICE_CENTS,
    SQL_REVENUE,
    SQL_REVENUE_CENTS,
    cents,
    cents_sum_money,
    charge_cents,
    dec,
    money_avg,
    partial_cents_merge,
    revenue_cents,
    revenue_expr,
    sql_cents_sum_money,
)


# --------------------------------------------------------------------------
# TPC-H-style headline queries
# --------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    category="aggregation",
    doc="TPC-H Q1: scan+filter pushdown, 8-agg groupBy, orderBy. "
    "Money sums run as an explicit two-level aggregate on exact scaled "
    "integers: the per-row hot loop accumulates LONGs per (group, scan "
    "partition) — SUM(long) is ~2.3x faster than SUM(decimal) there, and "
    "for the 1e-6-unit charge term ~3.5x (measured 0.85s -> 0.24s at "
    "sf0.1) — and only the tiny merge step (a handful of partials per "
    "group) sums in decimal(38,0), which also removes the long path's "
    "per-group overflow bound at extreme SF.  The total is the same exact "
    "integer under any partitioning, so the oracle can sum rows directly "
    "(DuckDB accumulates BIGINT into HUGEINT).",
    oracle=f"""
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(l_quantity) AS DOUBLE)                                  AS sum_qty,
               {sql_cents_sum_money(SQL_PRICE_CENTS, 2)}                        AS sum_base_price,
               {sql_cents_sum_money(SQL_REVENUE_CENTS, 4)}                      AS sum_disc_price,
               {sql_cents_sum_money(SQL_CHARGE_CENTS, 6)}                       AS sum_charge,
               ROUND(SUM(l_quantity) / COUNT(*), 4)                             AS avg_qty,
               ROUND(CAST(SUM({SQL_PRICE_CENTS}) AS DOUBLE) / 100 / COUNT(*), 4) AS avg_price,
               ROUND(CAST(SUM({SQL_DISC_PCT}) AS DOUBLE) / 100 / COUNT(*), 4)   AS avg_disc,
               COUNT(*)                                                         AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # level 1: per (group, scan partition) partials, all-long hot loop
    partial = (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus", F.spark_partition_id().alias("_pid"))
        .agg(
            # l_quantity is integral -> double sum is exact as-is
            F.sum("l_quantity").alias("p_qty"),
            F.sum(cents("l_extendedprice")).alias("p_base"),
            F.sum(revenue_cents()).alias("p_rev"),
            F.sum(charge_cents()).alias("p_charge"),
            F.sum(cents("l_discount")).alias("p_disc"),
            F.count(F.lit(1)).alias("p_n"),
        )
    )
    # level 2: a handful of partials per group; decimal merge is exact at
    # any SF and costs nothing at this cardinality
    n = F.sum("p_n")
    return (
        partial.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("p_qty").alias("sum_qty"),
            partial_cents_merge("p_base", 2).alias("sum_base_price"),
            partial_cents_merge("p_rev", 4).alias("sum_disc_price"),
            partial_cents_merge("p_charge", 6).alias("sum_charge"),
            F.round(F.sum("p_qty") / n, 4).alias("avg_qty"),
            F.round(F.sum("p_base").cast("double") / 100 / n, 4).alias("avg_price"),
            F.round(F.sum("p_disc").cast("double") / 100 / n, 4).alias("avg_disc"),
            n.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "q3_shipping_priority",
    category="join",
    doc="TPC-H Q3-style 3-way join, agg, deterministic top-10.",
    oracle=f"""
        SELECT l_orderkey,
               {sql_cents_sum_money(SQL_REVENUE_CENTS, 4)}       AS revenue,
               strftime(o_orderdate, '%Y-%m-%d')                 AS orderdate,
               o_orderpriority
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-03-15'
          AND l_shipdate  > TIMESTAMP '1996-03-15'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey ASC
        LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-03-15").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(cents_sum_money(revenue_cents(), 4).alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "q5_local_supplier_volume",
    category="join",
    doc="TPC-H Q5-style 6-way join through the full join graph; dims broadcast.",
    oracle=f"""
        SELECT n_name,
               {sql_cents_sum_money(SQL_REVENUE_CENTS, 4)} AS revenue
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1999-01-01'
        GROUP BY n_name
        ORDER BY revenue DESC, n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(cents_sum_money(revenue_cents(), 4).alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


# --------------------------------------------------------------------------
# Join-type coverage
# --------------------------------------------------------------------------


@register(
    "join_left_outer",
    category="join",
    doc="Left outer join: every customer with order count incl. zero.",
    oracle="""
        SELECT c_custkey, c_mktsegment,
               COUNT(o_orderkey)                          AS n_orders,
               CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(12,2))), 0) AS DOUBLE) AS total_spent
        FROM customer
        LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey, c_mktsegment
        ORDER BY c_custkey
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(F.sum(dec("o_totalprice")), F.lit(0)).cast("double").alias("total_spent"),
        )
        .orderBy("c_custkey")
    )


@register(
    "join_right_outer",
    category="join",
    doc="Right outer join (mirror of left): orders RIGHT JOIN customer "
    "keeps customers with no orders in the probed date window.",
    oracle="""
        SELECT c_custkey,
               COUNT(o_orderkey) AS n_recent,
               CAST(COALESCE(MAX(CAST(o_totalprice AS DECIMAL(12,2))), -1) AS DOUBLE)
                   AS max_price
        FROM (SELECT * FROM orders
              WHERE o_orderdate >= TIMESTAMP '2001-01-01') o
        RIGHT JOIN customer ON o_custkey = c_custkey
        GROUP BY c_custkey
        ORDER BY c_custkey
    """,
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")
    )
    cust = load_table(spark, sf_dir, "customer")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey, "right")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_recent"),
            F.coalesce(F.max(dec("o_totalprice")), F.lit(-1)).cast("double").alias("max_price"),
        )
        .orderBy("c_custkey")
    )


@register(
    "join_full_outer",
    category="join",
    doc="Full outer join with unmatched rows on both sides.",
    oracle="""
        WITH a AS (SELECT o_custkey AS k, COUNT(*) AS n_orders
                   FROM orders WHERE o_custkey % 3 = 0 GROUP BY o_custkey),
             b AS (SELECT c_custkey AS k, c_acctbal
                   FROM customer WHERE c_custkey % 2 = 0)
        SELECT COALESCE(a.k, b.k)            AS custkey,
               COALESCE(a.n_orders, -1)      AS n_orders,
               ROUND(COALESCE(b.c_acctbal, -1.0), 2) AS acctbal
        FROM a FULL OUTER JOIN b ON a.k = b.k
        ORDER BY custkey
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") % 3 == 0)
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count("*").alias("n_orders"))
    )
    b = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 2 == 0)
        .select(F.col("c_custkey").alias("k"), "c_acctbal")
    )
    return (
        a.join(b, a.k == b.k, "full_outer")
        .select(
            F.coalesce(a.k, b.k).alias("custkey"),
            F.coalesce(F.col("n_orders"), F.lit(-1)).alias("n_orders"),
            F.round(F.coalesce(F.col("c_acctbal"), F.lit(-1.0)), 2).alias("acctbal"),
        )
        .orderBy("custkey")
    )


@register(
    "join_semi",
    category="join",
    doc="Left-semi join (EXISTS): customers that placed high-priority orders.",
    oracle="""
        SELECT c_custkey, c_name
        FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        ORDER BY c_custkey
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    urgent = load_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@register(
    "join_anti",
    category="join",
    doc="Left-anti join (NOT EXISTS): customers with no orders at all.",
    oracle="""
        SELECT c_custkey, c_mktsegment
        FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        ORDER BY c_custkey
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    )


@register(
    "join_cross",
    category="join",
    doc="Cross join of the two bounded dims (region x nation head).",
    oracle="""
        SELECT r_name, n_name
        FROM region CROSS JOIN (SELECT n_name FROM nation WHERE n_nationkey < 5) n
        ORDER BY r_name, n_name
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region").select("r_name")
    nation = (
        load_table(spark, sf_dir, "nation").filter(F.col("n_nationkey") < 5).select("n_name")
    )
    return region.crossJoin(nation).orderBy("r_name", "n_name")


@register(
    "join_theta_inequality",
    category="join",
    doc="Theta (non-equi) join: supplier x nation on key inequality.",
    oracle="""
        SELECT s_suppkey, n_nationkey
        FROM supplier JOIN nation ON s_nationkey < n_nationkey
        ORDER BY s_suppkey, n_nationkey
    """,
)
def join_theta_inequality(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    return (
        supp.join(F.broadcast(nation), supp.s_nationkey < nation.n_nationkey)
        .select("s_suppkey", "n_nationkey")
        .orderBy("s_suppkey", "n_nationkey")
    )


@register(
    "join_range_band",
    category="join",
    doc=(
        "Range/band join: orders bucketed into price bands via BETWEEN. "
        "The band table is broadcast so the range join is a broadcast "
        "nested loop over 6 rows, not a shuffle."
    ),
    oracle="""
        WITH bands AS (
            SELECT i AS band_id, i * 50000.0 AS lo, (i + 1) * 50000.0 AS hi
            FROM range(0, 6) t(i)
        )
        SELECT band_id, COUNT(*) AS n_orders,
               ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 2) AS avg_price
        FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
        GROUP BY band_id
        ORDER BY band_id
    """,
)
def join_range_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    bands = spark.range(0, 6).select(
        F.col("id").alias("band_id"),
        (F.col("id") * 50000.0).alias("lo"),
        ((F.col("id") + 1) * 50000.0).alias("hi"),
    )
    return (
        orders.join(
            F.broadcast(bands),
            (orders.o_totalprice >= bands.lo) & (orders.o_totalprice < bands.hi),
        )
        .groupBy("band_id")
        .agg(
            F.count("*").alias("n_orders"),
            money_avg(dec("o_totalprice"), 2).alias("avg_price"),
        )
        .orderBy("band_id")
    )


# --------------------------------------------------------------------------
# Aggregation coverage
# --------------------------------------------------------------------------


@register(
    "agg_functions",
    category="aggregation",
    doc="Aggregate function battery incl. count distinct, stddev, corr.",
    oracle="""
        SELECT l_returnflag,
               COUNT(*)                                   AS n,
               COUNT(DISTINCT l_orderkey)                 AS n_orders,
               ROUND(MIN(l_extendedprice), 2)             AS min_price,
               ROUND(MAX(l_extendedprice), 2)             AS max_price,
               ROUND(STDDEV_SAMP(l_quantity), 4)          AS sd_qty,
               ROUND(CORR(l_quantity, l_extendedprice), 4) AS corr_qty_price
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
)
def agg_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("l_orderkey").alias("n_orders"),
            F.round(F.min("l_extendedprice"), 2).alias("min_price"),
            F.round(F.max("l_extendedprice"), 2).alias("max_price"),
            F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
            F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "agg_rollup",
    category="aggregation",
    doc="ROLLUP hierarchy totals with GROUPING() marker.",
    oracle="""
        SELECT COALESCE(l_returnflag, '<all>') AS returnflag,
               COALESCE(l_linestatus, '<all>') AS linestatus,
               GROUPING(l_returnflag) + GROUPING(l_linestatus) AS lvl,
               ROUND(SUM(l_quantity), 2) AS sum_qty
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
        ORDER BY returnflag, linestatus, lvl
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            (F.grouping("l_returnflag") + F.grouping("l_linestatus")).alias("lvl"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("<all>")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("<all>")).alias("linestatus"),
            "lvl",
            "sum_qty",
        )
        .orderBy("returnflag", "linestatus", "lvl")
    )


@register(
    "agg_hypertable_rollup",
    category="aggregation",
    doc="Hypertable-style continuous-aggregate rollup: month > day > hour "
    "time hierarchy materialized in ONE pass via ROLLUP on truncated "
    "timestamps (the TimescaleDB continuous-aggregate shape). At scale "
    "this is the cheapest multi-grain build: one shuffle produces every "
    "grain; finer grains never re-scan the fact.",
    oracle="""
        SELECT COALESCE(strftime(date_trunc('month', ts), '%Y-%m-%d'), '<all>') AS month,
               COALESCE(strftime(date_trunc('day', ts), '%Y-%m-%d'), '<all>')   AS day,
               COALESCE(strftime(date_trunc('hour', ts), '%Y-%m-%d %H'), '<all>') AS hour,
               COUNT(*) AS n,
               ROUND(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 2) AS total
        FROM events
        WHERE ts < TIMESTAMP '2024-01-04'
        GROUP BY ROLLUP (date_trunc('month', ts), date_trunc('day', ts),
                         date_trunc('hour', ts))
        ORDER BY month, day, hour
    """,
)
def agg_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts") < F.lit("2024-01-04").cast("timestamp")
    )
    ev = ev.select(
        F.date_trunc("month", "ts").alias("m"),
        F.date_trunc("day", "ts").alias("d"),
        F.date_trunc("hour", "ts").alias("h"),
        "value",
    )
    return (
        ev.rollup("m", "d", "h")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(12,2)")).cast("double"), 2).alias(
                "total"
            ),
        )
        .select(
            F.coalesce(F.date_format("m", "yyyy-MM-dd"), F.lit("<all>")).alias("month"),
            F.coalesce(F.date_format("d", "yyyy-MM-dd"), F.lit("<all>")).alias("day"),
            F.coalesce(F.date_format("h", "yyyy-MM-dd HH"), F.lit("<all>")).alias("hour"),
            "n",
            "total",
        )
        .orderBy("month", "day", "hour")
    )


@register(
    "agg_cube",
    category="aggregation",
    doc="CUBE over two dimensions.",
    oracle="""
        SELECT COALESCE(l_returnflag, '<all>') AS returnflag,
               COALESCE(l_linestatus, '<all>') AS linestatus,
               COUNT(*) AS n
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
        ORDER BY returnflag, linestatus
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("<all>")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("<all>")).alias("linestatus"),
            "n",
        )
        .orderBy("returnflag", "linestatus")
    )


@register(
    "agg_grouping_sets",
    category="aggregation",
    doc="Explicit GROUPING SETS via SQL (Catalyst expands to union of aggs).",
    oracle="""
        SELECT COALESCE(o_orderstatus, '<all>')   AS orderstatus,
               COALESCE(o_orderpriority, '<all>') AS orderpriority,
               COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY orderstatus, orderpriority
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT COALESCE(o_orderstatus, '<all>')   AS orderstatus,
               COALESCE(o_orderpriority, '<all>') AS orderpriority,
               COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY orderstatus, orderpriority
        """
    )


@register(
    "agg_pivot",
    category="aggregation",
    doc="Pivot linestatus into columns (conditional aggregation).",
    oracle="""
        SELECT l_returnflag,
               ROUND(SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS qty_open,
               ROUND(SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS qty_filled
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 2))
        .withColumnRenamed("O", "qty_open")
        .withColumnRenamed("F", "qty_filled")
        .orderBy("l_returnflag")
    )


@register(
    "agg_unpivot",
    category="aggregation",
    doc="Unpivot/melt: wide part attributes to (attr, val) long format — "
    "the inverse of pivot; a narrow transform (no shuffle).",
    oracle="""
        SELECT p_partkey, 'retailprice' AS attr,
               ROUND(p_retailprice, 2) AS val
        FROM part WHERE p_partkey % 40 = 0
        UNION ALL
        SELECT p_partkey, 'size' AS attr, CAST(p_size AS DOUBLE) AS val
        FROM part WHERE p_partkey % 40 = 0
        ORDER BY p_partkey, attr
    """,
)
def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") % 40 == 0)
    wide = part.select(
        "p_partkey",
        F.round("p_retailprice", 2).alias("retailprice"),
        F.col("p_size").cast("double").alias("size"),
    )
    return wide.unpivot(
        ["p_partkey"], ["retailprice", "size"], "attr", "val"
    ).orderBy("p_partkey", "attr")


@register(
    "agg_approx",
    category="aggregation",
    doc=(
        "Approximate aggregates: percentile_approx checked against exact "
        "DuckDB quantile on the discrete domain; approx_count_distinct is "
        "validated exactly in unit tests (error-bounded), not via oracle."
    ),
    oracle="""
        SELECT l_returnflag,
               ROUND(quantile_disc(l_quantity, 0.5), 2) AS p50_qty
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
)
def agg_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.percentile_approx("l_quantity", 0.5, 1000000), 2).alias("p50_qty"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# Set ops / distinct / sort / limit
# --------------------------------------------------------------------------


@register(
    "set_intersect",
    category="set-ops",
    doc="INTERSECT: customers in BUILDING segment who also placed urgent orders.",
    oracle="""
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        INTERSECT
        SELECT o_custkey AS c_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        ORDER BY c_custkey
    """,
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    urgent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return cust.intersect(urgent).orderBy("c_custkey")


@register(
    "set_except",
    category="set-ops",
    doc="EXCEPT: customers that never placed an urgent order.",
    oracle="""
        SELECT c_custkey FROM customer
        EXCEPT
        SELECT o_custkey AS c_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        ORDER BY c_custkey
    """,
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    urgent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return cust.exceptAll(urgent).distinct().orderBy("c_custkey")


@register(
    "set_except_all",
    category="set-ops",
    doc="EXCEPT ALL (bag semantics): per-customer urgent-order keys minus "
    "high-priority ones, KEEPING multiplicity — a customer with three "
    "urgent and one high keeps two rows.  exceptAll is one shuffle with "
    "count-matching, no join explosion.",
    oracle="""
        SELECT c FROM (
            SELECT o_custkey AS c FROM orders WHERE o_orderpriority = '1-URGENT'
            EXCEPT ALL
            SELECT o_custkey AS c FROM orders WHERE o_orderpriority = '2-HIGH'
        ) ORDER BY c
    """,
)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("c")
    )
    high = o.filter(F.col("o_orderpriority") == "2-HIGH").select(
        F.col("o_custkey").alias("c")
    )
    return urgent.exceptAll(high).orderBy("c")


@register(
    "set_intersect_all",
    category="set-ops",
    doc="INTERSECT ALL (bag semantics): min-multiplicity intersection of "
    "urgent and high order keys per customer.",
    oracle="""
        SELECT c FROM (
            SELECT o_custkey AS c FROM orders WHERE o_orderpriority = '1-URGENT'
            INTERSECT ALL
            SELECT o_custkey AS c FROM orders WHERE o_orderpriority = '2-HIGH'
        ) ORDER BY c
    """,
)
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("c")
    )
    high = o.filter(F.col("o_orderpriority") == "2-HIGH").select(
        F.col("o_custkey").alias("c")
    )
    return urgent.intersectAll(high).orderBy("c")


@register(
    "set_union_distinct",
    category="set-ops",
    doc="UNION (mux fan-in analogue, actor/mux.go:56-59) + distinct.",
    oracle="""
        SELECT k FROM (
            SELECT c_nationkey AS k FROM customer
            UNION
            SELECT s_nationkey AS k FROM supplier
        ) ORDER BY k
    """,
)
def set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k"))
    return c.unionByName(s).distinct().orderBy("k")


@register(
    "set_union_schema_evolution",
    category="set-ops",
    doc="Schema-drift union: two sources sharing only part of their "
    "columns combine by NAME with missing columns null-filled "
    "(unionByName allowMissingColumns / UNION ALL BY NAME) — the "
    "append pattern a long-lived 100 TB table needs when producers add "
    "columns over time; positional UNION would silently misalign.",
    oracle="""
        SELECT src, COUNT(*) AS n,
               COUNT(segment)   AS n_with_segment,
               COUNT(nationkey) AS n_with_nationkey,
               CAST(SUM(id) AS BIGINT) AS id_sum
        FROM (
            SELECT 'c' AS src, c_custkey AS id, c_mktsegment AS segment
            FROM customer
            UNION ALL BY NAME
            SELECT 's' AS src, s_suppkey AS id, s_nationkey AS nationkey
            FROM supplier
        )
        GROUP BY src ORDER BY src
    """,
)
def set_union_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(
        F.lit("c").alias("src"),
        F.col("c_custkey").alias("id"),
        F.col("c_mktsegment").alias("segment"),
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.lit("s").alias("src"),
        F.col("s_suppkey").alias("id"),
        F.col("s_nationkey").alias("nationkey"),
    )
    return (
        c.unionByName(s, allowMissingColumns=True)
        .groupBy("src")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("segment").alias("n_with_segment"),
            F.count("nationkey").alias("n_with_nationkey"),
            F.sum("id").cast("bigint").alias("id_sum"),
        )
        .orderBy("src")
    )


@register(
    "sort_topk_global",
    category="sort",
    doc="Global top-k with deterministic tiebreak (TakeOrderedAndProject).",
    oracle="""
        SELECT o_orderkey, ROUND(o_totalprice, 2) AS totalprice
        FROM orders
        ORDER BY o_totalprice DESC, o_orderkey ASC
        LIMIT 25
    """,
)
def sort_topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", F.round("o_totalprice", 2).alias("totalprice"))
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(25)
    )


@register(
    "distinct_pairs",
    category="set-ops",
    doc="dropDuplicates on a projection.",
    oracle="""
        SELECT DISTINCT l_returnflag, l_linestatus
        FROM lineitem ORDER BY l_returnflag, l_linestatus
    """,
)
def distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select("l_returnflag", "l_linestatus")
        .dropDuplicates()
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "filter_predicates",
    category="filter",
    doc="Predicate battery: IN / LIKE / BETWEEN / IS NULL / boolean mix (pushdown-eligible).",
    oracle="""
        SELECT p_partkey, p_brand, p_size
        FROM part
        WHERE p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
          AND p_size BETWEEN 10 AND 40
          AND p_name LIKE '%a%'
          AND p_retailprice IS NOT NULL
          AND (p_size % 2 = 0 OR p_brand = 'Brand#1')
        ORDER BY p_partkey
    """,
)
def filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return (
        part.filter(
            F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3")
            & F.col("p_size").between(10, 40)
            & F.col("p_name").like("%a%")
            & F.col("p_retailprice").isNotNull()
            & ((F.col("p_size") % 2 == 0) | (F.col("p_brand") == "Brand#1"))
        )
        .select("p_partkey", "p_brand", "p_size")
        .orderBy("p_partkey")
    )


@register(
    "subquery_correlated_agg",
    category="filter",
    doc="Scalar-subquery predicate: lineitems above their part's avg quantity.",
    oracle="""
        WITH pavg AS (
            SELECT l_partkey AS pk, AVG(l_quantity) AS avg_qty
            FROM lineitem GROUP BY l_partkey
        )
        SELECT COUNT(*) AS n, ROUND(SUM(l_quantity), 2) AS sum_qty
        FROM lineitem JOIN pavg ON l_partkey = pk
        WHERE l_quantity > avg_qty
    """,
)
def subquery_correlated_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pavg = li.groupBy(F.col("l_partkey").alias("pk")).agg(F.avg("l_quantity").alias("avg_qty"))
    return (
        li.join(pavg, li.l_partkey == pavg.pk)
        .filter(F.col("l_quantity") > F.col("avg_qty"))
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
    )


@register(
    "sql_interface",
    category="scan",
    doc="The SQL entry point: fixture tables registered as views, the "
    "query authored and executed as ANSI SQL through spark.sql (same "
    "Catalyst plan as the DataFrame form — the engine exposes both "
    "surfaces).",
    oracle="""
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_big
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1998-01-01'
          AND o_orderdate <  TIMESTAMP '1999-01-01'
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
)
def sql_interface(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flow_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               SUM(CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END) AS n_big
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1998-01-01'
          AND o_orderdate <  TIMESTAMP '1999-01-01'
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """
    )


@register(
    "agg_minmax_by",
    category="aggregation",
    doc="max_by / min_by argmax aggregates: per segment, the customer "
    "holding the extreme balance (single pass, no self-join back). The "
    "ordering key is an exact integer composite (balance cents * 1e8 + "
    "custkey) so ties break identically in both engines.",
    oracle="""
        SELECT c_mktsegment,
               arg_max(c_custkey,
                       CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) * 100000000
                       + c_custkey) AS richest,
               arg_min(c_custkey,
                       CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) * 100000000
                       + c_custkey) AS poorest,
               ROUND(MAX(c_acctbal), 2) AS max_bal
        FROM customer
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
    """,
)
def agg_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flow_spark.queries.util import cents

    cust = load_table(spark, sf_dir, "customer")
    key = cents("c_acctbal") * F.lit(100_000_000) + F.col("c_custkey")
    return (
        cust.groupBy("c_mktsegment")
        .agg(
            F.max_by("c_custkey", key).alias("richest"),
            F.min_by("c_custkey", key).alias("poorest"),
            F.round(F.max("c_acctbal"), 2).alias("max_bal"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "join_lateral",
    category="join",
    doc="LATERAL correlated table subquery: each segment's top-2 customers "
    "by balance, written as SQL LATERAL (Catalyst decorrelates to a "
    "ranked window under the hood).",
    oracle="""
        SELECT s.c_mktsegment, t.c_custkey, ROUND(t.c_acctbal, 2) AS bal
        FROM (SELECT DISTINCT c_mktsegment FROM customer) s,
        LATERAL (
            SELECT c_custkey, c_acctbal FROM customer c
            WHERE c.c_mktsegment = s.c_mktsegment
            ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 2
        ) t
        ORDER BY s.c_mktsegment, bal DESC, t.c_custkey
    """,
)
def join_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flow_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT s.c_mktsegment, t.c_custkey, ROUND(t.c_acctbal, 2) AS bal
        FROM (SELECT DISTINCT c_mktsegment FROM customer) s,
        LATERAL (
            SELECT c_custkey, c_acctbal FROM customer c
            WHERE c.c_mktsegment = s.c_mktsegment
            ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 2
        ) t
        ORDER BY s.c_mktsegment, bal DESC, t.c_custkey
        """
    )


@register(
    "agg_stats_regression",
    category="aggregation",
    doc="Statistical-aggregate battery: linear regression (slope/intercept/"
    "r2), covariance (pop+samp), variance, skewness, kurtosis per return "
    "flag. All are single-pass streaming-moment aggregates in Spark "
    "(partial moments merge associatively across partitions, so the plan "
    "is a map-side partial agg + one tiny shuffle of per-group moment "
    "tuples — the same shape at 100 TB). Definition care: Spark skewness/"
    "kurtosis are the POPULATION g1/g2; DuckDB's skewness is the bias-"
    "corrected sample G1, converted back via (n-2)/sqrt(n(n-1)); DuckDB "
    "kurtosis_pop matches Spark's excess g2 directly.",
    oracle="""
        SELECT l_returnflag,
               ROUND(regr_slope(l_extendedprice, l_quantity), 4)     AS slope,
               ROUND(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
               ROUND(regr_r2(l_extendedprice, l_quantity), 6)        AS r2,
               ROUND(covar_pop(l_quantity, l_extendedprice), 2)      AS cov_pop,
               ROUND(covar_samp(l_quantity, l_extendedprice), 2)     AS cov_samp,
               ROUND(var_pop(l_quantity), 4)                         AS qty_var_pop,
               ROUND(var_samp(l_quantity), 4)                        AS qty_var_samp,
               ROUND(skewness(l_quantity)
                     * (COUNT(*) - 2)
                     / SQRT(COUNT(*) * (COUNT(*) - 1.0)), 4)         AS qty_skew,
               ROUND(kurtosis_pop(l_quantity), 4)                    AS qty_kurt
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
)
def agg_stats_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias("slope"),
            F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 4).alias("intercept"),
            F.round(F.regr_r2("l_extendedprice", "l_quantity"), 6).alias("r2"),
            F.round(F.covar_pop("l_quantity", "l_extendedprice"), 2).alias("cov_pop"),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias("cov_samp"),
            F.round(F.var_pop("l_quantity"), 4).alias("qty_var_pop"),
            F.round(F.var_samp("l_quantity"), 4).alias("qty_var_samp"),
            F.round(F.skewness("l_quantity"), 4).alias("qty_skew"),
            F.round(F.kurtosis("l_quantity"), 4).alias("qty_kurt"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "agg_pivot_dynamic",
    category="aggregation",
    doc="PIVOT with a DYNAMIC column list: daily event counts pivoted by "
    "event_type with NO values list, so Spark runs the distinct-values "
    "discovery job first (two-pass pivot). At 100 TB the discovery pass "
    "is a cheap distinct over one low-cardinality column (pruned scan), "
    "and the pivot itself is an ordinary map-side-combinable aggregate "
    "over |days| x |types| cells. Discovered columns come back "
    "lexicographically sorted, which the oracle mirrors.",
    oracle="""
        SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
               CAST(SUM(CASE WHEN event_type = 'click'    THEN 1 END) AS BIGINT) AS click,
               CAST(SUM(CASE WHEN event_type = 'error'    THEN 1 END) AS BIGINT) AS error,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase,
               CAST(SUM(CASE WHEN event_type = 'signup'   THEN 1 END) AS BIGINT) AS signup,
               CAST(SUM(CASE WHEN event_type = 'view'     THEN 1 END) AS BIGINT) AS view
        FROM events
        GROUP BY day
        ORDER BY day
    """,
)
def agg_pivot_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .pivot("event_type")  # no values list: dynamic discovery pass
        .agg(F.count(F.lit(1)))
        .orderBy("day")
    )


@register(
    "join_anti_null_aware",
    category="join",
    doc="Null-aware anti join: NOT IN over a subquery when the probe key "
    "can be NULL — SQL three-valued logic makes `NULL NOT IN (...)` "
    "UNKNOWN, so null-keyed rows are dropped, which a naive left_anti "
    "join (null never matches -> kept) gets WRONG. Expressed through "
    "spark.sql so Catalyst plans its null-aware anti join; every 100th "
    "order's key is nulled to make the trap live. At scale Spark "
    "executes this as a broadcast null-aware anti join when the "
    "subquery fits, else falls back — the subquery here is a filtered "
    "customer set (broadcastable).",
    oracle="""
        SELECT o_orderpriority,
               COUNT(*) AS n,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,2))), 2)
                    AS DOUBLE) AS total
        FROM (
            SELECT o_orderpriority, o_totalprice,
                   CASE WHEN o_orderkey % 100 = 0 THEN NULL
                        ELSE o_custkey END AS probe_key
            FROM orders
        )
        WHERE probe_key NOT IN (
            SELECT c_custkey FROM customer WHERE c_custkey % 7 = 0
        )
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
)
def join_anti_null_aware(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("v_orders_naaj")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("v_cust_naaj")
    return spark.sql(
        """
        SELECT o_orderpriority,
               COUNT(*) AS n,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,2))), 2)
                    AS DOUBLE) AS total
        FROM (
            SELECT o_orderpriority, o_totalprice,
                   CASE WHEN o_orderkey % 100 = 0 THEN NULL
                        ELSE o_custkey END AS probe_key
            FROM v_orders_naaj
        )
        WHERE probe_key NOT IN (
            SELECT c_custkey FROM v_cust_naaj WHERE c_custkey % 7 = 0
        )
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """
    )


@register(
    "profile_columns",
    category="profiling",
    doc="Single-pass table profiling (the first step of any ingest "
    "pipeline at 100 TB): per column null count, exact distinct count, "
    "and min/max, computed in ONE scan via a multi-aggregate then "
    "unpivoted with stack(). Numerics surface as doubles, "
    "strings/timestamps as formatted strings. Scale note: the exact "
    "countDistincts expand the shuffle n_cols-fold; production "
    "profiling swaps them for HLL sketches (see sketch_hll_native) to "
    "keep one combine-able pass.",
    oracle="""
        SELECT 'o_custkey' AS col_name,
               COUNT(*) - COUNT(o_custkey) AS n_nulls,
               COUNT(DISTINCT o_custkey) AS n_distinct,
               CAST(MIN(o_custkey) AS DOUBLE) AS min_d,
               CAST(MAX(o_custkey) AS DOUBLE) AS max_d,
               NULL AS min_s, NULL AS max_s
        FROM orders
        UNION ALL
        SELECT 'o_totalprice', COUNT(*) - COUNT(o_totalprice),
               COUNT(DISTINCT o_totalprice),
               CAST(MIN(o_totalprice) AS DOUBLE), CAST(MAX(o_totalprice) AS DOUBLE),
               NULL, NULL
        FROM orders
        UNION ALL
        SELECT 'o_orderstatus', COUNT(*) - COUNT(o_orderstatus),
               COUNT(DISTINCT o_orderstatus), NULL, NULL,
               MIN(o_orderstatus), MAX(o_orderstatus)
        FROM orders
        UNION ALL
        SELECT 'o_orderpriority', COUNT(*) - COUNT(o_orderpriority),
               COUNT(DISTINCT o_orderpriority), NULL, NULL,
               MIN(o_orderpriority), MAX(o_orderpriority)
        FROM orders
        UNION ALL
        SELECT 'o_orderdate', COUNT(*) - COUNT(o_orderdate),
               COUNT(DISTINCT o_orderdate), NULL, NULL,
               strftime(MIN(o_orderdate), '%Y-%m-%d %H:%M:%S'),
               strftime(MAX(o_orderdate), '%Y-%m-%d %H:%M:%S')
        FROM orders
        ORDER BY col_name
    """,
)
def profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    ts_fmt = "yyyy-MM-dd HH:mm:ss"

    def null_cnt(c):
        return F.count(F.when(F.col(c).isNull(), 1))

    agg = o.agg(
        *[
            e
            for c in ("o_custkey", "o_totalprice", "o_orderstatus",
                      "o_orderpriority", "o_orderdate")
            for e in (
                null_cnt(c).alias(f"{c}__nulls"),
                F.countDistinct(c).alias(f"{c}__distinct"),
            )
        ],
        F.min("o_custkey").cast("double").alias("o_custkey__min_d"),
        F.max("o_custkey").cast("double").alias("o_custkey__max_d"),
        F.min("o_totalprice").cast("double").alias("o_totalprice__min_d"),
        F.max("o_totalprice").cast("double").alias("o_totalprice__max_d"),
        F.min("o_orderstatus").alias("o_orderstatus__min_s"),
        F.max("o_orderstatus").alias("o_orderstatus__max_s"),
        F.min("o_orderpriority").alias("o_orderpriority__min_s"),
        F.max("o_orderpriority").alias("o_orderpriority__max_s"),
        F.date_format(F.min("o_orderdate"), ts_fmt).alias("o_orderdate__min_s"),
        F.date_format(F.max("o_orderdate"), ts_fmt).alias("o_orderdate__max_s"),
    )
    # stack the wide 1-row aggregate into one row per column
    stack_expr = "stack(5, " + ", ".join(
        f"'{c}', {c}__nulls, {c}__distinct, "
        + (
            f"{c}__min_d, {c}__max_d, CAST(NULL AS STRING), CAST(NULL AS STRING)"
            if c in ("o_custkey", "o_totalprice")
            else f"CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), {c}__min_s, {c}__max_s"
        )
        for c in ("o_custkey", "o_totalprice", "o_orderstatus",
                  "o_orderpriority", "o_orderdate")
    ) + ") AS (col_name, n_nulls, n_distinct, min_d, max_d, min_s, max_s)"
    return agg.selectExpr(stack_expr).orderBy("col_name")


@register(
    "merge_changeset_apply",
    category="join",
    doc="MERGE/upsert semantics without a table format: apply a changeset "
    "(updates to existing customers + inserts of new keys) to a base "
    "dimension via FULL OUTER join + coalesce — matched rows get "
    "balance+delta, change-only keys insert, base-only keys carry "
    "through, all in exact cents. This is the scalable MERGE pattern: "
    "one shuffle on the key (or broadcast when the changeset is small); "
    "with a transactional table format the same plan runs under "
    "MERGE INTO. The changeset is derived deterministically from 1998 "
    "orders (every 97th customer also appears as a synthetic insert).",
    oracle="""
        WITH base AS (
            SELECT c_custkey AS k,
                   CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents
            FROM customer
        ),
        deltas AS (
            SELECT o_custkey,
                   CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS delta_cents
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1998-01-01'
            GROUP BY o_custkey
        ),
        changes AS (
            SELECT o_custkey AS k, delta_cents FROM deltas
            UNION ALL
            SELECT o_custkey + 10000000 AS k, delta_cents
            FROM deltas WHERE o_custkey % 97 = 0
        )
        SELECT COALESCE(b.k, c.k) AS k,
               CASE WHEN b.k IS NULL THEN 'insert'
                    WHEN c.k IS NULL THEN 'carry'
                    ELSE 'update' END AS action,
               CAST(COALESCE(b.bal_cents, 0) + COALESCE(c.delta_cents, 0)
                    AS BIGINT) AS new_bal_cents
        FROM base b FULL OUTER JOIN changes c ON b.k = c.k
        ORDER BY k
    """,
)
def merge_changeset_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("bk"),
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("bal_cents"),
    )
    deltas = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
        .groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
                "delta_cents"
            )
        )
    )
    changes = deltas.select(F.col("o_custkey").alias("ck"), "delta_cents").unionByName(
        deltas.filter(F.col("o_custkey") % 97 == 0).select(
            (F.col("o_custkey") + 10_000_000).alias("ck"), "delta_cents"
        )
    )
    merged = base.join(changes, F.col("bk") == F.col("ck"), "full_outer")
    return merged.select(
        F.coalesce("bk", "ck").alias("k"),
        F.when(F.col("bk").isNull(), "insert")
        .when(F.col("ck").isNull(), "carry")
        .otherwise("update")
        .alias("action"),
        (
            F.coalesce("bal_cents", F.lit(0)) + F.coalesce("delta_cents", F.lit(0))
        ).alias("new_bal_cents"),
    ).orderBy("k")


@register(
    "join_existence_flags",
    category="join",
    doc="Existence-mark join: one pass computes multiple EXISTS flags per "
    "customer (has urgent order / has large order) as MAX(CASE) over a "
    "single left join — the scalable form of N correlated EXISTS "
    "subqueries (one shuffle, no per-flag re-probe of the fact table).",
    oracle="""
        SELECT c_custkey,
               COALESCE(MAX(CASE WHEN o_orderpriority = '1-URGENT'
                                 THEN 1 ELSE 0 END), 0) AS has_urgent,
               COALESCE(MAX(CASE WHEN o_totalprice > 200000
                                 THEN 1 ELSE 0 END), 0) AS has_large,
               COUNT(o_orderkey) AS n_orders
        FROM customer
        LEFT JOIN orders ON o_custkey = c_custkey
        WHERE c_custkey % 20 = 0
        GROUP BY c_custkey
        ORDER BY c_custkey
    """,
)
def join_existence_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") % 20 == 0)
    orders = load_table(spark, sf_dir, "orders")
    j = cust.join(orders, orders.o_custkey == cust.c_custkey, "left")
    return (
        j.groupBy("c_custkey")
        .agg(
            F.coalesce(
                F.max(F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)),
                F.lit(0),
            ).alias("has_urgent"),
            F.coalesce(
                F.max(F.when(F.col("o_totalprice") > 200000, 1).otherwise(0)),
                F.lit(0),
            ).alias("has_large"),
            F.count("o_orderkey").alias("n_orders"),
        )
        .orderBy("c_custkey")
    )


@register(
    "agg_mode_deterministic",
    category="aggregation",
    doc="Statistical mode per group with an explicit deterministic "
    "tiebreak (highest count, then lexicographically smallest value) — "
    "built from counts + row_number because both engines' native "
    "mode() leave ties unspecified, which is exactly the kind of "
    "nondeterminism a retried 100 TB job cannot tolerate.",
    oracle="""
        WITH counts AS (
            SELECT c_mktsegment, o_orderpriority, COUNT(*) AS n
            FROM customer JOIN orders ON o_custkey = c_custkey
            GROUP BY c_mktsegment, o_orderpriority
        ),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY c_mktsegment
                ORDER BY n DESC, o_orderpriority ASC
            ) AS rn
            FROM counts
        )
        SELECT c_mktsegment, o_orderpriority AS mode_priority, n
        FROM ranked WHERE rn = 1
        ORDER BY c_mktsegment
    """,
)
def agg_mode_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    counts = (
        cust.join(orders, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = W.partitionBy("c_mktsegment").orderBy(F.desc("n"), F.asc("o_orderpriority"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("c_mktsegment", F.col("o_orderpriority").alias("mode_priority"), "n")
        .orderBy("c_mktsegment")
    )


@register(
    "sql_recursive_cte",
    category="sql",
    doc="Recursive CTE (Spark 4 WITH RECURSIVE): each sampled customer "
    "walks its derived ancestor chain (node -> node div 2, a binary-"
    "tree encoding over the key space) to the root, aggregating chain "
    "length and path-key sum — iterative reachability expressed "
    "declaratively so the engine handles the fixed-point loop; the "
    "same computation dedup_components hand-rolls with a driver loop. "
    "All-integer arithmetic, identical recursion in DuckDB.",
    oracle="""
        WITH RECURSIVE chain(start, node, depth) AS (
            SELECT c_custkey, c_custkey, 0
            FROM customer WHERE c_custkey % 100 = 0
            UNION ALL
            SELECT start, node // 2, depth + 1
            FROM chain WHERE node > 0
        )
        SELECT start,
               CAST(MAX(depth) AS BIGINT) AS chain_len,
               CAST(SUM(node) AS BIGINT)  AS key_path_sum
        FROM chain
        GROUP BY start
        ORDER BY start
    """,
)
def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flow_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH RECURSIVE chain(start, node, depth) AS (
            SELECT c_custkey, c_custkey, 0
            FROM customer WHERE c_custkey % 100 = 0
            UNION ALL
            SELECT start, node DIV 2, depth + 1
            FROM chain WHERE node > 0
        )
        SELECT start,
               CAST(MAX(depth) AS BIGINT) AS chain_len,
               CAST(SUM(node) AS BIGINT)  AS key_path_sum
        FROM chain
        GROUP BY start
        ORDER BY start
        """
    )


@register(
    "dq_expectations",
    category="data-quality",
    doc="Declarative data-quality gate (expectations suite): range, "
    "not-null, domain, referential-integrity, and cross-table ordering "
    "checks, each reported as (check, n_checked, n_violations, passed). "
    "Scale shape: per-table checks fold into ONE multi-aggregate scan "
    "per table (no per-check passes); the referential check is a "
    "broadcast anti-join on the dim key; nothing shuffles more than the "
    "4-row summaries. The pattern a 100 TB ingest gate runs before "
    "publishing a partition.",
    oracle="""
        WITH o AS (
            SELECT COUNT(*) AS n,
                   CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS bad_price,
                   CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS bad_date,
                   CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P')
                        THEN 1 ELSE 0 END) AS BIGINT) AS bad_status
            FROM orders
        ),
        l AS (
            SELECT COUNT(*) AS n,
                   CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50
                        THEN 1 ELSE 0 END) AS BIGINT) AS bad_qty,
                   CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1
                        THEN 1 ELSE 0 END) AS BIGINT) AS bad_disc
            FROM lineitem
        ),
        orphans AS (
            SELECT (SELECT COUNT(*) FROM orders) AS n,
                   COUNT(*) AS bad
            FROM orders o ANTI JOIN customer c ON o.o_custkey = c.c_custkey
        ),
        ship AS (
            SELECT COUNT(*) AS n,
                   CAST(SUM(CASE WHEN l.l_shipdate < o.o_orderdate
                        THEN 1 ELSE 0 END) AS BIGINT) AS bad
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        )
        SELECT * FROM (
            SELECT 'orders_totalprice_positive' AS check_name, n AS n_checked,
                   bad_price AS n_violations, bad_price = 0 AS passed FROM o
            UNION ALL
            SELECT 'orders_orderdate_not_null', n, bad_date, bad_date = 0 FROM o
            UNION ALL
            SELECT 'orders_status_domain', n, bad_status, bad_status = 0 FROM o
            UNION ALL
            SELECT 'lineitem_quantity_range', n, bad_qty, bad_qty = 0 FROM l
            UNION ALL
            SELECT 'lineitem_discount_range', n, bad_disc, bad_disc = 0 FROM l
            UNION ALL
            SELECT 'orders_custkey_referential', n, bad, bad = 0 FROM orphans
            UNION ALL
            SELECT 'lineitem_ship_after_order', n, bad, bad = 0 FROM ship
        ) ORDER BY check_name
    """,
)
def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cust = load_table(spark, sf_dir, "customer")

    def flag(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long")

    o = orders.agg(
        F.count("*").alias("n"),
        flag(F.col("o_totalprice") <= 0).alias("bad_price"),
        flag(F.col("o_orderdate").isNull()).alias("bad_date"),
        flag(~F.col("o_orderstatus").isin("O", "F", "P")).alias("bad_status"),
    )
    l = li.agg(
        F.count("*").alias("n"),
        flag((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)).alias("bad_qty"),
        flag((F.col("l_discount") < 0) | (F.col("l_discount") > 0.1)).alias("bad_disc"),
    )
    n_orders = orders.agg(F.count("*").alias("n"))
    orphans = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey, "left_anti")
        .agg(F.count("*").alias("bad"))
        .crossJoin(n_orders)
    )
    ship = (
        li.select("l_orderkey", "l_shipdate")
        .join(orders.select("o_orderkey", "o_orderdate"), li.l_orderkey == orders.o_orderkey)
        .agg(
            F.count("*").alias("n"),
            flag(F.col("l_shipdate") < F.col("o_orderdate")).alias("bad"),
        )
    )

    def row(src, name, bad_col):
        return src.select(
            F.lit(name).alias("check_name"),
            F.col("n").cast("long").alias("n_checked"),
            F.col(bad_col).cast("long").alias("n_violations"),
            (F.col(bad_col) == 0).alias("passed"),
        )

    return (
        row(o, "orders_totalprice_positive", "bad_price")
        .unionByName(row(o, "orders_orderdate_not_null", "bad_date"))
        .unionByName(row(o, "orders_status_domain", "bad_status"))
        .unionByName(row(l, "lineitem_quantity_range", "bad_qty"))
        .unionByName(row(l, "lineitem_discount_range", "bad_disc"))
        .unionByName(row(orphans, "orders_custkey_referential", "bad"))
        .unionByName(row(ship, "lineitem_ship_after_order", "bad"))
        .orderBy("check_name")
    )


@register(
    "sql_scripting",
    category="sql",
    doc="SQL scripting (Spark 4 BEGIN/DECLARE/WHILE control flow): an "
    "exponential threshold search — double the price cutoff until fewer "
    "than 100 orders exceed it — expressed procedurally, with each loop "
    "iteration a full declarative (pushdown-optimized) COUNT.  The "
    "oracle rewrites the loop as its closed form: the first 100*2^i "
    "cutoff whose exceed-count drops below 100.  All-integer arithmetic.",
    oracle="""
        WITH c AS (
            SELECT CAST(100 * (CAST(1 AS BIGINT) << i) AS BIGINT) AS t
            FROM range(0, 40) r(i)
        ),
        counts AS (
            SELECT t,
                   (SELECT COUNT(*) FROM orders WHERE o_totalprice > t)
                       AS n_above
            FROM c
        )
        SELECT t AS threshold, n_above
        FROM counts WHERE n_above < 100 ORDER BY t LIMIT 1
    """,
)
def sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("script_orders")
    prev = spark.conf.get("spark.sql.scripting.enabled", None)
    spark.conf.set("spark.sql.scripting.enabled", "true")
    try:
        return spark.sql(
            """
            BEGIN
              DECLARE t BIGINT DEFAULT 100;
              DECLARE n BIGINT DEFAULT 0;
              SET n = (SELECT COUNT(*) FROM script_orders
                       WHERE o_totalprice > 100);
              WHILE n >= 100 DO
                SET t = t * 2;
                SET n = (SELECT COUNT(*) FROM script_orders
                         WHERE o_totalprice > t);
              END WHILE;
              SELECT t AS threshold, n AS n_above;
            END
            """
        )
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.scripting.enabled", prev)


@register(
    "sql_parameterized",
    category="sql",
    doc="Parameterized SQL (named parameter markers, Spark 3.4+/4): the "
    "injection-safe templating surface — spark.sql(query, args={...}) "
    "binds :params as literals in the plan (Catalyst still folds and "
    "pushes them down).  The oracle inlines the same constants.",
    oracle="""
        SELECT o_orderpriority,
               COUNT(*) AS n,
               CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1997-01-01'
          AND o_totalprice > 1000.0
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
)
def sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("param_orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               COUNT(*) AS n,
               CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS cents
        FROM param_orders
        WHERE o_orderdate >= CAST(:lo AS TIMESTAMP)
          AND o_orderdate <  CAST(:hi AS TIMESTAMP)
          AND o_totalprice > :minprice
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """,
        args={"lo": "1996-01-01", "hi": "1997-01-01", "minprice": 1000.0},
    )


@register(
    "fn_collation",
    category="string-fn",
    doc="Collation-aware comparison (Spark 4 COLLATE): grouping customer "
    "market segments case-insensitively via UTF8_LCASE collation on a "
    "deliberately case-mangled column — matching, grouping, and "
    "DISTINCT all honor the collation with no manual lower() calls.  "
    "The oracle expresses the same policy with explicit lower().",
    oracle="""
        WITH mangled AS (
            SELECT c_custkey,
                   CASE WHEN c_custkey % 2 = 0 THEN upper(c_mktsegment)
                        ELSE lower(c_mktsegment) END AS seg
            FROM customer
        )
        SELECT lower(seg) AS segment, COUNT(*) AS n
        FROM mangled GROUP BY lower(seg) ORDER BY segment
    """,
)
def fn_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    mangled = cust.select(
        "c_custkey",
        F.when(
            F.col("c_custkey") % 2 == 0, F.upper("c_mktsegment")
        )
        .otherwise(F.lower("c_mktsegment"))
        .alias("seg"),
    )
    collated = mangled.select(
        F.expr("seg COLLATE UTF8_LCASE").alias("seg_ci")
    )
    return (
        collated.groupBy("seg_ci")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            # normalize the representative for output comparison: the
            # group representative under a case-insensitive collation is
            # whichever spelling arrived first, so project lower() for a
            # stable cross-engine answer
            F.lower(F.col("seg_ci").cast("string")).alias("segment"),
            "n",
        )
        .orderBy("segment")
    )


@register(
    "join_lateral_dataframe",
    category="joins",
    doc="Spark 4 DataFrame-API lateral join (df.lateralJoin + "
    "Column.outer() correlation): top-2 customers by balance per nation, "
    "the same decorrelation path as the SQL LATERAL form (sql_lateral) "
    "but composed programmatically — Catalyst rewrites the correlated "
    "limit into a window rank, so the physical plan is one shuffle on "
    "the correlation key, never a per-row re-scan.  Balance compared in "
    "exact cents with custkey tiebreak for determinism.",
    oracle="""
        SELECT n_nationkey, c_custkey, bal_cents
        FROM (
            SELECT n.n_nationkey, c.c_custkey,
                   CAST(ROUND(c.c_acctbal * 100, 0) AS BIGINT) AS bal_cents,
                   ROW_NUMBER() OVER (
                       PARTITION BY n.n_nationkey
                       ORDER BY CAST(ROUND(c.c_acctbal * 100, 0) AS BIGINT)
                                DESC, c.c_custkey) AS rn
            FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
        )
        WHERE rn <= 2
        ORDER BY n_nationkey, bal_cents DESC, c_custkey
    """,
)
def join_lateral_dataframe(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("bal_cents"),
    )
    top2 = (
        cust.where(F.col("c_nationkey") == F.col("n_nationkey").outer())
        .orderBy(F.desc("bal_cents"), F.asc("c_custkey"))
        .limit(2)
        .select("c_custkey", "bal_cents")
    )
    return (
        nation.lateralJoin(top2)
        .select("n_nationkey", "c_custkey", "bal_cents")
        .orderBy("n_nationkey", F.desc("bal_cents"), "c_custkey")
    )


@register(
    "sql_udf_declared",
    category="sql",
    doc="Declared SQL UDFs (Spark 4 CREATE FUNCTION ... RETURNS): a scalar "
    "function (net price in cents — pure integer arithmetic) and a table "
    "function (a constant tier table) used together in one query.  SQL "
    "UDFs inline into the plan (no Python boundary, full codegen), so "
    "they are the preferred extension point before reaching for "
    "pandas_udf.  Oracle expands both definitions inline.",
    oracle="""
        WITH tiers(tier, lo, hi) AS (
            VALUES (1, 0, 10), (2, 10, 25), (3, 25, 100)
        )
        SELECT t.tier,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT)
                        * (100 - CAST(ROUND(l.l_discount * 100, 0) AS BIGINT)))
                    AS BIGINT) AS net_e4
        FROM lineitem l
        JOIN tiers t ON l.l_quantity >= t.lo AND l.l_quantity < t.hi
        GROUP BY t.tier
        ORDER BY t.tier
    """,
)
def sql_udf_declared(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("sqludf_lineitem")
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION net_e4(price DOUBLE, disc DOUBLE)
        RETURNS BIGINT
        RETURN CAST(ROUND(price * 100, 0) AS BIGINT)
               * (100 - CAST(ROUND(disc * 100, 0) AS BIGINT))
        """
    )
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION qty_tiers()
        RETURNS TABLE(tier INT, lo INT, hi INT)
        RETURN SELECT * FROM VALUES (1, 0, 10), (2, 10, 25), (3, 25, 100)
        """
    )
    return spark.sql(
        """
        SELECT t.tier,
               COUNT(*) AS n,
               SUM(net_e4(l.l_extendedprice, l.l_discount)) AS net_e4
        FROM sqludf_lineitem l
        JOIN qty_tiers() t ON l.l_quantity >= t.lo AND l.l_quantity < t.hi
        GROUP BY t.tier
        ORDER BY t.tier
        """
    )


@register(
    "sql_pipe_syntax",
    category="sql",
    doc="SQL pipe syntax (Spark 4 |> operators): filter -> derive -> "
    "aggregate -> order as a left-to-right pipeline — same Catalyst plan "
    "as the nested classic form the oracle uses, purely surface syntax.",
    oracle="""
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS total_cents
        FROM orders
        WHERE o_orderstatus = 'F'
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("pipe_orders")
    return spark.sql(
        """
        FROM pipe_orders
        |> WHERE o_orderstatus = 'F'
        |> EXTEND CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
        |> AGGREGATE COUNT(*) AS n, SUM(cents) AS total_cents
           GROUP BY o_orderpriority
        |> ORDER BY o_orderpriority
        """
    )


@register(
    "agg_multi_distinct",
    category="aggregation",
    doc="Several COUNT(DISTINCT ...) on DIFFERENT columns in one "
    "aggregation: Catalyst plans this with an Expand (one row replica "
    "per distinct-aggregate) — correct but data-multiplying, which is "
    "why q21-style queries restructure to two-level aggregation when "
    "the fact table is huge.  This entry pins the semantics; the plan "
    "cost trade-off is documented in SCALE.md.",
    oracle="""
        SELECT o_orderpriority,
               CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_custs,
               CAST(COUNT(DISTINCT strftime(date_trunc('month', o_orderdate),
                                            '%Y-%m')) AS BIGINT) AS n_months,
               CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_statuses,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
)
def agg_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("n_custs"),
            F.countDistinct(
                F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM")
            ).alias("n_months"),
            F.countDistinct("o_orderstatus").alias("n_statuses"),
            F.count("*").alias("n"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "agg_pow2_histogram",
    category="aggregation",
    doc="Power-of-two (log-scale) histogram WITHOUT libm: the bin is "
    "floor(log2(cents)) computed exactly as LENGTH(bin(cents)) - 1 — "
    "binary-digit counting, bit-identical in any engine, where a "
    "floating log2 would be banned from oracle comparison (libm "
    "rounding differs).  The standard long-tail histogram for value "
    "distributions at scale.",
    oracle="""
        SELECT CAST(LENGTH(bin(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)))
                    - 1 AS INT) AS log2_bin,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(MIN(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS lo_cents,
               CAST(MAX(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS hi_cents
        FROM orders
        GROUP BY 1 ORDER BY 1
    """,
)
def agg_pow2_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    log2_bin = (F.length(F.bin(cents)) - 1).cast("int")
    return (
        orders.select(log2_bin.alias("log2_bin"), cents.alias("c"))
        .groupBy("log2_bin")
        .agg(
            F.count("*").alias("n"),
            F.min("c").alias("lo_cents"),
            F.max("c").alias("hi_cents"),
        )
        .orderBy("log2_bin")
    )


@register(
    "dq_volume_drift",
    category="data-quality",
    doc="Volume-drift monitor (the freshness/completeness check every "
    "production table needs): daily event counts compared against the "
    "trailing-7-day mean, flagging days outside +/-50% — entirely in "
    "integer arithmetic (low iff 2*n*n7 < sum7, high iff 2*n*n7 > "
    "3*sum7, both cross-multiplied so no FP division) so the flag is "
    "bit-deterministic.  One aggregation + "
    "one 7-row window per day — scan-speed; at 100 TB the daily counts "
    "are a tiny table and the monitor is free.",
    oracle="""
        WITH daily AS (
            SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM events GROUP BY day
        ),
        trail AS (
            SELECT day, n,
                   CAST(COALESCE(SUM(n) OVER (ORDER BY day
                        ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                       AS sum7,
                   CAST(COALESCE(COUNT(*) OVER (ORDER BY day
                        ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                       AS n7
            FROM daily
        )
        SELECT CAST(day AS VARCHAR) AS day, n, sum7, n7,
               CASE WHEN n7 = 0 THEN 'warmup'
                    WHEN 2 * n * n7 < sum7 THEN 'low'
                    WHEN 2 * n * n7 > 3 * sum7 THEN 'high'
                    ELSE 'ok' END AS volume_flag
        FROM trail
        ORDER BY day
    """,
)
def dq_volume_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count("*").cast("bigint").alias("n")
    )
    w = W.orderBy("day").rowsBetween(-7, -1)
    trailing = daily.select(
        "day",
        "n",
        F.coalesce(F.sum("n").over(w), F.lit(0)).cast("bigint").alias("sum7"),
        F.count("*").over(w).cast("bigint").alias("n7"),
    )
    flag = (
        F.when(F.col("n7") == 0, "warmup")
        .when(2 * F.col("n") * F.col("n7") < F.col("sum7"), "low")
        .when(2 * F.col("n") * F.col("n7") > 3 * F.col("sum7"), "high")
        .otherwise("ok")
    )
    return trailing.select(
        F.col("day").cast("string").alias("day"),
        "n",
        "sum7",
        "n7",
        flag.alias("volume_flag"),
    ).orderBy("day")


@register(
    "dq_ab_welch",
    category="data-quality",
    doc="A/B experiment readout with a Welch t-test decision computed "
    "ENTIRELY in exact integer space: the metric (event value in cents) "
    "aggregates to per-arm sufficient statistics (n, sum, sum-of-"
    "squares — one map-side-combinable groupBy, the only shuffle), and "
    "the significance decision t^2 >= 4 (|t| >= 2) is evaluated by "
    "cross-multiplication of the exact rational t^2 = "
    "D^2(na-1)(nb-1) / (ssn_a*nb^2*(nb-1) + ssn_b*na^2*(na-1)) with "
    "D = sum_a*nb - sum_b*na and ssn = n*sumsq - sum^2 — no float "
    "division or sqrt anywhere, so engines agree bit-for-bit.  "
    "Intermediates ride decimal(38,0) (Spark) / HUGEINT (DuckDB): "
    "the cross-products reach ~1e31 at sf0.1 and ~1e37 at sf1, inside "
    "both engines' 128-bit range; outputs are small BIGINTs.  This is "
    "the scale shape for experiment analysis over 100 TB of events: "
    "sufficient statistics shrink the data to one row per arm before "
    "any statistics happen.",
    oracle="""
        WITH e AS (
            SELECT user_id % 2 AS arm,
                   CAST(round(value * 100) AS BIGINT) AS v
            FROM events
        ),
        s AS (
            SELECT arm, COUNT(*) AS n, SUM(v) AS sv, SUM(v * v) AS svv
            FROM e GROUP BY arm
        ),
        w AS (
            SELECT a.n AS na, b.n AS nb, a.sv AS sa, b.sv AS sb,
                   a.n * a.svv - a.sv * a.sv AS ssna,
                   b.n * b.svv - b.sv * b.sv AS ssnb,
                   a.sv * b.n - b.sv * a.n AS d
            FROM (SELECT * FROM s WHERE arm = 0) a,
                 (SELECT * FROM s WHERE arm = 1) b
        )
        SELECT CAST(na AS BIGINT) AS n_a,
               CAST(nb AS BIGINT) AS n_b,
               CAST(sa AS BIGINT) AS sum_a_cents,
               CAST(sb AS BIGINT) AS sum_b_cents,
               CAST(1000 * sa // na AS BIGINT) AS mean_a_millicents,
               CAST(1000 * sb // nb AS BIGINT) AS mean_b_millicents,
               CAST(ssna // (na * (na - 1)) AS BIGINT) AS var_a_cents2,
               CAST(ssnb // (nb * (nb - 1)) AS BIGINT) AS var_b_cents2,
               CAST(CASE WHEN d * d * (na - 1) * (nb - 1) >=
                         4 * (ssna * nb * nb * (nb - 1)
                              + ssnb * na * na * (na - 1))
                    THEN 1 ELSE 0 END AS BIGINT) AS significant_t2
        FROM w
    """,
)
def dq_ab_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        (F.col("user_id") % 2).alias("arm"), cents("value").alias("v")
    )
    s = e.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("sv"),
        F.sum(F.col("v") * F.col("v")).alias("svv"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    a = s.filter(F.col("arm") == 0).select(
        F.col("n").alias("na"), F.col("sv").alias("sa"), F.col("svv").alias("svva")
    )
    b = s.filter(F.col("arm") == 1).select(
        F.col("n").alias("nb"), F.col("sv").alias("sb"), F.col("svv").alias("svvb")
    )
    w = a.crossJoin(b).select(  # 1-row x 1-row scalar product
        "na",
        "nb",
        "sa",
        "sb",
        (dec("na") * dec("svva") - dec("sa") * dec("sa")).alias("ssna"),
        (dec("nb") * dec("svvb") - dec("sb") * dec("sb")).alias("ssnb"),
        (dec("sa") * dec("nb") - dec("sb") * dec("na")).alias("d"),
    )
    lhs = F.col("d") * F.col("d") * (dec("na") - 1) * (dec("nb") - 1)
    rhs = 4 * (
        F.col("ssna") * dec("nb") * dec("nb") * (dec("nb") - 1)
        + F.col("ssnb") * dec("na") * dec("na") * (dec("na") - 1)
    )
    return w.select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        F.col("sa").cast("bigint").alias("sum_a_cents"),
        F.col("sb").cast("bigint").alias("sum_b_cents"),
        F.expr("(1000 * sa) div na").cast("bigint").alias("mean_a_millicents"),
        F.expr("(1000 * sb) div nb").cast("bigint").alias("mean_b_millicents"),
        (F.col("ssna") / (dec("na") * (dec("na") - 1)))
        .cast("bigint")
        .alias("var_a_cents2"),
        (F.col("ssnb") / (dec("nb") * (dec("nb") - 1)))
        .cast("bigint")
        .alias("var_b_cents2"),
        F.when(lhs >= rhs, F.lit(1)).otherwise(F.lit(0)).cast("bigint").alias(
            "significant_t2"
        ),
    )


#: chi-square critical value for df=(5-1)*(5-1)=16 at alpha=0.05, in ppm
_CHI2_CRIT_PPM_DF16 = 26_296_000


@register(
    "dq_chi2_independence",
    category="data-quality",
    doc="Pearson chi-squared independence test (market segment x order "
    "priority) decided entirely in exact integer space: each cell's "
    "contribution (O-E)^2/E is algebraically rewritten as "
    "(N*O - r*c)^2 / (N*r*c) and kept as a floor-divided ppm integer "
    "in decimal(38,0)/HUGEINT — expectations, squares, and the "
    "cross-multiplications never touch a float, so the verdict is "
    "bit-stable under any partitioning (a re-plan must not flip a "
    "drift alarm).  The contingency table is one groupBy over the "
    "orders-customer join (map-side combinable), margins are two tiny "
    "re-aggregations of the 25-cell table, and the total N is a 1-row "
    "broadcast — at 100 TB only the first groupBy sees data-sized "
    "input.  Verdict compares chi2 ppm against the df=16 critical "
    "value 26.296 (alpha=0.05).  Output: the 25 annotated cells with "
    "the shared total and flag.",
    oracle=f"""
        WITH obs AS (
            SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri,
                   COUNT(*) AS o_cnt
            FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
            GROUP BY seg, pri
        ),
        rt AS (SELECT seg, SUM(o_cnt) AS r FROM obs GROUP BY seg),
        ct AS (SELECT pri, SUM(o_cnt) AS c FROM obs GROUP BY pri),
        n AS (SELECT SUM(o_cnt) AS n FROM obs),
        cells AS (
            SELECT obs.seg, obs.pri, obs.o_cnt, rt.r, ct.c, n.n,
                   (1000000::HUGEINT
                    * (n.n::HUGEINT * obs.o_cnt - rt.r::HUGEINT * ct.c)
                    * (n.n::HUGEINT * obs.o_cnt - rt.r::HUGEINT * ct.c))
                       // (n.n::HUGEINT * rt.r * ct.c) AS contrib_ppm
            FROM obs JOIN rt USING (seg) JOIN ct USING (pri) CROSS JOIN n
        ),
        tot AS (SELECT SUM(contrib_ppm) AS chi2_ppm FROM cells)
        SELECT cells.seg, cells.pri,
               CAST(cells.o_cnt AS BIGINT) AS o_cnt,
               CAST(cells.r AS BIGINT) AS row_total,
               CAST(cells.c AS BIGINT) AS col_total,
               CAST(cells.contrib_ppm AS BIGINT) AS contrib_ppm,
               CAST(tot.chi2_ppm AS BIGINT) AS chi2_ppm,
               CAST(CASE WHEN tot.chi2_ppm > {_CHI2_CRIT_PPM_DF16}
                         THEN 1 ELSE 0 END AS BIGINT) AS flag_dependent
        FROM cells CROSS JOIN tot
        ORDER BY cells.seg, cells.pri
    """,
)
def dq_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    obs = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("seg"), F.col("o_orderpriority").alias("pri")
        )
        .agg(F.count(F.lit(1)).alias("o_cnt"))
    )
    rt = obs.groupBy("seg").agg(F.sum("o_cnt").alias("r"))
    ct = obs.groupBy("pri").agg(F.sum("o_cnt").alias("c"))
    n = obs.agg(F.sum("o_cnt").alias("n"))
    dec = "decimal(38,0)"
    dev = F.col("n").cast(dec) * F.col("o_cnt") - F.col("r").cast(dec) * F.col("c")
    cells = (
        obs.join(F.broadcast(rt), "seg")
        .join(F.broadcast(ct), "pri")
        .crossJoin(F.broadcast(n))
        .select(
            "seg",
            "pri",
            "o_cnt",
            "r",
            "c",
            F.expr(
                "CAST((CAST(1000000 AS DECIMAL(38,0))"
                " * (CAST(n AS DECIMAL(38,0)) * o_cnt - CAST(r AS DECIMAL(38,0)) * c)"
                " * (CAST(n AS DECIMAL(38,0)) * o_cnt - CAST(r AS DECIMAL(38,0)) * c))"
                " div (CAST(n AS DECIMAL(38,0)) * r * c) AS BIGINT)"
            ).alias("contrib_ppm"),
        )
    )
    tot = cells.agg(F.sum("contrib_ppm").alias("chi2_ppm"))
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "seg",
            "pri",
            F.col("o_cnt").cast("bigint").alias("o_cnt"),
            F.col("r").cast("bigint").alias("row_total"),
            F.col("c").cast("bigint").alias("col_total"),
            F.col("contrib_ppm").cast("bigint").alias("contrib_ppm"),
            F.col("chi2_ppm").cast("bigint").alias("chi2_ppm"),
            F.when(F.col("chi2_ppm") > _CHI2_CRIT_PPM_DF16, F.lit(1))
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("flag_dependent"),
        )
        .orderBy("seg", "pri")
    )


#: Allen's interval-algebra classification as ONE SQL CASE expression,
#: evaluated verbatim by BOTH engines (Spark F.expr and the DuckDB oracle)
#: so the taxonomy cannot drift.  Inputs are exact integer microseconds.
#: Point intervals (s == e) fall out of the same case order
#: deterministically.
_ALLEN_CASE = """
    CASE
        WHEN s_a = s_b AND e_a = e_b THEN 'equals'
        WHEN e_a < s_b THEN 'before'
        WHEN e_b < s_a THEN 'after'
        WHEN e_a = s_b THEN 'meets'
        WHEN e_b = s_a THEN 'met_by'
        WHEN s_a = s_b AND e_a < e_b THEN 'starts'
        WHEN s_a = s_b AND e_a > e_b THEN 'started_by'
        WHEN e_a = e_b AND s_a > s_b THEN 'finishes'
        WHEN e_a = e_b AND s_a < s_b THEN 'finished_by'
        WHEN s_a > s_b AND e_a < e_b THEN 'during'
        WHEN s_a < s_b AND e_a > e_b THEN 'contains'
        WHEN s_a < s_b THEN 'overlaps'
        ELSE 'overlapped_by'
    END
"""


@register(
    "join_interval_allen",
    category="joins",
    doc="Allen interval-algebra classification (Allen 1983): per user, "
    "the activity interval of each event type ([min ts, max ts] in "
    "EXACT integer microseconds — Spark unix_micros == DuckDB "
    "epoch_ns//1000, the one truncation contract for the ns-precision "
    "fixture), every ordered type pair (type_a < type_b) self-joined "
    "on user_id and classified into the 13 Allen relations by one "
    "CASE expression shared VERBATIM between Spark and the oracle, so "
    "the taxonomy is definitionally identical in both engines.  The "
    "temporal-reasoning primitive behind overlap dedup, conflict "
    "detection, and timeline validation.  Plan: one groupBy on "
    "(user, type) builds intervals, one user-keyed self-join emits "
    "<= C(|types|,2) = 10 rows per user, then a tiny (pair, relation) "
    "count — at 100 TB everything shuffles once on user_id and the "
    "fan-out is bounded by the type-pair count, not data size.",
    oracle=f"""
        WITH iv AS (
            SELECT user_id, event_type,
                   MIN(epoch_ns(ts) // 1000) AS s,
                   MAX(epoch_ns(ts) // 1000) AS e
            FROM events
            GROUP BY user_id, event_type
        ),
        pairs AS (
            SELECT a.user_id, a.event_type AS type_a, b.event_type AS type_b,
                   a.s AS s_a, a.e AS e_a, b.s AS s_b, b.e AS e_b
            FROM iv a JOIN iv b
              ON a.user_id = b.user_id AND a.event_type < b.event_type
        ),
        rels AS (
            SELECT type_a, type_b, {_ALLEN_CASE} AS rel, user_id
            FROM pairs
        )
        SELECT type_a, type_b, rel,
               CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(user_id) AS BIGINT) AS user_checksum
        FROM rels
        GROUP BY type_a, type_b, rel
        ORDER BY type_a, type_b, rel
    """,
)
def join_interval_allen(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    iv = ev.groupBy("user_id", "event_type").agg(
        F.min(F.unix_micros("ts")).alias("s"),
        F.max(F.unix_micros("ts")).alias("e"),
    )
    a = iv.alias("a")
    b = iv.alias("b")
    pairs = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("a.event_type") < F.col("b.event_type")),
    ).select(
        F.col("a.user_id").alias("user_id"),
        F.col("a.event_type").alias("type_a"),
        F.col("b.event_type").alias("type_b"),
        F.col("a.s").alias("s_a"),
        F.col("a.e").alias("e_a"),
        F.col("b.s").alias("s_b"),
        F.col("b.e").alias("e_b"),
    )
    return (
        pairs.select("type_a", "type_b", F.expr(_ALLEN_CASE).alias("rel"), "user_id")
        .groupBy("type_a", "type_b", "rel")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum("user_id").cast("bigint").alias("user_checksum"),
        )
        .orderBy("type_a", "type_b", "rel")
    )


@register(
    "dq_profile_drift",
    category="data-quality",
    doc="Column-profile drift monitor: orders split into two deterministic "
    "segments (orderkey parity — in production, yesterday vs today's "
    "partition), each profiled column reduced to a categorical "
    "distribution (price bucketed per $50k, status and priority as-is), "
    "and the drift reported as the exact L1 distance between the two "
    "segment distributions in ppm (per-value shares use integer "
    "1e6-scaled floor division — bit-identical in any engine).  Scale "
    "shape: ONE scan stacks the profiled columns (cheap row-explode by "
    "#columns), one groupBy per (col, val, seg) with map-side combine, "
    "and the per-segment totals travel as a 6-row broadcast.  This is "
    "the publish-gate check that catches schema-stable-but-shifted "
    "upstream data (the silent killer of training-data refreshes).",
    oracle="""
        WITH vals AS (
            SELECT 'totalprice_bucket' AS col_name,
                   CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                        // 5000000 AS VARCHAR) AS val,
                   o_orderkey % 2 AS seg
            FROM orders
            UNION ALL
            SELECT 'orderstatus', o_orderstatus, o_orderkey % 2 FROM orders
            UNION ALL
            SELECT 'orderpriority', o_orderpriority, o_orderkey % 2 FROM orders
        ),
        tot AS (
            SELECT col_name, seg, COUNT(*) AS n_seg
            FROM vals GROUP BY col_name, seg
        ),
        cnt AS (
            SELECT col_name, val, seg, COUNT(*) AS c
            FROM vals GROUP BY col_name, val, seg
        ),
        ppm AS (
            SELECT c.col_name, c.val, c.seg,
                   (c.c * 1000000) // t.n_seg AS share_ppm
            FROM cnt c JOIN tot t USING (col_name, seg)
        ),
        pivoted AS (
            SELECT col_name, val,
                   COALESCE(SUM(CASE WHEN seg = 0 THEN share_ppm END), 0) AS pa,
                   COALESCE(SUM(CASE WHEN seg = 1 THEN share_ppm END), 0) AS pb
            FROM ppm GROUP BY col_name, val
        )
        SELECT col_name,
               CAST(COUNT(*) AS BIGINT) AS n_distinct,
               CAST(SUM(ABS(pa - pb)) AS BIGINT) AS l1_drift_ppm
        FROM pivoted
        GROUP BY col_name
        ORDER BY col_name
    """,
)
def dq_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    seg = F.pmod(F.col("o_orderkey"), F.lit(2)).alias("seg")
    bucket = F.expr(
        "CAST(CAST(round(CAST(o_totalprice AS DECIMAL(12,2)) * 100, 0) AS BIGINT)"
        " div 5000000 AS STRING)"
    )
    vals = (
        orders.select(F.lit("totalprice_bucket").alias("col_name"), bucket.alias("val"), seg)
        .unionByName(
            orders.select(
                F.lit("orderstatus").alias("col_name"),
                F.col("o_orderstatus").alias("val"),
                seg,
            )
        )
        .unionByName(
            orders.select(
                F.lit("orderpriority").alias("col_name"),
                F.col("o_orderpriority").alias("val"),
                seg,
            )
        )
    )
    tot = vals.groupBy("col_name", "seg").agg(F.count(F.lit(1)).alias("n_seg"))
    cnt = vals.groupBy("col_name", "val", "seg").agg(F.count(F.lit(1)).alias("c"))
    ppm = cnt.join(F.broadcast(tot), ["col_name", "seg"]).select(
        "col_name",
        "val",
        "seg",
        F.expr("(c * 1000000) div n_seg").alias("share_ppm"),
    )
    pivoted = ppm.groupBy("col_name", "val").agg(
        F.coalesce(
            F.sum(F.when(F.col("seg") == 0, F.col("share_ppm"))), F.lit(0)
        ).alias("pa"),
        F.coalesce(
            F.sum(F.when(F.col("seg") == 1, F.col("share_ppm"))), F.lit(0)
        ).alias("pb"),
    )
    return (
        pivoted.groupBy("col_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
            F.sum(F.abs(F.col("pa") - F.col("pb"))).cast("bigint").alias("l1_drift_ppm"),
        )
        .orderBy("col_name")
    )


@register(
    "agg_bitmap_distinct",
    category="aggregation",
    doc="EXACT distinct counting via word-aligned bitmaps (the "
    "ClickHouse/Druid groupBitmap pattern): user ids pack into 64-bit "
    "words (word = id div 64, bit = id mod 64), per (event_type, word) "
    "one BIT_OR aggregate builds the bitmap word, bit_count + SUM "
    "finishes the count.  Two map-side-combinable integer aggregations "
    "— no COUNT DISTINCT hash-set state, and the intermediate bitmap "
    "is MERGEABLE: the same words roll up again for the all-types "
    "total WITHOUT touching the fact table (emitted here as "
    "event_type = '_all', computed from the per-type words, proving "
    "the rollup property the oracle checks against plain COUNT "
    "DISTINCT).  At 100 TB this replaces the biggest count-distinct "
    "shuffle with dense integer state bounded by the id space / 64.  "
    "Sibling: sketch_bitmap_distinct uses Spark's built-in 32768-bit "
    "bitmap_construct_agg; this entry builds the words from bit_or "
    "primitives to expose the re-aggregation step.",
    oracle="""
        SELECT event_type,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        FROM events
        GROUP BY event_type
        UNION ALL
        SELECT '_all', CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events
        ORDER BY event_type
    """,
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    packed = ev.select(
        "event_type",
        F.expr("user_id div 64").alias("word"),
        # SQL shiftleft takes a column shift (the Python wrapper doesn't);
        # bit 63 sets the sign bit, which bit_or/bit_count treat as raw bits
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 64 AS INT))").alias("bit"),
    )
    words = packed.groupBy("event_type", "word").agg(
        F.bit_or("bit").alias("bm")
    )
    per_type = words.groupBy("event_type").agg(
        F.sum(F.bit_count("bm")).cast("bigint").alias("n_users")
    )
    # rollup from the INTERMEDIATE bitmaps (not the fact table): OR the
    # per-type words together, then count bits — the mergeability proof
    all_types = (
        words.groupBy("word")
        .agg(F.bit_or("bm").alias("bm"))
        .agg(F.sum(F.bit_count("bm")).cast("bigint").alias("n_users"))
        .select(F.lit("_all").alias("event_type"), "n_users")
    )
    return per_type.unionByName(all_types).orderBy("event_type")
