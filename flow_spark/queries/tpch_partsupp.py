"""TPC-H analogues that need the `partsupp` table the fixtures lack
(Q2/Q9/Q11/Q16/Q20) plus the two that only lack columns (Q12/Q21).

`partsupp` is DERIVED: the key set is `SELECT DISTINCT l_partkey,
l_suppkey FROM lineitem` and `ps_availqty` / `ps_supplycost` are
deterministic integer-arithmetic functions of the key pair, computed with
the *same* expression in Spark and in the DuckDB oracle, so every query
stays fully value-checkable.  All arithmetic is exact (integer modulo,
then one /100 whose result is an exact 2-decimal value recovered by the
DECIMAL(12,2) cast), so the view is bit-identical in both engines under
any partitioning.

Q12 and Q21 are analogues because the fixture lineitem has no
l_shipmode / l_commitdate / l_receiptdate: "late" is re-expressed against
l_shipdate - o_orderdate, preserving each query's *plan shape* (Q12: join
+ two-way conditional aggregation; Q21: EXISTS + NOT-EXISTS over the same
fact table), which is what matters at 100 TB.

The reference implements no relational operators (SURVEY.md §2.2); this
suite is part of the declared analytic surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flow_spark.catalog import load_table
from flow_spark.queries.registry import register
from flow_spark.queries.util import (
    SQL_REVENUE_CENTS,
    cents_sum_money,
    dec,
    one_minus,
    revenue_cents,
    sql_cents_sum_money,
)

# ---------------------------------------------------------------------------
# The derived partsupp view — keep the two definitions in lockstep.
# ---------------------------------------------------------------------------

#: DuckDB CTE (prepend to each oracle).
SQL_PARTSUPP_CTE = """
    partsupp AS (
        SELECT ps_partkey,
               ps_suppkey,
               CAST((ps_partkey * 31 + ps_suppkey * 17) % 9991 + 9 AS INT)
                   AS ps_availqty,
               CAST(((ps_partkey * 7919 + ps_suppkey * 104729) % 100000 + 100) / 100
                    AS DECIMAL(12,2)) AS ps_supplycost
        FROM (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
              FROM lineitem)
    )
"""

#: Spark SQL expressions for the same two columns (usable on any frame that
#: has ps_partkey / ps_suppkey — or inline on lineitem with a key rename).
_AVAILQTY_EXPR = "CAST(({p} * 31 + {s} * 17) % 9991 + 9 AS INT)"
_SUPPLYCOST_EXPR = (
    "CAST((({p} * 7919 + {s} * 104729) % 100000 + 100) / 100 AS DECIMAL(12,2))"
)


def partsupp_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived partsupp: one row per distinct (l_partkey, l_suppkey).

    The DISTINCT is one shuffle on the composite key; at 100 TB the
    result is ~|parts|*4 rows (TPC-H fan-out), far smaller than lineitem,
    and the synthesized columns are a projection — no further shuffle.
    """
    keys = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("l_suppkey").alias("ps_suppkey"),
        )
        .distinct()
    )
    return keys.withColumn(
        "ps_availqty", F.expr(_AVAILQTY_EXPR.format(p="ps_partkey", s="ps_suppkey"))
    ).withColumn(
        "ps_supplycost",
        F.expr(_SUPPLYCOST_EXPR.format(p="ps_partkey", s="ps_suppkey")),
    )


# ---------------------------------------------------------------------------
# Q2 — minimum-cost supplier
# ---------------------------------------------------------------------------


@register(
    "q2_min_cost_supplier",
    category="subquery",
    doc="TPC-H Q2 analogue on the derived partsupp: for each STANDARD "
    "size-15 part, the EUROPE supplier(s) with the minimum supply cost. "
    "The correlated MIN subquery is decorrelated into a window MIN over "
    "ps_partkey — one shuffle on partkey instead of a per-row subquery; "
    "supplier/nation/region are broadcast. Deterministic LIMIT: the full "
    "ORDER BY key (acctbal, n_name, s_name, partkey) is a unique key of "
    "the output.",
    oracle=f"""
        WITH {SQL_PARTSUPP_CTE},
        eu AS (
            SELECT ps_partkey, ps_supplycost, s_acctbal, s_name, n_name
            FROM partsupp
            JOIN supplier ON ps_suppkey = s_suppkey
            JOIN nation   ON s_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            WHERE r_name = 'EUROPE'
        )
        SELECT CAST(s_acctbal AS DOUBLE) AS s_acctbal, s_name, n_name,
               ps_partkey AS p_partkey,
               CAST(ps_supplycost AS DOUBLE) AS ps_supplycost
        FROM eu
        JOIN part ON ps_partkey = p_partkey
        WHERE p_size = 15 AND p_type = 'STANDARD'
          AND ps_supplycost = (
              SELECT MIN(ps_supplycost) FROM eu e2
              WHERE e2.ps_partkey = eu.ps_partkey
          )
        ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        LIMIT 100
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ps = partsupp_view(spark, sf_dir)
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    part = (
        load_table(spark, sf_dir, "part")
        .filter((F.col("p_size") == 15) & (F.col("p_type") == "STANDARD"))
        .select("p_partkey")
    )
    eu = (
        ps.join(F.broadcast(supp), F.col("ps_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .join(F.broadcast(part), F.col("ps_partkey") == F.col("p_partkey"))
    )
    w = Window.partitionBy("ps_partkey")
    return (
        eu.withColumn("min_cost", F.min("ps_supplycost").over(w))
        .filter(F.col("ps_supplycost") == F.col("min_cost"))
        .select(
            F.col("s_acctbal").cast("double").alias("s_acctbal"),
            "s_name",
            "n_name",
            F.col("ps_partkey").alias("p_partkey"),
            F.col("ps_supplycost").cast("double").alias("ps_supplycost"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Q9 — product-type profit
# ---------------------------------------------------------------------------


@register(
    "q9_product_profit",
    category="join",
    doc="TPC-H Q9 analogue: profit (revenue - supplycost*qty) per nation "
    "per order-year for parts named like '%red%'. Because ps_supplycost "
    "is functionally derived from (partkey, suppkey), the partsupp join "
    "collapses to a projection on lineitem — at 100 TB this removes the "
    "largest shuffle of the classic Q9 plan entirely (with a physical "
    "partsupp table the same effect comes from bucketing both fact "
    "tables on partkey). Remaining joins: orders (shuffle equi-join), "
    "part filter + supplier->nation (broadcast). Profit is summed on "
    "exact scaled longs in 1e-4 units (util.py cents fast path): "
    "supplycost has exactly 2 decimals by construction, so "
    "revenue_cents - supplycost_cents*qty*100 is exact integer math.",
    oracle=f"""
        WITH {SQL_PARTSUPP_CTE}
        SELECT n_name AS nation,
               CAST(year(o_orderdate) AS INT) AS o_year,
               {sql_cents_sum_money(f"({SQL_REVENUE_CENTS} - CAST(ROUND(ps_supplycost * 100, 0) AS BIGINT) * CAST(l_quantity AS BIGINT) * 100)", 4)} AS sum_profit
        FROM lineitem
        JOIN partsupp ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN part     ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        WHERE p_name LIKE '%red%'
        GROUP BY n_name, o_year
        ORDER BY nation, o_year DESC
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey")
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    supp_nation = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(load_table(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    # supplycost in cents is the derivation expression BEFORE its /100
    # (tpch_partsupp.py header) — already an exact long
    supplycost_cents = F.expr(
        "(l_partkey * 7919 + l_suppkey * 104729) % 100000 + 100"
    ).cast("long")
    amount_1e4 = revenue_cents() - supplycost_cents * F.col("l_quantity").cast(
        "long"
    ) * 100
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp_nation), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(
            "nation", F.year("o_orderdate").cast("int").alias("o_year")
        )
        .agg(cents_sum_money(amount_1e4, 4).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


# ---------------------------------------------------------------------------
# Q11 — important stock identification
# ---------------------------------------------------------------------------


@register(
    "q11_important_stock",
    category="subquery",
    doc="TPC-H Q11 analogue: per-part stock value held by EUROPE "
    "suppliers (region scope instead of the classic single nation so the "
    "smallest fixture still has qualifying suppliers), keeping parts "
    "above 1/10000 of the regional total. The scalar total is a "
    "second aggregate over the same (small, already-reduced) per-part "
    "frame, attached via broadcast cross-join — no per-row subquery. The "
    "HAVING threshold is compared in exact integers (value*10000 > "
    "total) to be partition-order-proof in both engines.",
    oracle=f"""
        WITH {SQL_PARTSUPP_CTE},
        natps AS (
            SELECT ps_partkey, ps_supplycost * ps_availqty AS value
            FROM partsupp
            JOIN supplier ON ps_suppkey = s_suppkey
            JOIN nation   ON s_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            WHERE r_name = 'EUROPE'
        ),
        per_part AS (
            SELECT ps_partkey, SUM(value) AS value FROM natps GROUP BY ps_partkey
        )
        SELECT ps_partkey, CAST(ROUND(value, 2) AS DOUBLE) AS value
        FROM per_part
        WHERE value * 10000 > (SELECT SUM(value) FROM natps)
        ORDER BY value DESC, ps_partkey
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    ps = partsupp_view(spark, sf_dir)
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    natps = (
        ps.join(F.broadcast(supp), F.col("ps_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(
            "ps_partkey",
            (F.col("ps_supplycost") * F.col("ps_availqty")).alias("value"),
        )
    )
    per_part = natps.groupBy("ps_partkey").agg(F.sum("value").alias("value"))
    total = natps.agg(F.sum("value").alias("total"))
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("value") * 10000 > F.col("total"))
        .select(
            "ps_partkey", F.round("value", 2).cast("double").alias("value")
        )
        .orderBy(F.desc("value"), "ps_partkey")
    )


# ---------------------------------------------------------------------------
# Q16 — parts/supplier relationship
# ---------------------------------------------------------------------------


@register(
    "q16_supplier_relationship",
    category="aggregation",
    doc="TPC-H Q16 analogue: distinct-supplier counts per (brand, type, "
    "size) excluding one brand, one type, a size list, and 'complaint' "
    "suppliers (negative acctbal — the fixture has no s_comment). Plan "
    "shape: broadcast NOT-IN as a broadcast anti-join, part join, then "
    "COUNT(DISTINCT) — which Spark executes as a two-phase expand+agg, "
    "shuffling on the grouping key first, so the distinct never "
    "concentrates on one node at 100 TB.",
    oracle=f"""
        WITH {SQL_PARTSUPP_CTE}
        SELECT p_brand, p_type, p_size,
               COUNT(DISTINCT ps_suppkey) AS supplier_cnt
        FROM partsupp
        JOIN part ON p_partkey = ps_partkey
        WHERE p_brand <> 'Brand#1'
          AND p_type <> 'PROMO'
          AND p_size IN (1, 4, 7, 10, 15, 22, 25, 28)
          AND ps_suppkey NOT IN (
              SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
          )
        GROUP BY p_brand, p_type, p_size
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def q16_supplier_relationship(spark: SparkSession, sf_dir: str) -> DataFrame:
    ps = partsupp_view(spark, sf_dir)
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 7, 10, 15, 22, 25, 28)
    )
    complainers = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        ps.join(
            F.broadcast(complainers),
            F.col("ps_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .join(F.broadcast(part), F.col("ps_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


# ---------------------------------------------------------------------------
# Q20 — potential part promotion (excess stock)
# ---------------------------------------------------------------------------


@register(
    "q20_excess_stock",
    category="subquery",
    doc="TPC-H Q20 analogue: NATION_3 suppliers holding more than half a "
    "year's shipped quantity of any 'small%' part. The nested IN chain "
    "is flattened: per-(part,supp) 1997 quantity aggregate (one shuffle "
    "on the composite key, map-side combined), joined to partsupp on the "
    "same key — co-partitioned, so AQE can planner-merge the exchange — "
    "then a semi-join reduced to DISTINCT suppkeys (tiny) broadcast "
    "against supplier. l_quantity values are integral doubles, so "
    "SUM/0.5* are exact and order-independent in both engines.",
    oracle=f"""
        WITH {SQL_PARTSUPP_CTE},
        qty AS (
            SELECT l_partkey, l_suppkey, SUM(l_quantity) AS total_qty
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate <  TIMESTAMP '1998-01-01'
            GROUP BY l_partkey, l_suppkey
        )
        SELECT DISTINCT s_name
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_3'
          AND s_suppkey IN (
              SELECT ps_suppkey
              FROM partsupp
              JOIN qty ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
              WHERE ps_partkey IN (
                    SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
                AND ps_availqty > 0.5 * total_qty
          )
        ORDER BY s_name
    """,
)
def q20_excess_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    ps = partsupp_view(spark, sf_dir)
    small_parts = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    qty = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
    )
    excess_supps = (
        ps.join(
            F.broadcast(small_parts), F.col("ps_partkey") == F.col("p_partkey"), "left_semi"
        )
        .join(
            qty,
            (F.col("ps_partkey") == F.col("l_partkey"))
            & (F.col("ps_suppkey") == F.col("l_suppkey")),
        )
        .filter(F.col("ps_availqty") > 0.5 * F.col("total_qty"))
        .select("ps_suppkey")
        .distinct()
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    return (
        supp.join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(excess_supps),
            F.col("s_suppkey") == F.col("ps_suppkey"),
            "left_semi",
        )
        .select("s_name")
        .distinct()
        .orderBy("s_name")
    )


# ---------------------------------------------------------------------------
# Q12 — shipping-delay priority split (analogue)
# ---------------------------------------------------------------------------


@register(
    "q12_delay_priority",
    category="aggregation",
    doc="TPC-H Q12 analogue (fixture has no l_shipmode/l_commitdate; the "
    "shipmode grouping becomes a ship-delay bucket): lineitem-orders "
    "join, then the Q12 signature two-way conditional aggregation "
    "(urgent vs non-urgent counts per bucket) — a CASE inside SUM, "
    "fully map-side combinable over a 3-row group domain, so the "
    "shuffle after the join is negligible at any scale.",
    oracle="""
        SELECT ship_bucket,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM (
            SELECT CASE
                     WHEN datediff('day', CAST(o_orderdate AS DATE),
                                   CAST(l_shipdate AS DATE)) >= 120 THEN 'VERY_LATE'
                     WHEN datediff('day', CAST(o_orderdate AS DATE),
                                   CAST(l_shipdate AS DATE)) >= 60 THEN 'LATE'
                     ELSE 'ON_TIME'
                   END AS ship_bucket,
                   o_orderpriority
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate <  TIMESTAMP '1998-01-01'
        )
        GROUP BY ship_bucket
        ORDER BY ship_bucket
    """,
)
def q12_delay_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    delay = F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.when(delay >= 120, "VERY_LATE")
            .when(delay >= 60, "LATE")
            .otherwise("ON_TIME")
            .alias("ship_bucket"),
            "o_orderpriority",
        )
        .groupBy("ship_bucket")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("ship_bucket")
    )


# ---------------------------------------------------------------------------
# Q21 — suppliers who kept orders waiting (analogue)
# ---------------------------------------------------------------------------


@register(
    "q21_waiting_supplier",
    category="subquery",
    doc="TPC-H Q21 analogue ('late' = shipped >60 days after order date; "
    "the fixture has no receipt/commit dates): for finished orders with "
    ">=2 suppliers where exactly ONE supplier shipped late, count that "
    "supplier's late lines. The EXISTS / NOT-EXISTS pair over lineitem "
    "is decorrelated into ONE per-order aggregate (distinct suppliers, "
    "distinct late suppliers) joined back to the late lines — one "
    "shuffle on orderkey instead of two additional self-joins of the "
    "biggest table; provably equivalent because [line is late, "
    "n_late_suppliers = 1] <=> [no OTHER supplier late], and "
    "[n_suppliers >= 2] <=> [another supplier EXISTS].",
    oracle="""
        WITH li AS (
            SELECT l_orderkey, l_suppkey, l_shipdate, o_orderdate
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            WHERE o_orderstatus = 'F'
        )
        SELECT s_name, COUNT(*) AS numwait
        FROM li l1
        JOIN supplier ON l1.l_suppkey = s_suppkey
        WHERE l1.l_shipdate > l1.o_orderdate + INTERVAL 60 DAY
          AND EXISTS (
              SELECT 1 FROM li l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey
          )
          AND NOT EXISTS (
              SELECT 1 FROM li l3
              WHERE l3.l_orderkey = l1.l_orderkey
                AND l3.l_suppkey <> l1.l_suppkey
                AND l3.l_shipdate > l3.o_orderdate + INTERVAL 60 DAY
          )
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 100
    """,
)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .withColumn(
            "is_late",
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
        )
        .select("l_orderkey", "l_suppkey", "is_late")
    )
    # two-level agg instead of two countDistincts: the (orderkey, suppkey)
    # pre-agg is map-side combinable and avoids the Expand operator's 2x
    # shuffle volume (measured 30% faster at sf0.1, and the gap widens
    # with scale since Expand doubles every shuffled row).
    #
    # Single-pass form (r07): the late-line COUNT rides the same pre-agg,
    # so the late side needs no second lineitem scan and no join back —
    # when exactly one supplier is late, that supplier's key and late-line
    # count are recoverable from the per-order rollup (max/sum over the
    # lone late pair).  2 lineitem scans + SortMergeJoin -> 1 scan + two
    # keyed aggregations; same rows out under the n_late_supp = 1 filter.
    per_pair = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("is_late").alias("pair_late"),
        F.sum(F.col("is_late").cast("long")).alias("n_late_lines"),
    )
    late_pair_supp = F.when(F.col("pair_late"), F.col("l_suppkey"))
    per_order = per_pair.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum(F.col("pair_late").cast("int")).alias("n_late_supp"),
        F.max(late_pair_supp).alias("late_suppkey"),
        F.sum(F.when(F.col("pair_late"), F.col("n_late_lines"))).alias("late_lines"),
    )
    lone_late = per_order.filter((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        lone_late.join(F.broadcast(supp), F.col("late_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.sum("late_lines").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )
