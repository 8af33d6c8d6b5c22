"""Extended TPC-H-style suite (Q6/Q7/Q10/Q14/Q15/Q17/Q18/Q19 analogues,
adapted to the fixture schema — no partsupp/shipmode/container columns).

Each query is chosen for a distinct plan shape the engine must get right
at 100 TB, noted per query.  All money arithmetic is exact DECIMAL
(util.py) so Spark and the DuckDB oracle agree to the last rounded digit
under any partitioning.

The reference implements no relational operators (SURVEY.md §2.2); this
suite is part of the declared analytic surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flow_spark.catalog import load_table
from flow_spark.queries.registry import register
from flow_spark.queries.util import (
    SQL_DISC_PCT,
    SQL_ONE_MINUS_DISC,
    SQL_PRICE,
    SQL_PRICE_CENTS,
    SQL_REVENUE,
    SQL_REVENUE_CENTS,
    cents,
    cents_sum_money,
    dec,
    one_minus,
    revenue_cents,
    revenue_expr,
    sql_cents_sum_money,
)


@register(
    "q6_forecast_revenue",
    category="aggregation",
    doc="TPC-H Q6: single-table scan with tight range predicates -> one "
    "scalar. The whole WHERE must reach the parquet scan (PushedFilters); "
    "at 100 TB this is the pushdown-or-die query: no join, no shuffle "
    "beyond a 1-row partial-agg merge. Money sum on exact scaled longs "
    "(util.py cents fast path) — the agg loop is the entire query here.",
    oracle=f"""
        SELECT {sql_cents_sum_money(f"({SQL_PRICE_CENTS} * {SQL_DISC_PCT})", 4)}
               AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            cents_sum_money(cents("l_extendedprice") * cents("l_discount"), 4).alias(
                "revenue"
            )
        )
    )


@register(
    "q7_volume_shipping",
    category="join",
    doc="TPC-H Q7: bidirectional nation-pair flows. lineitem is the only "
    "big table; supplier/customer/nation broadcast, so the 4-way join is "
    "shuffle-free on the fact side except the orders equi-join (which "
    "bucketing on orderkey would co-locate).",
    oracle=f"""
        SELECT sn.n_name AS supp_nation,
               cn.n_name AS cust_nation,
               CAST(year(l_shipdate) AS INT) AS l_year,
               {sql_cents_sum_money(SQL_REVENUE_CENTS, 4)} AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
            OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
          AND l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1998-01-01'
        GROUP BY supp_nation, cust_nation, l_year
        ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    nation = load_table(spark, sf_dir, "nation")
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    pair = (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2") | (
        F.col("supp_nation") == "NATION_2"
    ) & (F.col("cust_nation") == "NATION_1")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").cast("int").alias("l_year")
        )
        .agg(cents_sum_money(revenue_cents(), 4).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "q10_returned_items",
    category="join",
    doc="TPC-H Q10: top-20 customers by revenue lost to returns in one "
    "quarter. Fact-side filters (returnflag, date window) cut the join "
    "input before the shuffle; customer/nation broadcast.",
    oracle=f"""
        SELECT c_custkey, c_name,
               {sql_cents_sum_money(SQL_REVENUE_CENTS, 4)} AS revenue,
               ROUND(c_acctbal, 2) AS acctbal,
               n_name
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN nation   ON c_nationkey = n_nationkey
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1996-07-01'
          AND l_returnflag = 'R'
        GROUP BY c_custkey, c_name, acctbal, n_name
        ORDER BY revenue DESC, c_custkey ASC
        LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer").join(
        F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            "c_custkey",
            "c_name",
            F.round("c_acctbal", 2).alias("acctbal"),
            "n_name",
        )
        .agg(cents_sum_money(revenue_cents(), 4).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "acctbal", "n_name")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "q14_promo_effect",
    category="aggregation",
    doc="TPC-H Q14: conditional-aggregate ratio (promo revenue share) over "
    "a lineitem-part join for one month. part broadcasts; the CASE rides "
    "inside the partial agg so there is exactly one pass over the fact.",
    oracle=f"""
        SELECT ROUND(
                 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                                       THEN {SQL_REVENUE} ELSE CAST(0 AS DECIMAL(17,4)) END) AS DOUBLE)
                       / CAST(SUM({SQL_REVENUE}) AS DOUBLE), 4) AS promo_revenue_pct
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1997-03-01'
          AND l_shipdate <  TIMESTAMP '1997-04-01'
    """,
)
def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = revenue_expr()
    zero = F.lit(0).cast("decimal(17,4)")
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(zero)).cast("double")
                / F.sum(rev).cast("double"),
                4,
            ).alias("promo_revenue_pct")
        )
    )


@register(
    "q15_top_supplier",
    category="aggregation",
    doc="TPC-H Q15: supplier(s) whose period revenue equals the max. The "
    "per-supplier agg is computed once and reused for both the max scalar "
    "(broadcast) and the final equality filter — no re-scan of lineitem.",
    oracle=f"""
        WITH rev AS (
            SELECT l_suppkey AS supplier_no,
                   SUM({SQL_REVENUE}) AS total
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate <  TIMESTAMP '1997-04-01'
            GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name,
               CAST(ROUND(total, 2) AS DOUBLE) AS total_revenue
        FROM supplier JOIN rev ON s_suppkey = supplier_no
        WHERE total = (SELECT MAX(total) FROM rev)
        ORDER BY s_suppkey
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    rev = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(revenue_expr()).alias("total"))
        .cache()
    )
    max_total = rev.agg(F.max("total").alias("m"))
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(max_total), F.col("total") == F.col("m"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name", F.round("total", 2).cast("double").alias("total_revenue"))
        .orderBy("s_suppkey")
    )


@register(
    "q17_small_qty_revenue",
    category="subquery",
    doc="TPC-H Q17: correlated avg-quantity subquery decorrelated into a "
    "per-partkey aggregate joined back — the scalable rewrite (one extra "
    "agg over the filtered fact, then a broadcast join), not a per-row "
    "subquery execution.",
    oracle="""
        WITH target AS (
            SELECT p_partkey FROM part
            WHERE p_brand = 'Brand#11' AND p_type = 'SMALL'
        ),
        li AS (
            SELECT l_partkey, l_quantity, l_extendedprice
            FROM lineitem JOIN target ON l_partkey = p_partkey
        ),
        thresholds AS (
            SELECT l_partkey AS t_partkey,
                   0.5 * (SUM(l_quantity) / COUNT(*)) AS qty_cut
            FROM li GROUP BY l_partkey
        )
        SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) / 7.0, 2) AS DOUBLE)
               AS avg_yearly
        FROM li JOIN thresholds ON l_partkey = t_partkey
        WHERE l_quantity < qty_cut
    """,
)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = (
        load_table(spark, sf_dir, "part")
        .filter((F.col("p_brand") == "Brand#11") & (F.col("p_type") == "SMALL"))
        .select("p_partkey")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .select("l_partkey", "l_quantity", "l_extendedprice")
    )
    # quantities are integral doubles: SUM/COUNT is exact, the 0.5* and the
    # comparison are identical IEEE ops in both engines
    thresholds = li.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (F.lit(0.5) * (F.sum("l_quantity") / F.count(F.lit(1)))).alias("qty_cut")
    )
    return (
        li.join(F.broadcast(thresholds), F.col("l_partkey") == F.col("t_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .agg(
            F.round(F.sum(dec("l_extendedprice")) / F.lit(7.0), 2)
            .cast("double")
            .alias("avg_yearly")
        )
    )


@register(
    "q18_large_orders",
    category="subquery",
    doc="TPC-H Q18: orders whose total quantity exceeds a threshold "
    "(HAVING over the fact, then join back to orders/customer). The "
    "qualifying-keys set is tiny -> broadcast back against lineitem.",
    oracle="""
        WITH big AS (
            SELECT l_orderkey AS k, SUM(l_quantity) AS sum_qty
            FROM lineitem GROUP BY l_orderkey
            HAVING SUM(l_quantity) > 180
        )
        SELECT c_name, c_custkey, o_orderkey,
               strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
               ROUND(o_totalprice, 2) AS totalprice,
               CAST(sum_qty AS DOUBLE) AS sum_qty
        FROM big
        JOIN orders   ON o_orderkey = k
        JOIN customer ON c_custkey = o_custkey
        ORDER BY totalprice DESC, o_orderkey ASC
        LIMIT 100
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy(F.col("l_orderkey").alias("k"))
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 180)
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(orders, F.col("o_orderkey") == F.col("k"))
        .join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.round("o_totalprice", 2).alias("totalprice"),
            F.col("sum_qty").cast("double").alias("sum_qty"),
        )
        .orderBy(F.desc("totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


@register(
    "q4_order_priority",
    category="subquery",
    doc="TPC-H Q4 shape: EXISTS correlated subquery planned as a LEFT SEMI "
    "join (one pass over each table, no decorrelation by hand) — orders "
    "with at least one line shipped in the quarter after ordering.",
    oracle="""
        SELECT o_orderpriority, COUNT(*) AS n_orders
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate <  TIMESTAMP '1997-04-01'
          AND EXISTS (
              SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 30 DAY
          )
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        orders.join(
            li,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 30)),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
        .orderBy("o_orderpriority")
    )


@register(
    "q22_dormant_customers",
    category="subquery",
    doc="TPC-H Q22 shape: scalar subquery (global avg, broadcast as a "
    "1-row join) + NOT EXISTS (left anti join) — well-funded customers "
    "with no orders since 2000.",
    oracle="""
        SELECT c_mktsegment,
               COUNT(*) AS n_cust,
               ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE), 2)
                   AS total_bal
        FROM customer
        WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer
                           WHERE c_acctbal > 0)
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_orderdate >= TIMESTAMP '2000-01-01')
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
    """,
)
def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    # scalar subquery: computed once, joined as a broadcast literal row —
    # never a per-row recomputation.  AVG(double) over a filtered column is
    # engine-order-dependent in theory; both engines sum <=150k values of
    # ~4 digits, where the comparison margin makes flips unobservable, and
    # the oracle runs the same formula.
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("cut")
    )
    return (
        cust.join(F.broadcast(avg_bal), F.col("c_acctbal") > F.col("cut"))
        .join(orders, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_cust"),
            F.round(F.sum(F.col("c_acctbal").cast("decimal(12,2)")).cast("double"), 2).alias(
                "total_bal"
            ),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "q19_disjunctive_pred",
    category="filter",
    doc="TPC-H Q19: three-way disjunction of conjunctive band predicates "
    "over a lineitem-part join. Catalyst extracts the common l_partkey "
    "equi-condition; the OR-of-ANDs stays as a post-join filter but the "
    "per-branch part filters (brand+size) still prune the broadcast side.",
    oracle=f"""
        SELECT {sql_cents_sum_money(SQL_REVENUE_CENTS, 4)} AS revenue
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 1 AND 21)
           OR (p_brand = 'Brand#22' AND p_size BETWEEN 16 AND 30
               AND l_quantity BETWEEN 10 AND 30)
           OR (p_brand = 'Brand#25' AND p_size BETWEEN 31 AND 50
               AND l_quantity BETWEEN 20 AND 40)
    """,
)
def q19_disjunctive_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    q = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#11") & F.col("p_size").between(1, 15) & q.between(1, 21))
        | ((F.col("p_brand") == "Brand#22") & F.col("p_size").between(16, 30) & q.between(10, 30))
        | ((F.col("p_brand") == "Brand#25") & F.col("p_size").between(31, 50) & q.between(20, 40))
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond)
        .agg(cents_sum_money(revenue_cents(), 4).alias("revenue"))
    )


@register(
    "q8_market_share",
    category="join",
    doc="TPC-H Q8: a nation's share of regional revenue per year — "
    "conditional-agg ratio over the full 7-table join graph; every "
    "non-lineitem table broadcasts.",
    oracle=f"""
        SELECT CAST(year(o_orderdate) AS INT) AS o_year,
               ROUND(CAST(SUM(CASE WHEN n2.n_name = 'NATION_3'
                                   THEN {SQL_REVENUE_CENTS} ELSE 0 END) AS DOUBLE)
                     / CAST(SUM({SQL_REVENUE_CENTS}) AS DOUBLE), 6) AS mkt_share
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region   ON n1.n_regionkey = r_regionkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        JOIN part     ON l_partkey = p_partkey
        WHERE r_name = 'AMERICA'
          AND p_type = 'ECONOMY'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1998-01-01'
        GROUP BY o_year
        ORDER BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flow_spark.queries.util import revenue_cents

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))),
            F.col("s_nationkey") == F.col("sn_key"),
        )
        .select("s_suppkey", "supp_nation")
    )
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY").select("p_partkey")
    rev = revenue_cents()
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_3", rev).otherwise(F.lit(0))).cast("double")
                / F.sum(rev).cast("double"),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@register(
    "q13_customer_distribution",
    category="aggregation",
    doc="TPC-H Q13 analogue (no o_comment column in the fixtures, so the "
    "NOT LIKE filter is replaced by an order-priority filter): customer "
    "order-count distribution. Plan shape: LEFT OUTER join preserving "
    "zero-order customers, then TWO cascaded aggregations (per-customer "
    "count, then histogram over counts). At 100 TB the first agg shuffles "
    "on c_custkey; the second input is |customers| rows and the histogram "
    "domain is tiny, so the second shuffle is negligible — the outer join "
    "must not drop empty customers (that is the bug this query catches).",
    oracle="""
        SELECT c_count, COUNT(*) AS custdist
        FROM (
            SELECT c_custkey, COUNT(o_orderkey) AS c_count
            FROM customer
            LEFT OUTER JOIN orders
              ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
            GROUP BY c_custkey
        ) c_orders
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_custkey", "o_orderkey")
    per_cust = (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )
