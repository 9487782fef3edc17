"""Classic analytic query shapes (TPC-H-derived breadth).

Each exercises a distinct optimizer/runtime shape not covered by the
§2-mapped queries: HAVING over aggregate subqueries, disjunctive
multi-column predicates, conditional-ratio metrics, ordered categorical
bucketing. All decimal-exact and oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kamiyo_hive_spark.catalog import table
from kamiyo_hive_spark.functions.money import cents, exact_sum, finish_units, money_sum_col, rev_sum, rev_units
from kamiyo_hive_spark.plans.registry import register

_REV = "CAST(l_extendedprice AS DECIMAL(14,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))"


@register(
    "priority_order_counts",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
    GROUP BY 1
    ORDER BY o_orderpriority
    """,
    tags=("tpch-q4", "J3", "A1"),
)
def priority_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders having at least one slow lineitem
    (correlated EXISTS with a time condition → left-semi join)."""
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01 00:00:00").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem")
    cond = (li.l_orderkey == o.o_orderkey) & (
        li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 30 DAY")
    )
    return (
        o.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


@register(
    "returned_top_customers",
    oracle=f"""
    SELECT c.c_custkey, c.c_name, n.n_name AS nation,
           CAST(SUM({_REV}) AS DOUBLE) AS lost_revenue
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY 1, 2, 3
    ORDER BY lost_revenue DESC, c_custkey
    LIMIT 20
    """,
    tags=("tpch-q10", "J1", "A6", "W1"),
)
def returned_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returns, top-20 customers."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(rev_sum().alias("lost_revenue"))
        .orderBy(F.desc("lost_revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "promo_revenue_pct",
    oracle=f"""
    SELECT CAST(SUM(CASE WHEN p.p_type = 'PROMO' THEN {_REV} END) AS DOUBLE)
             / CAST(SUM({_REV}) AS DOUBLE) * 100.0 AS promo_pct,
           count(*) AS n_lines
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1998-02-01 00:00:00'
    """,
    tags=("tpch-q14", "A2", "J2"),
)
def promo_revenue_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-ratio metric (promo revenue share)
    — both numerator and denominator from one pass."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-02-01 00:00:00").cast("timestamp"))
    )
    p = table(spark, sf_dir, "part")
    # Numerator/denominator as scale-4 long unit sums (rev_units): each
    # operand is the decimal-sum→double cast's exact double, so the
    # ratio is too.
    rev_u = rev_units()
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            (
                exact_sum(F.when(F.col("p_type") == "PROMO", rev_u), 4)
                / exact_sum(rev_u, 4)
                * 100.0
            ).alias("promo_pct"),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "large_volume_customers",
    oracle="""
    WITH big_orders AS (
        SELECT l_orderkey,
               CAST(SUM(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS total_qty
        FROM lineitem
        GROUP BY 1
        HAVING SUM(CAST(l_quantity AS DECIMAL(14,2))) > CAST(150 AS DECIMAL(14,2))
    )
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate, b.total_qty
    FROM big_orders b
    JOIN orders o ON o.o_orderkey = b.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY b.total_qty DESC, o.o_orderkey
    LIMIT 50
    """,
    tags=("tpch-q18", "having", "A6"),
)
def large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING over an aggregate subquery feeding a
    join — the aggregate filter runs BEFORE the customer join, so only
    qualifying orders shuffle."""
    li = table(spark, sf_dir, "lineitem")
    # Quantities as integer sub-units (r11, guide §2.3): the per-order
    # sum was the query's widest aggregation (decimal(24,2) buffer over
    # every lineitem row); the long sum is exact, the HAVING threshold
    # compares the same exact quantity (>150.00 ⇔ >15000 sub-units),
    # and finish_units serves the exact double.
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(cents("l_quantity")).alias("qty_c"))
        .filter(F.col("qty_c") > F.lit(15000).cast("long"))
        .select("l_orderkey", finish_units("qty_c", 2).alias("total_qty"))
    )
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("c_custkey", "c_name", "o_orderkey", "o_orderdate", "total_qty")
        .orderBy(F.desc("total_qty"), F.asc("o_orderkey"))
        .limit(50)
    )


@register(
    "disjunctive_predicates",
    oracle=f"""
    SELECT CAST(SUM({_REV}) AS DOUBLE) AS revenue, count(*) AS n_lines
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity >= 1 AND l.l_quantity <= 30)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25 AND l.l_quantity >= 10 AND l.l_quantity <= 40)
       OR (p.p_brand = 'Brand#25' AND p.p_size BETWEEN 1 AND 35 AND l.l_quantity >= 20 AND l.l_quantity <= 50)
    """,
    tags=("tpch-q19", "P3", "disjunction"),
)
def disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: three disjunctive brand/size/quantity branches —
    the optimizer must still push the common join key and prune columns
    despite the OR tree."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)

    def branch(brand: str, size_hi: int, q_lo: int, q_hi: int) -> F.Column:
        return (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(1, size_hi)
            & F.col("l_quantity").between(q_lo, q_hi)
        )

    cond = branch("Brand#12", 15, 1, 30) | branch("Brand#23", 25, 10, 40) | branch(
        "Brand#25", 35, 20, 50
    )
    return j.filter(cond).agg(
        rev_sum().alias("revenue"), F.count("*").alias("n_lines")
    )


@register(
    "shipmode_buckets",
    oracle="""
    SELECT CASE WHEN o_totalprice < 100000 THEN 'small'
                WHEN o_totalprice < 250000 THEN 'medium'
                ELSE 'large' END AS size_bucket,
           o_orderstatus,
           count(*) AS n_orders,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
               AS n_high_priority
    FROM orders
    GROUP BY 1, 2
    ORDER BY size_bucket, o_orderstatus
    """,
    tags=("tpch-q12", "A1", "case-banding"),
)
def shipmode_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: categorical bucketing with priority-class
    conditional counts per bucket."""
    o = table(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 100000, "small")
        .when(F.col("o_totalprice") < 250000, "medium")
        .otherwise("large")
    )
    high = F.sum(
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1).otherwise(0)
    )
    return (
        o.groupBy(bucket.alias("size_bucket"), "o_orderstatus")
        .agg(F.count("*").alias("n_orders"), high.alias("n_high_priority"))
    )


@register(
    "cust_order_distribution",
    oracle="""
    SELECT n_orders, count(*) AS n_custs
    FROM (
        SELECT c.c_custkey, count(o.o_orderkey) AS n_orders
        FROM customer c
        LEFT JOIN orders o
          ON o.o_custkey = c.c_custkey AND o.o_orderpriority <> '1-URGENT'
        GROUP BY 1
    )
    GROUP BY 1
    ORDER BY n_custs DESC, n_orders DESC
    """,
    tags=("tpch-q13", "J1", "A7", "distribution"),
)
def cust_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of per-customer order counts —
    outer join (customers with zero orders must appear), count per
    customer, then a histogram of those counts. Two hash aggregations;
    the second input is customer-sized, tiny relative to the fact."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return (
        per_cust.groupBy("n_orders")
        .agg(F.count("*").alias("n_custs"))
    )


@register(
    "small_lot_revenue",
    oracle="""
    SELECT p.p_brand,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(14,2))) AS DOUBLE)
               AS small_lot_revenue,
           count(*) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN (
        SELECT l_partkey, 0.2 * avg(l_quantity) AS qty_threshold
        FROM lineitem GROUP BY 1
    ) t ON t.l_partkey = l.l_partkey
    WHERE p.p_brand IN ('Brand#2', 'Brand#4')
      AND l.l_quantity < t.qty_threshold
    GROUP BY 1
    ORDER BY p_brand
    """,
    tags=("tpch-q17", "correlated-agg", "A6"),
)
def small_lot_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated aggregate subquery (rows below 20%
    of their part's average quantity) decorrelated into a per-part
    aggregate + equi-join. The threshold table is part-sized → AQE
    broadcasts it; the fact scans once for thresholds, once for the
    probe — at warehouse scale the threshold side becomes a
    materialized stat table and the probe is a single pass."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_brand").isin("Brand#2", "Brand#4"))
    thresholds = li.groupBy("l_partkey").agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_threshold")
    )
    return (
        li.join(p, p.p_partkey == li.l_partkey)
        .join(thresholds, "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .groupBy("p_brand")
        .agg(
            money_sum_col("l_extendedprice").alias("small_lot_revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "waiting_supplier_rank",
    oracle="""
    SELECT s.s_name, count(*) AS numwait
    FROM lineitem l1
    JOIN orders o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > l1.l_shipdate)
    GROUP BY 1
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
    tags=("tpch-q21", "exists", "not-exists", "W-decorrelated"),
)
def waiting_supplier_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: EXISTS + NOT EXISTS over the same fact,
    decorrelated into window aggregates — for each lineitem of a
    finished order, keep it iff another supplier participated (EXISTS)
    and no other supplier shipped later (NOT EXISTS). One shuffle on
    l_orderkey computes all three per-order statistics (distinct
    suppliers, global max shipdate, per-supplier max shipdate) instead
    of the naive triple self-join; at 100 TB that is one exchange of
    the fact vs three."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = table(spark, sf_dir, "supplier")

    w_order = Window.partitionBy("l_orderkey")
    w_osupp = Window.partitionBy("l_orderkey", "l_suppkey")
    enriched = (
        li.join(o.select("o_orderkey"), li.l_orderkey == o.o_orderkey, "left_semi")
        .withColumn("n_supps", F.size(F.collect_set("l_suppkey").over(w_order)))
        .withColumn("order_max_ship", F.max("l_shipdate").over(w_order))
        .withColumn("supp_max_ship", F.max("l_shipdate").over(w_osupp))
        # max shipdate among OTHER suppliers: if some other supplier
        # reaches the order max, it's the order max; else the runner-up
        .withColumn(
            "n_supps_at_max",
            F.size(
                F.collect_set(
                    F.when(
                        F.col("supp_max_ship") == F.col("order_max_ship"),
                        F.col("l_suppkey"),
                    )
                ).over(w_order)
            ),
        )
        .withColumn(
            "runner_up_ship",
            F.max(
                F.when(
                    F.col("supp_max_ship") < F.col("order_max_ship"),
                    F.col("supp_max_ship"),
                )
            ).over(w_order),
        )
        .withColumn(
            "other_max_ship",
            F.when(
                (F.col("supp_max_ship") == F.col("order_max_ship"))
                & (F.col("n_supps_at_max") == 1),
                F.col("runner_up_ship"),
            ).otherwise(F.col("order_max_ship")),
        )
    )
    kept = enriched.filter(
        (F.col("n_supps") > 1) & (F.col("l_shipdate") >= F.col("other_max_ship"))
    )
    return (
        kept.join(F.broadcast(s), kept.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


@register(
    "idle_customer_balance",
    oracle="""
    SELECT c_mktsegment,
           count(*) AS n_custs,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
    FROM customer c
    WHERE c.c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
    GROUP BY 1
    ORDER BY c_mktsegment
    """,
    tags=("tpch-q22", "anti-join", "scalar-subquery", "A6"),
)
def idle_customer_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers dormant since
    1999 — scalar aggregate subquery (broadcast single row) + left-anti
    join. The anti-join probes a date-filtered, column-pruned o_custkey
    scan; the comparison threshold never leaves the JVM."""
    c = table(spark, sf_dir, "customer")
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    o_keys = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1999-01-01 00:00:00").cast("timestamp"))
        .select("o_custkey")
    )
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o_keys, c.c_custkey == o_keys.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_custs"),
            money_sum_col("c_acctbal").alias("total_bal"),
        )
    )
