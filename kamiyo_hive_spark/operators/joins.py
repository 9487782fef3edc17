"""Join operators (SURVEY §2.3) + the flagship end-to-end query.

Reference semantics:
- J1 1:N parent-child join (`app/api/swarm/runs/[runId]/route.ts:23-26`).
- J2 broadcast lookup join (`app/api/swarm/plan/route.ts:129-137`).
- J3 double semi-join — edge visible iff both endpoints pass the filter
  (`components/trust-graph/TrustGraphScene.tsx:567-570`).
- J5 anti-join uniqueness barrier (`programs/kamiyo-fast-voting/src/lib.rs:276-286`).
- J6 identity-link chain join (`packages/hive-sdk/src/swarmteams/swarm-types.ts:170-179`).
- J8 range-condition join: row valid iff its timestamp falls inside the
  parent's window (`lib.rs:103` deadline semantics).

Scale notes: dimension sides (customer-keys, part-keys, nation, region)
are broadcast — either explicitly or by AQE once filters shrink them
below the threshold. Fact-fact joins (orders⋈lineitem) shuffle on the
join key only, and aggregation is pushed below the join where the
grouping key is the join key (partial aggregation before shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kamiyo_hive_spark.catalog import table
from kamiyo_hive_spark.functions.money import rev_sum
from kamiyo_hive_spark.plans.registry import register

_REVENUE_SQL = "CAST(l_extendedprice AS DECIMAL(14,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))"


@register(
    "flagship_runs_listing",
    oracle=f"""
    WITH top_orders AS (
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
        ORDER BY o_orderdate DESC, o_orderkey
        LIMIT 20
    )
    SELECT t.o_orderkey, t.o_custkey, t.o_totalprice, t.o_orderdate,
           count(l.l_orderkey) AS n_items,
           coalesce(CAST(SUM({_REVENUE_SQL}) AS DOUBLE), 0.0) AS revenue
    FROM top_orders t LEFT JOIN lineitem l ON l.l_orderkey = t.o_orderkey
    GROUP BY 1, 2, 3, 4
    ORDER BY o_orderdate DESC, o_orderkey
    """,
    tags=("S1", "J1", "A6", "O1", "flagship"),
)
def flagship_runs_listing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship (SURVEY §7.1): latest-20 runs for a team with event
    counts — mapped to: latest-20 orders of BUILDING-segment customers
    with item counts and net revenue.

    Scale shape: top-K is taken FIRST on the filtered orders scan
    (TakeOrderedAndProject — no full sort), and only those 20 keys join
    lineitem; AQE broadcasts the 20-row side, so the big fact table is
    scanned once with no shuffle.
    """
    cust_keys = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")

    top = (
        orders.join(F.broadcast(cust_keys), orders.o_custkey == cust_keys.c_custkey)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
        .orderBy(F.desc("o_orderdate"), F.asc("o_orderkey"))
        .limit(20)
    )
    return (
        top.join(li, top.o_orderkey == li.l_orderkey, "left")
        .groupBy("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
        .agg(
            F.count("l_orderkey").alias("n_items"),
            F.coalesce(rev_sum(), F.lit(0.0)).alias("revenue"),
        )
        .orderBy(F.desc("o_orderdate"), F.asc("o_orderkey"))
    )


@register(
    "broadcast_lookup_join",
    oracle=f"""
    SELECT p.p_partkey, p.p_name,
           count(*) AS n_lines,
           CAST(SUM({_REVENUE_SQL}) AS DOUBLE) AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand = 'Brand#13'
    GROUP BY 1, 2
    ORDER BY p_partkey
    """,
    tags=("J2", "A6"),
)
def broadcast_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈dim lookup with an explicit broadcast of the filtered dim.

    The brand filter shrinks `part` far below the broadcast threshold;
    broadcasting removes the shuffle of the (much larger) lineitem side
    entirely — the canonical 100 TB join shape for dimension lookups.
    """
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#13")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_partkey", "p_name")
        .agg(F.count("*").alias("n_lines"), rev_sum().alias("revenue"))
    )


@register(
    "double_semi_join",
    oracle="""
    SELECT l.l_suppkey, count(*) AS n_lines
    FROM lineitem l
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_orderkey = l.l_orderkey AND o.o_orderpriority = '1-URGENT')
      AND EXISTS (SELECT 1 FROM part p
                  WHERE p.p_partkey = l.l_partkey AND p.p_size >= 25)
    GROUP BY 1
    ORDER BY l_suppkey
    """,
    tags=("J3",),
)
def double_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row survives iff BOTH endpoints exist in filtered sets (edge
    visibility semantics): two left-semi joins, no row duplication."""
    li = table(spark, sf_dir, "lineitem")
    urgent = table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    big_parts = table(spark, sf_dir, "part").filter(F.col("p_size") >= 25)
    return (
        li.join(urgent, li.l_orderkey == urgent.o_orderkey, "left_semi")
        .join(F.broadcast(big_parts), F.col("l_partkey") == big_parts.p_partkey, "left_semi")
        .groupBy("l_suppkey")
        .agg(F.count("*").alias("n_lines"))
    )


@register(
    "anti_join_orphans",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
    ORDER BY c_custkey
    """,
    tags=("J5",),
)
def anti_join_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join uniqueness barrier: rows with no matching key on the
    other side (duplicate-nullifier / orphan detection semantics)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_acctbal")
    )


@register(
    "identity_link_chain",
    oracle="""
    SELECT s.s_suppkey, s.s_name, n.n_name AS nation, r.r_name AS region
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    ORDER BY s_suppkey
    """,
    tags=("J6", "J7"),
)
def identity_link_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained identity-link joins through two broadcast dimensions."""
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
    )


@register(
    "range_window_join",
    oracle=f"""
    SELECT o.o_orderpriority,
           count(*) AS n_in_window,
           CAST(SUM({_REVENUE_SQL}) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= o.o_orderdate
      AND l.l_shipdate < o.o_orderdate + INTERVAL 60 DAY
    GROUP BY 1
    ORDER BY o_orderpriority
    """,
    tags=("J8", "ST2"),
)
def range_window_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-condition join: child row valid iff its event time falls in
    the parent's [start, start+window) — the vote-before-deadline shape
    (`lib.rs:103`). Equi-key carries the shuffle; the range predicate is
    evaluated post-match, so there is no quadratic blowup."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    cond = (
        (li.l_orderkey == o.o_orderkey)
        & (li.l_shipdate >= o.o_orderdate)
        & (li.l_shipdate < o.o_orderdate + F.expr("INTERVAL 60 DAY"))
    )
    return (
        li.join(o, cond)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_in_window"), rev_sum().alias("revenue"))
    )


@register(
    "shipping_priority_top10",
    oracle=f"""
    SELECT l.l_orderkey,
           CAST(SUM({_REVENUE_SQL}) AS DOUBLE) AS revenue,
           o.o_orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'MACHINERY'
      AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    tags=("J1", "A6", "W1", "tpch-q3"),
)
def shipping_priority_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join, aggregate, top-10 by revenue."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "MACHINERY")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c.select("c_custkey")), o.o_custkey == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(rev_sum().alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "local_supplier_volume",
    oracle=f"""
    SELECT n.n_name AS nation,
           CAST(SUM({_REVENUE_SQL}) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY 1
    ORDER BY revenue DESC, nation
    """,
    tags=("J1", "J6", "A6", "tpch-q5"),
)
def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join where supplier and customer must share
    a nation inside one region. Dimensions broadcast; the only shuffles
    are the orders⋈lineitem key exchange and the final small agg."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), (F.col("l_suppkey") == s.s_suppkey) & (F.col("c_nationkey") == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(rev_sum().alias("revenue"))
    )
