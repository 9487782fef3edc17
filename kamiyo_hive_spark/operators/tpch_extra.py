"""Remaining classic TPC-H decorrelation shapes (Q2/Q7/Q8/Q9/Q11/Q15/Q16/Q20).

The testdata star schema has no ``partsupp`` table, so the
part-supplier relation is derived from ``lineitem`` (distinct
``(l_partkey, l_suppkey)`` pairs and their decimal-exact unit
economics) — the optimizer shapes these queries exercise are identical:

- Q2: correlated MIN subquery over a dimension-filtered offer set →
  window-min decorrelation (one shuffle on partkey, no self-join).
- Q7: two-nation volume with a symmetric pair disjunction — the nation
  filter must reach both broadcast dim joins before the fact shuffle.
- Q8: market share = ratio of conditional sum to total sum per group,
  one pass.
- Q9: multi-way star join (fact + 4 dims) with computed profit.
- Q11: HAVING against a scalar aggregate of the same derived relation
  (group share > k × global total) — scalar planned as a broadcast.
- Q15: argmax-vs-global-max over an aggregated view.
- Q16: COUNT(DISTINCT) per attribute group with a NOT-IN supplier
  exclusion → left-anti join, no correlated scan.
- Q20: nested IN chain (part pattern → above-average shipper) →
  semi-join ladder with the threshold decorrelated per part.

Reference parity: the reference's closest shapes are spend-by-agent
top-K (`app/[locale]/hive/runs/[runId]/page.tsx:48-58`) and leaderboard
ordering (`lib/indexer.ts:64-83`); these queries extend that surface to
the full classic-warehouse breadth the engine claims in SURVEY §2.

Scale notes: every aggregation here is partial-aggregated map-side
before its single shuffle; dims (supplier/nation/region/part at
catalog-dimension cardinality) are broadcast; the only fact-sized
shuffles key on high-cardinality join keys (orderkey/partkey/suppkey),
which are uniform in TPC-H-shaped data — no salting needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kamiyo_hive_spark.catalog import table
from kamiyo_hive_spark.functions.money import cents, dec, exact_sum, money_sum_col, rev_sum, rev_units
from kamiyo_hive_spark.plans.registry import register

_REV = (
    "CAST(l_extendedprice AS DECIMAL(14,2)) * "
    "(CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))"
)


def _suppliers_in_region(spark: SparkSession, sf_dir: str, region: str) -> DataFrame:
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == region)
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", F.col("n_name").alias("supp_nation"))
    )


@register(
    "min_cost_supplier",
    oracle="""
    WITH offers AS (
        SELECT l_partkey, l_suppkey,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE)
               / CAST(SUM(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS unit_cost
        FROM lineitem GROUP BY 1, 2
    ),
    asia AS (
        SELECT s_suppkey, s_name, n_name AS supp_nation
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
    ),
    ranked AS (
        SELECT o.l_partkey, o.unit_cost, a.s_name, a.supp_nation,
               min(o.unit_cost) OVER (PARTITION BY o.l_partkey) AS min_cost
        FROM offers o JOIN asia a ON a.s_suppkey = o.l_suppkey
    )
    SELECT p.p_partkey, p.p_name, r.s_name, r.supp_nation, r.unit_cost
    FROM ranked r JOIN part p ON p.p_partkey = r.l_partkey
    WHERE r.unit_cost = r.min_cost AND p.p_size <= 5
    ORDER BY p_partkey, s_name
    """,
    tags=("tpch-q2", "correlated-min", "window-decorrelated", "J2"),
)
def min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each small part, the ASIA supplier with the
    lowest decimal-exact unit price. The correlated MIN subquery is
    decorrelated to a window min over the region-filtered offer set —
    one shuffle on (partkey, suppkey) for the offer aggregate, a window
    on partkey, and broadcast dims; the naive plan's offer×offer
    self-join never happens. The broadcast region filter is applied
    BEFORE the offer aggregation, so the shuffle carries only the ~1/5
    qualifying region slice; the supplier attributes ride through the
    aggregate as (functionally dependent) grouping keys instead of a
    second join."""
    li = table(spark, sf_dir, "lineitem")
    asia = _suppliers_in_region(spark, sf_dir, "ASIA").select(
        "s_suppkey", "s_name", "supp_nation"
    )
    p = table(spark, sf_dir, "part").filter(F.col("p_size") <= 5)
    offers = (
        li.join(F.broadcast(asia), li.l_suppkey == asia.s_suppkey)
        # ONE exchange for agg AND window (r8): hash(l_partkey) is a
        # subset of the aggregate's grouping keys and exactly the
        # window's partition key, so this repartition satisfies both
        # and EnsureRequirements inserts nothing further (A/B best-of-4
        # at sf0.1: 1.11 -> 0.85 s). Trade-off: the exchange carries
        # the qualifying RAW rows instead of map-combined (partkey,
        # suppkey) cells — here multiplicity is ~1-2 lineitems per
        # cell, so the raw slice is barely wider; revisit if the
        # per-cell multiplicity ever grows.
        .repartition(F.col("l_partkey"))
        .groupBy("l_partkey", "l_suppkey", "s_name", "supp_nation")
        .agg(
            (
                money_sum_col("l_extendedprice") / money_sum_col("l_quantity")
            ).alias("unit_cost")
        )
    )
    ranked = offers.withColumn(
        "min_cost", F.min("unit_cost").over(Window.partitionBy("l_partkey"))
    )
    return (
        ranked.filter(F.col("unit_cost") == F.col("min_cost"))
        .join(F.broadcast(p), p.p_partkey == ranked.l_partkey)
        .select("p_partkey", "p_name", "s_name", "supp_nation", "unit_cost")
    )


@register(
    "cross_nation_volume",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INT) AS l_year,
           CAST(SUM({_REV}) AS DOUBLE) AS revenue,
           count(*) AS n_lines
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
    JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
    WHERE ((n1.n_name = 'NATION_13' AND n2.n_name = 'NATION_19')
        OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_13'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """,
    tags=("tpch-q7", "J1", "disjunction", "A6"),
)
def cross_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between two nations in either
    direction, by year. The symmetric nation-pair disjunction is applied
    after two broadcast nation joins; each side is pre-filtered to the
    two candidate nations BEFORE the fact joins, so the orders/customer
    shuffle only carries the ~2/25 qualifying slice."""
    two = ("NATION_13", "NATION_19")
    n = table(spark, sf_dir, "nation").filter(F.col("n_name").isin(*two))
    s = (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        table(spark, sf_dir, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    o = table(spark, sf_dir, "orders")
    pair = (
        (F.col("supp_nation") == two[0]) & (F.col("cust_nation") == two[1])
    ) | ((F.col("supp_nation") == two[1]) & (F.col("cust_nation") == two[0]))
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(rev_sum().alias("revenue"), F.count("*").alias("n_lines"))
    )


@register(
    "regional_market_share",
    oracle=f"""
    SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
           CAST(SUM(CASE WHEN n1.n_name = 'NATION_3' THEN {_REV}
                         ELSE CAST(0 AS DECIMAL(14,2)) END) AS DOUBLE)
             / CAST(SUM({_REV}) AS DOUBLE) AS mkt_share,
           count(*) AS n_lines
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey AND p.p_type = 'ECONOMY'
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
    JOIN region r   ON r.r_regionkey = n2.n_regionkey AND r.r_name = 'AMERICA'
    GROUP BY 1
    ORDER BY 1
    """,
    tags=("tpch-q8", "A2", "market-share"),
)
def regional_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of AMERICA's ECONOMY-part
    revenue per year — conditional-sum / total-sum ratio from a single
    pass over the joined fact. Part, supplier-nation, and
    customer-nation-region dims all broadcast; the fact shuffles only
    for the orders join."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    s = (
        table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        table(spark, sf_dir, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    o = table(spark, sf_dir, "orders")
    # Conditional-ratio on scale-4 long unit sums (rev_units): both
    # operands are the decimal-sum→double casts' exact doubles.
    rev_u = rev_units()
    nation_rev = F.when(F.col("supp_nation") == "NATION_3", rev_u).otherwise(
        F.lit(0).cast("long")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (exact_sum(nation_rev, 4) / exact_sum(rev_u, 4)).alias("mkt_share"),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "nation_product_profit",
    oracle=f"""
    SELECT n.n_name AS supp_nation,
           CAST(year(o.o_orderdate) AS INT) AS o_year,
           CAST(SUM({_REV}
                    - CAST(0.6 AS DECIMAL(4,2))
                      * CAST(p.p_retailprice AS DECIMAL(14,2))
                      * CAST(l.l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS profit
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    WHERE contains(p.p_name, 'gear')
    GROUP BY 1, 2
    ORDER BY supp_nation, o_year DESC
    """,
    tags=("tpch-q9", "J1", "A6", "profit"),
)
def nation_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit on 'gear' parts by supplier nation and
    order year. Cost uses a 60%-of-retail proxy (no partsupp table);
    the whole profit expression stays exact through the aggregate —
    as scale-6 integer units summed in long codegen (see the
    profit_units note below). Part filter is pushed into the broadcast
    build side, so the fact rows for other parts never shuffle."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_name").contains("gear"))
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    o = table(spark, sf_dir, "orders")
    # Profit in scale-6 integer units (r11, guide §2.3): the decimal
    # form accumulated a scale-6 wide-decimal per row; both terms are
    # exact integers in sub-units (rev_units is scale 4 → ×100; the
    # 60%-of-retail cost is 60 × retail_cents × qty_cents, scale
    # 2+2+2=6), so the long sum is the exact scale-6 total.
    profit_units = rev_units() * F.lit(100).cast("long") - (
        F.lit(60).cast("long") * cents("p_retailprice") * cents("l_quantity")
    )
    sn = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(sn), li.l_suppkey == sn.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("supp_nation", F.year("o_orderdate").alias("o_year"))
        .agg(exact_sum(profit_units, 6).alias("profit"))
    )


@register(
    "important_part_share",
    oracle="""
    WITH asia_value AS (
        SELECT l.l_partkey,
               SUM(CAST(l.l_extendedprice AS DECIMAL(14,2))) AS value_dec
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n   ON n.n_nationkey = s.s_nationkey
        JOIN region r   ON r.r_regionkey = n.n_regionkey
        WHERE r.r_name = 'ASIA'
        GROUP BY 1
    )
    SELECT l_partkey, CAST(value_dec AS DOUBLE) AS part_value
    FROM asia_value
    WHERE CAST(value_dec AS DOUBLE) >
          2.0 * (SELECT CAST(SUM(value_dec) AS DOUBLE) / count(*) FROM asia_value)
    ORDER BY part_value DESC, l_partkey
    """,
    tags=("tpch-q11", "having-scalar", "scalar-subquery"),
)
def important_part_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose ASIA-supplied shipment value
    exceeds 2x the average per-part value — a HAVING clause compared
    against a scalar aggregate of the same derived relation. The
    per-part aggregate is materialized once (explicitly persisted —
    Catalyst does not recognize the two consumers as a reusable
    exchange across the broadcast-scalar boundary) and the grand total
    broadcasts as a single row: one fact scan, one fact shuffle."""
    li = table(spark, sf_dir, "lineitem")
    s = _suppliers_in_region(spark, sf_dir, "ASIA").select("s_suppkey")
    # Stays decimal ON MEASUREMENT (r11): the integer sub-unit rewrite
    # of this per-part aggregate A/B'd 1.04x (interleaved, 7 reps) —
    # the ~20k-group aggregate is scheduling-floor-bound, not
    # accumulator-bound, at this shape.
    per_part = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy("l_partkey")
        .agg(F.sum(dec("l_extendedprice")).alias("value_dec"))
    ).persist()
    total = per_part.agg(
        (F.sum("value_dec").cast("double") / F.count("*")).alias("avg_value")
    )
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("value_dec").cast("double") > 2.0 * F.col("avg_value"))
        .select("l_partkey", F.col("value_dec").cast("double").alias("part_value"))
    )


@register(
    "top_revenue_supplier",
    oracle=f"""
    WITH revenue AS (
        SELECT l_suppkey, CAST(SUM({_REV}) AS DOUBLE) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1998-04-01 00:00:00'
        GROUP BY 1
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM revenue r JOIN supplier s ON s.s_suppkey = r.l_suppkey
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
    tags=("tpch-q15", "argmax-global", "W3"),
)
def top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) achieving the quarter's maximum
    revenue — argmax against a global scalar max of an aggregated view.
    Revenue per supplier is decimal-exact (ties are real ties, not
    float accidents); the max broadcasts back as one row."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-04-01 00:00:00").cast("timestamp"))
    )
    revenue = li.groupBy("l_suppkey").agg(rev_sum().alias("total_revenue"))
    mx = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    s = table(spark, sf_dir, "supplier")
    return (
        revenue.join(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "supplier_cnt_by_part",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           count(DISTINCT ps.l_suppkey) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
    JOIN part p ON p.p_partkey = ps.l_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
      AND ps.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY 1, 2, 3
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    tags=("tpch-q16", "count-distinct", "not-in", "anti-join"),
)
def supplier_cnt_by_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per part attribute
    group, excluding a blocklisted supplier set (negative balance as
    the complaints stand-in). NOT IN becomes a broadcast left-anti
    join. r10 (guide §2.4): the explicit pre-join `.distinct()` is
    gone — it forced a full (partkey, suppkey) exchange BEFORE the
    selective part filter (the plan's biggest shuffle), while
    `countDistinct` already dedups in its partial-distinct pass, which
    now runs AFTER the broadcast part join has dropped ~5/6 of the
    rows. Same result by definition; 2 exchanges now carry
    part-filtered rows only (plan diff in plans/r10)."""
    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
    )
    bad = table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "qualified_stock_suppliers",
    oracle="""
    WITH shipped AS (
        SELECT l.l_partkey, l.l_suppkey,
               SUM(CAST(l.l_quantity AS DECIMAL(14,2))) AS qty_dec
        FROM lineitem l
        WHERE l.l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'
          AND l.l_shipdate <  TIMESTAMP '1999-01-01 00:00:00'
          AND l.l_partkey IN (SELECT p_partkey FROM part
                              WHERE p_name LIKE 'small%')
        GROUP BY 1, 2
    ),
    qualified AS (
        SELECT l_partkey, l_suppkey
        FROM (SELECT s.*,
                     avg(CAST(qty_dec AS DOUBLE)) OVER (PARTITION BY l_partkey)
                         AS part_avg
              FROM shipped s)
        WHERE CAST(qty_dec AS DOUBLE) > 1.2 * part_avg
    )
    SELECT s.s_name, n.n_name AS supp_nation
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE s.s_suppkey IN (SELECT l_suppkey FROM qualified)
    ORDER BY s_name
    """,
    tags=("tpch-q20", "nested-in", "semi-join-chain"),
)
def qualified_stock_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers who shipped an above-average volume
    (>1.2× the part's mean) of any 'small…' part in 1998 — a nested IN
    chain planned as a semi-join ladder: part-pattern semi-join into
    the fact, per-(part,supplier) aggregate, window-decorrelated
    threshold, then a final semi-join into supplier. No correlated
    rescans; the fact is read once."""
    p_small = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_name").startswith("small"))
        .select("p_partkey")
    )
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01 00:00:00").cast("timestamp"))
    )
    # Stays decimal ON MEASUREMENT (r11): the integer sub-unit rewrite
    # A/B'd 1.07x (interleaved, 7 reps) — the shipped aggregate is
    # small after the semi-join and the extra per-row round(x*100)
    # outweighs the compact-decimal saving.
    shipped = (
        li.join(F.broadcast(p_small), li.l_partkey == p_small.p_partkey, "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(dec("l_quantity")).alias("qty_dec"))
    )
    qualified = (
        shipped.withColumn(
            "part_avg",
            F.avg(F.col("qty_dec").cast("double")).over(
                Window.partitionBy("l_partkey")
            ),
        )
        .filter(F.col("qty_dec").cast("double") > 1.2 * F.col("part_avg"))
        .select("l_suppkey")
    )
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    return (
        s.join(qualified, s.s_suppkey == qualified.l_suppkey, "left_semi")
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("s_name", F.col("n_name").alias("supp_nation"))
    )
