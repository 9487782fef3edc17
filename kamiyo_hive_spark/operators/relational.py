"""Scans, projections, filters, sorts, pagination (SURVEY §2.1-2.2, §2.6).

Reference semantics re-expressed over the testdata star schema:
- S1 listing scan (kamiyo-hive `app/api/swarm/runs/route.ts:147-163`):
  filter + sort + limit + projection → Catalyst plans a
  TakeOrderedAndProject over a pruned parquet scan.
- S2 point lookup + ordered children (`app/api/swarm/runs/[runId]/route.ts:23-26`).
- P3 conjunctive predicates (`packages/hive-sdk/src/keiro-client.ts:129-142`).
- P7 case-insensitive substring search (`components/trust-graph/TrustGraphScene.tsx:556-563`).
- P9 time-range predicate (`packages/hive-sdk/src/channels/message-store.ts:39-41`).
- P11 null-safe clamping (`app/api/swarm/runs/route.ts:31-33`).
- O4 offset/limit pagination (`packages/hive-sdk/src/discovery.ts:99-110`).

Scale notes: every query here is a single scan with pushed filters and
pruned columns — no shuffle except the global top-K, which Spark
executes as per-partition top-K + driver merge (TakeOrderedAndProject),
safe at any row count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kamiyo_hive_spark.catalog import table
from kamiyo_hive_spark.plans.registry import register


@register(
    "listing_latest",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate, o_orderpriority
    FROM orders
    WHERE o_orderpriority = '1-URGENT'
    ORDER BY o_orderdate DESC, o_orderkey
    LIMIT 20
    """,
    tags=("S1", "P1", "P2", "O1"),
)
def listing_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newest-20 listing scan: filter + sort desc + limit + projection."""
    return (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("o_orderdate"), F.asc("o_orderkey"))
        .limit(20)
    )


@register(
    "point_lookup_children",
    oracle="""
    SELECT o.o_orderkey, o.o_orderstatus, o.o_totalprice,
           l.l_linenumber, l.l_partkey, l.l_suppkey, l.l_quantity, l.l_extendedprice
    FROM orders o LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey = 1
    ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity
    """,
    tags=("S2", "J1", "O2"),
)
def point_lookup_children(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookup of one parent + its ordered children (1:N include)."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") == 1)
    li = table(spark, sf_dir, "lineitem")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left")
        .select(
            "o_orderkey", "o_orderstatus", "o_totalprice",
            "l_linenumber", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice",
        )
        .orderBy("l_linenumber", "l_partkey", "l_suppkey", "l_quantity")
    )


@register(
    "conj_filter_parts",
    oracle="""
    SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice
    FROM part
    WHERE p_type = 'ECONOMY' AND p_size BETWEEN 10 AND 30 AND p_retailprice <= 1500.0
    ORDER BY p_partkey
    """,
    tags=("P3", "P6"),
)
def conj_filter_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive predicate filter (status ∧ range ∧ price cap)."""
    return (
        table(spark, sf_dir, "part")
        .filter(
            (F.col("p_type") == "ECONOMY")
            & F.col("p_size").between(10, 30)
            & (F.col("p_retailprice") <= 1500.0)
        )
    )


@register(
    "ci_substring_search",
    oracle="""
    SELECT p_partkey, p_name, p_brand
    FROM part
    WHERE contains(lower(p_name), 'red')
    ORDER BY p_partkey
    """,
    tags=("P7",),
)
def ci_substring_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive substring search over a name column."""
    return (
        table(spark, sf_dir, "part")
        .filter(F.lower(F.col("p_name")).contains("red"))
        .select("p_partkey", "p_name", "p_brand")
    )


@register(
    "time_range_events",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
      AND ts <  TIMESTAMP '2024-01-12 00:00:00'
      AND event_type = 'purchase'
    ORDER BY event_id
    """,
    tags=("P9",),
)
def time_range_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Half-open time-range predicate on an event stream table."""
    return (
        table(spark, sf_dir, "events")
        .filter(
            (F.col("ts") >= F.lit("2024-01-10 00:00:00").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-12 00:00:00").cast("timestamp"))
            & (F.col("event_type") == "purchase")
        )
        .select("event_id", "ts", "user_id", "event_type", "value")
    )


@register(
    "validation_clamp",
    oracle="""
    SELECT event_id,
           least(greatest(value, 10.0), 400.0) AS clamped_value,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k
    FROM events
    ORDER BY event_id
    LIMIT 200
    """,
    tags=("P10", "P11", "scalar-json"),
)
def validation_clamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe clamping + JSON field extraction (row sanitation)."""
    return (
        table(spark, sf_dir, "events")
        .select(
            "event_id",
            F.least(F.greatest(F.col("value"), F.lit(10.0)), F.lit(400.0)).alias("clamped_value"),
            F.get_json_object("props", "$.k").cast("long").alias("prop_k"),
        )
        .orderBy("event_id")
        .limit(200)
    )


@register(
    "pagination_offset",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_orderkey
    LIMIT 25 OFFSET 50
    """,
    tags=("O4",),
)
def pagination_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offset/limit pagination over a total order."""
    return (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
        .offset(50)
        .limit(25)
    )


@register(
    "scalar_subquery_filter",
    oracle="""
    SELECT p_partkey, p_name, p_retailprice
    FROM part
    WHERE p_retailprice > 1.03 * (SELECT CAST(SUM(CAST(p_retailprice AS DECIMAL(14,2))) AS DOUBLE)
                                        / count(*) FROM part)
    ORDER BY p_partkey
    """,
    tags=("scalar-subquery", "P3"),
)
def scalar_subquery_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter against a scalar aggregate of the same table (parts priced
    >1.03× the mean (prices are tightly banded)). Spark plans the scalar subquery as a broadcast of
    one value — two passes over the scan, no driver round-trip."""
    from kamiyo_hive_spark.functions.money import money_sum_col

    p = table(spark, sf_dir, "part")
    avg_price = p.select((money_sum_col("p_retailprice") / F.count("*")).alias("a"))
    return (
        p.join(F.broadcast(avg_price))
        .filter(F.col("p_retailprice") > 1.03 * F.col("a"))
        .select("p_partkey", "p_name", "p_retailprice")
    )
