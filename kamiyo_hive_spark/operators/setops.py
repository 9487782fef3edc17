"""Set operations & array predicates (SURVEY §2.7, E1-E3; P4-P5).

Reference semantics:
- E1 snapshot diff — ids present now but not in the previous snapshot
  (`useHiveVizState.ts:52-75`).
- E2 array membership/overlap predicates — capabilities `some`/`every`
  (`keiro-client.ts:137-140`, `discovery.ts:75-84`).
- E3 deterministic dedup by key (cache keys / nullifier sets).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kamiyo_hive_spark.catalog import table
from kamiyo_hive_spark.functions.money import dec, money_sum_col
from kamiyo_hive_spark.plans.registry import register


@register(
    "snapshot_diff_new_ids",
    oracle="""
    SELECT DISTINCT user_id FROM events
    WHERE event_type = 'purchase'
      AND ts >= TIMESTAMP '2024-01-02 00:00:00' AND ts < TIMESTAMP '2024-01-03 00:00:00'
      AND user_id NOT IN (
        SELECT user_id FROM events
        WHERE event_type = 'purchase' AND ts < TIMESTAMP '2024-01-02 00:00:00'
      )
    ORDER BY user_id
    """,
    tags=("E1", "W7"),
)
def snapshot_diff_new_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-row detection across snapshots: ids in the current window
    absent from the previous one (EXCEPT via distinct + left-anti)."""
    e = table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    cursor = F.lit("2024-01-02 00:00:00").cast("timestamp")
    end = F.lit("2024-01-03 00:00:00").cast("timestamp")
    current = e.filter((F.col("ts") >= cursor) & (F.col("ts") < end)).select("user_id").distinct()
    previous = e.filter(F.col("ts") < cursor).select("user_id").distinct()
    return current.join(previous, "user_id", "left_anti")


@register(
    "array_overlap_predicate",
    oracle="""
    SELECT p_partkey, p_name,
           string_split(p_name, ' ') AS name_tokens
    FROM part
    WHERE len(list_intersect(string_split(p_name, ' '), ['green', 'red'])) > 0
    ORDER BY p_partkey
    """,
    tags=("P4", "E2"),
)
def array_overlap_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANY-of-array predicate (`some` capability match): keep rows whose
    token array overlaps the query array."""
    p = table(spark, sf_dir, "part")
    tokens = F.split(F.col("p_name"), " ")
    return (
        p.withColumn("name_tokens", tokens)
        .filter(F.arrays_overlap("name_tokens", F.array(F.lit("green"), F.lit("red"))))
        .select("p_partkey", "p_name", "name_tokens")
    )


@register(
    "array_all_predicate",
    oracle="""
    SELECT p_partkey, p_name
    FROM part
    WHERE len(list_intersect(string_split(p_name, ' '), ['small', 'bolt'])) = 2
    ORDER BY p_partkey
    """,
    tags=("P5", "E2"),
)
def array_all_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL-of-array predicate (`requireAll`): every required capability
    present — intersection size equals the requirement size."""
    p = table(spark, sf_dir, "part")
    required = F.array(F.lit("small"), F.lit("bolt"))
    tokens = F.split(F.col("p_name"), " ")
    return (
        p.filter(F.size(F.array_intersect(tokens, required)) == F.size(required))
        .select("p_partkey", "p_name")
    )


@register(
    "dedup_by_key",
    oracle="""
    SELECT user_id, event_type,
           min(event_id) AS first_event_id,
           min(ts) AS first_ts,
           count(*) AS n_dupes
    FROM events
    GROUP BY 1, 2
    ORDER BY user_id, event_type
    """,
    tags=("E3", "J5"),
)
def dedup_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic dedup: keep the first row per key. Expressed as a
    min-aggregate rather than dropDuplicates (whose survivor is
    partition-order-dependent — unacceptable for reproducible runs)."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", "event_type")
        .agg(
            F.min("event_id").alias("first_event_id"),
            F.min("ts").alias("first_ts"),
            F.count("*").alias("n_dupes"),
        )
    )


@register(
    "unpivot_metrics",
    oracle="""
    SELECT o_orderstatus, metric, CAST(val AS DOUBLE) AS val
    FROM (
        SELECT o_orderstatus,
               CAST(count(*) AS DOUBLE) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total_price,
               CAST(MAX(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS max_price
        FROM orders
        GROUP BY 1
    )
    UNPIVOT (val FOR metric IN (n_orders, total_price, max_price))
    ORDER BY o_orderstatus, metric
    """,
    tags=("unpivot", "melt", "A8-pivot"),
)
def unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide -> long melt): one aggregated row per status
    exploded into (metric, value) rows via the native unpivot operator
    — the inverse of `pivot_token_status`. Generator expansion, no
    shuffle beyond the aggregation."""
    o = table(spark, sf_dir, "orders")
    wide = o.groupBy("o_orderstatus").agg(
        F.count("*").cast("double").alias("n_orders"),
        money_sum_col("o_totalprice").alias("total_price"),
        F.max(dec("o_totalprice")).cast("double").alias("max_price"),
    )
    return wide.unpivot(
        ["o_orderstatus"],
        ["n_orders", "total_price", "max_price"],
        "metric",
        "val",
    )
