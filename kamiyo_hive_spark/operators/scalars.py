"""Scalar-function families + derived-analytics views (SURVEY §2.8, §4.4).

Reference semantics:
- String normalization to kebab-case (`keiro-client.ts:36-38`).
- Epoch bucketing into day/hour/minute (`governance/page.tsx:10-22`).
- Tier banding CASE chains (`lib/reputation-tiers.ts:8-16`,
  `shadow-id-gate.ts:42-48`): data-driven tier tables expanded into
  `when` chains by `tier_band()` — library code, not a Catalyst rule.
- Budget utilization ratio (A11, `app/[locale]/hive/[teamId]/page.tsx:466`).
- Enrichment join (J4, `useHiveVizState.ts:37-49`).
- Pivot (A8 totals split by token × status).
- Sessionization — the gaps-and-islands pattern every event pipeline
  needs (lag + cumulative gap count), exact and oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kamiyo_hive_spark.catalog import table
from kamiyo_hive_spark.functions.money import dec, money_sum_col
from kamiyo_hive_spark.plans.registry import register


def tier_band(col: Column, bands: list[tuple[float, str]], default: str) -> Column:
    """Expand a tier table [(upper_exclusive_threshold, label), ...]
    (ascending) into a CASE chain — mirrors the reference's tier tables
    as data, applied as one vectorized expression."""
    expr: Column | None = None
    for threshold, label in bands:
        cond = col < threshold
        expr = F.when(cond, label) if expr is None else expr.when(cond, label)
    assert expr is not None
    return expr.otherwise(default)


@register(
    "string_normalize_kebab",
    oracle="""
    SELECT p_partkey,
           regexp_replace(lower(trim(p_name)), '[\\s_]+', '-', 'g') AS slug,
           upper(substring(p_brand, 1, 5)) AS brand_prefix,
           length(p_name) AS name_len
    FROM part
    WHERE p_partkey < 200
    ORDER BY p_partkey
    """,
    tags=("scalar-string",),
)
def string_normalize_kebab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kebab-case normalization + substring/case scalar family."""
    p = table(spark, sf_dir, "part").filter(F.col("p_partkey") < 200)
    return p.select(
        "p_partkey",
        F.regexp_replace(F.lower(F.trim(F.col("p_name"))), r"[\s_]+", "-").alias("slug"),
        F.upper(F.substring("p_brand", 1, 5)).alias("brand_prefix"),
        F.length("p_name").alias("name_len"),
    )


@register(
    "epoch_bucketing",
    oracle="""
    SELECT date_trunc('day', ts) AS day,
           extract(hour FROM ts) AS hour_of_day,
           count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
    FROM events
    WHERE event_type = 'click'
    GROUP BY 1, 2
    ORDER BY day, hour_of_day
    """,
    tags=("scalar-date", "A5"),
)
def epoch_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day/hour time bucketing (epoch d/h/m formatting semantics)."""
    e = table(spark, sf_dir, "events").filter(F.col("event_type") == "click")
    return (
        e.groupBy(
            F.date_trunc("day", "ts").alias("day"),
            F.hour("ts").cast("long").alias("hour_of_day"),
        )
        .agg(F.count("*").alias("n_events"), money_sum_col("value").alias("total_value"))
    )


@register(
    "tier_banding",
    oracle="""
    SELECT CASE WHEN c_acctbal < 0 THEN 'delinquent'
                WHEN c_acctbal < 2000 THEN 'bronze'
                WHEN c_acctbal < 5000 THEN 'silver'
                WHEN c_acctbal < 8000 THEN 'gold'
                ELSE 'platinum' END AS tier,
           count(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(14,2))) AS DOUBLE) AS total_balance
    FROM customer
    GROUP BY 1
    ORDER BY tier
    """,
    tags=("tier-banding", "A4"),
)
def tier_banding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reputation-tier banding (bronze..platinum) via the tier-table
    expander — counts and balances per tier."""
    c = table(spark, sf_dir, "customer")
    tier = tier_band(
        F.col("c_acctbal"),
        [(0.0, "delinquent"), (2000.0, "bronze"), (5000.0, "silver"), (8000.0, "gold")],
        "platinum",
    )
    return (
        c.groupBy(tier.alias("tier"))
        .agg(
            F.count("*").alias("n_customers"),
            money_sum_col("c_acctbal").alias("total_balance"),
        )
    )


@register(
    "budget_utilization",
    oracle="""
    WITH spend AS (
        SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS spent
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY 1
    )
    SELECT c.c_custkey,
           coalesce(s.spent, 0.0) AS spent,
           least(greatest(coalesce(s.spent, 0.0)
                 / (CAST(c_acctbal AS DOUBLE) * 100.0 + 1000000.0), 0.0), 1.0)
               AS utilization
    FROM customer c LEFT JOIN spend s ON s.o_custkey = c.c_custkey
    WHERE c.c_custkey < 200
    ORDER BY c_custkey
    """,
    tags=("A11",),
)
def budget_utilization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dailySpend/dailyLimit utilization pct, clamped to [0,1] — the
    budget-bar semantics with a synthetic per-customer limit."""
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    c = table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 200)
    spend = o.groupBy("o_custkey").agg(money_sum_col("o_totalprice").alias("spent"))
    limit = F.col("c_acctbal").cast("double") * 100.0 + 1000000.0
    util = F.least(F.greatest(F.coalesce(F.col("spent"), F.lit(0.0)) / limit, F.lit(0.0)), F.lit(1.0))
    return (
        c.join(spend, c.c_custkey == spend.o_custkey, "left")
        .select(
            "c_custkey",
            F.coalesce(F.col("spent"), F.lit(0.0)).alias("spent"),
            util.alias("utilization"),
        )
    )


@register(
    "enrichment_join",
    oracle="""
    SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_mktsegment, n.n_name AS nation
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '2001-06-01 00:00:00'
    ORDER BY o_orderkey
    """,
    tags=("J4",),
)
def enrichment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Enrichment join on a business key: recent facts decorated with
    dimension attributes (draws ↔ members semantics)."""
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2001-06-01 00:00:00").cast("timestamp")
    )
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select("o_orderkey", "o_totalprice", "c_name", "c_mktsegment", F.col("n_name").alias("nation"))
    )


@register(
    "pivot_token_status",
    oracle="""
    SELECT c.c_nationkey,
           CAST(SUM(CASE WHEN o.o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(14,2)) END) AS DOUBLE) AS spend_f,
           CAST(SUM(CASE WHEN o.o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(14,2)) END) AS DOUBLE) AS spend_o,
           CAST(SUM(CASE WHEN o.o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(14,2)) END) AS DOUBLE) AS spend_p
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
    ORDER BY c_nationkey
    """,
    tags=("A8-pivot",),
)
def pivot_token_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Totals pivoted by status (token×status semantics) — expressed via
    Spark's pivot with an explicit value list (no extra pass to discover
    pivot values; the 100 TB-safe form)."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    pivoted = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(money_sum_col("o_totalprice"))
    )
    return (
        pivoted.select(
            "c_nationkey",
            F.col("F").alias("spend_f"),
            F.col("O").alias("spend_o"),
            F.col("P").alias("spend_p"),
        )
    )


@register(
    "sessionization",
    oracle="""
    WITH gaps AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL THEN 1
                    WHEN ts - lag(ts) OVER w > INTERVAL 60 MINUTE THEN 1
                    ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT user_id, ts, event_id,
               CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        FROM gaps
    )
    SELECT user_id, session_id,
           count(*) AS n_events,
           min(ts) AS session_start,
           max(ts) AS session_end
    FROM sessions
    WHERE user_id < 20
    GROUP BY 1, 2
    ORDER BY user_id, session_id
    """,
    tags=("sessionization", "ST1"),
)
def sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization: a new session starts after a
    60-minute silence. lag + running conditional sum — one shuffle on
    user_id, sort within partitions, no state explosion."""
    e = table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    new_session = F.when(gap.isNull() | (gap > 3_600_000_000), 1).otherwise(0)
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sessions = e.select(
        "user_id", "ts", "event_id", F.sum(new_session).over(run).alias("session_id")
    )
    return (
        sessions.groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )


@register(
    "exact_median_per_group",
    oracle="""
    WITH ranked AS (
        SELECT c_nationkey, c_acctbal,
               row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey) AS rk,
               count(*) OVER (PARTITION BY c_nationkey) AS n
        FROM customer
    )
    SELECT c_nationkey,
           CAST(SUM(CASE WHEN rk IN ((n + 1) // 2, (n + 2) // 2)
                    THEN CAST(c_acctbal AS DECIMAL(14,2)) END) AS DOUBLE)
             / SUM(CASE WHEN rk IN ((n + 1) // 2, (n + 2) // 2) THEN 1 ELSE 0 END)
               AS median_acctbal
    FROM ranked
    GROUP BY 1
    ORDER BY c_nationkey
    """,
    tags=("percentile", "W-frame"),
)
def exact_median_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group median via rank arithmetic (engine-independent,
    unlike interpolating percentile built-ins): average of the one or
    two middle-ranked values, computed in exact decimal."""
    c = table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    wc = Window.partitionBy("c_nationkey")
    ranked = c.select(
        "c_nationkey",
        "c_acctbal",
        F.row_number().over(w).alias("rk"),
        F.count("*").over(wc).alias("n"),
    )
    lo = (F.col("n") + 1).cast("long") / 2
    hi = (F.col("n") + 2).cast("long") / 2
    mid = (F.col("rk") == F.floor(lo)) | (F.col("rk") == F.floor(hi))
    return (
        ranked.groupBy("c_nationkey")
        .agg(
            (
                F.sum(F.when(mid, dec("c_acctbal"))).cast("double")
                / F.sum(F.when(mid, 1).otherwise(0))
            ).alias("median_acctbal")
        )
    )


@register(
    "slot_time_conversion",
    oracle="""
    SELECT event_id,
           CAST(epoch_ms(ts) - epoch_ms(TIMESTAMP '2024-01-01 00:00:00') AS BIGINT) // 400 AS slot,
           TIMESTAMP '2024-01-01 00:00:00'
             + to_milliseconds((CAST(epoch_ms(ts) - epoch_ms(TIMESTAMP '2024-01-01 00:00:00') AS BIGINT) // 400) * 400)
             AS slot_start
    FROM events
    WHERE event_id < 500
    ORDER BY event_id
    """,
    tags=("scalar-date", "slot-conversion"),
)
def slot_time_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slot ↔ wall-time conversion at 400 ms/slot (the chain-clock
    convention, kamiyo-hive `programs/kamiyo-fast-voting/src/lib.rs:15-16`):
    event time → slot number since genesis → slot start timestamp."""
    from kamiyo_hive_spark.catalog import table as t

    e = t(spark, sf_dir, "events").filter(F.col("event_id") < 500)
    genesis_ms = F.unix_millis(F.lit("2024-01-01 00:00:00").cast("timestamp"))
    slot = F.floor((F.unix_millis(F.col("ts")) - genesis_ms) / 400).cast("long")
    slot_start = F.timestamp_millis(genesis_ms + slot * 400)
    return e.select("event_id", slot.alias("slot"), slot_start.alias("slot_start"))
