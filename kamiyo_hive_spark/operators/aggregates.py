"""Aggregation operators (SURVEY §2.4).

Reference semantics:
- A1 conditional counts (`programs/kamiyo-fast-voting/src/lib.rs:115-120`).
- A2 ratio-of-sums + threshold decision (`lib.rs:139-156`, `lib/governance.ts:308-320`).
- A3 weighted sums (`swarm-types.ts:67-68`).
- A4 banded multiplier by age (`lib/governance.ts:282-302`).
- A5 per-epoch signal aggregator (`swarm-types.ts:147-158`).
- A6 group-by sum + grand total (`app/[locale]/hive/runs/[runId]/page.tsx:48-58`).
- A7 categorical histogram + mean (`TrustGraphScene.tsx:146-170`).
- A8 calendar-window sums (`lib/hive-api.ts:327-334`).
- A9 24 h rolling stats (`swarm-types.ts:430-437`).
- A10 guarded rate metric (`keiro-client.ts:193-195`).
- A12 distinct counts (`lib/governance.ts:49,161`).
- A13 composite weighted score (`discovery.ts:122-139`).

All monetary aggregation is decimal-internal (functions.money):
partial-aggregate order never changes the result, so plans stay
hash-identical from local[32] to a 1000-executor cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kamiyo_hive_spark.catalog import table
from kamiyo_hive_spark.functions.money import cents, dec, exact_sum, finish_units, money_sum, money_sum_col, one_minus, one_plus, rev_sum
from kamiyo_hive_spark.plans.registry import register

NOW = "2024-01-31 00:00:00"  # fixed 'now' for event-time windows (events span Jan 2024)


def _ts(lit: str) -> F.Column:
    return F.lit(lit).cast("timestamp")


@register(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))
                    * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))
                    * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
                    * (CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE) / count(*) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) / count(*) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / count(*) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    tags=("A1", "A6", "tpch-q1"),
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: the canonical wide aggregation. One scan, partial
    aggregation map-side, 4-group shuffle — the 100 TB plan is identical."""
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= _ts("1998-09-02 00:00:00")
    )
    # disc_price sums as scale-4 long units (rev_sum). charge stays
    # decimal on purpose: its largest scale-6 group total is 1.1e16 at
    # sf0.1, so as a long it would pass 2^63 near sf80, short of the
    # 100 TB design point.
    disc_price = dec("l_extendedprice") * one_minus("l_discount")
    charge = disc_price * one_plus("l_tax")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            money_sum_col("l_quantity").alias("sum_qty"),
            money_sum_col("l_extendedprice").alias("sum_base_price"),
            rev_sum().alias("sum_disc_price"),
            money_sum(charge).alias("sum_charge"),
            (money_sum_col("l_quantity") / F.count("*")).alias("avg_qty"),
            (money_sum_col("l_extendedprice") / F.count("*")).alias("avg_price"),
            # stays decimal ON MEASUREMENT (r11): sum(decimal(4,2))
            # already runs in the compact-long representation; the
            # integer-cents rewrite A/B'd 1.06x (interleaved, 7 reps)
            (F.sum(dec("l_discount", "decimal(4,2)")).cast("double") / F.count("*")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "conditional_counts",
    oracle="""
    SELECT o_orderpriority,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
           CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p,
           count(*) AS n_total
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("A1",),
)
def conditional_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental conditional counters (votes_for / votes_against /
    vote_count) as one-pass conditional aggregation."""
    o = table(spark, sf_dir, "orders")

    def n(status: str) -> F.Column:
        return F.sum(F.when(F.col("o_orderstatus") == status, 1).otherwise(0))

    return (
        o.groupBy("o_orderpriority")
        .agg(
            n("F").alias("n_f"),
            n("O").alias("n_o"),
            n("P").alias("n_p"),
            F.count("*").alias("n_total"),
        )
    )


@register(
    "ratio_threshold_decision",
    oracle="""
    WITH t AS (
        SELECT c.c_nationkey,
               CAST(SUM(CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_for,
               CAST(SUM(CASE WHEN o.o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_against,
               count(*) AS n_votes
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1
    )
    SELECT c_nationkey,
           n_for, n_against, n_votes,
           CAST(CASE WHEN n_for + n_against = 0 THEN 0
                ELSE (100 * n_for) // (n_for + n_against) END AS BIGINT) AS approval_pct,
           (n_votes >= 2 AND
            CASE WHEN n_for + n_against = 0 THEN 0
                 ELSE (100 * n_for) // (n_for + n_against) END >= 50) AS passed
    FROM t
    ORDER BY c_nationkey
    """,
    tags=("A2", "ST8"),
)
def ratio_threshold_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tally semantics of `lib.rs:139-156`: integer approval percentage
    (100*for DIV total, exact integer math), quorum>=2, threshold 50."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n_for = F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
    n_against = F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0))
    t = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey")
        .agg(n_for.alias("n_for"), n_against.alias("n_against"), F.count("*").alias("n_votes"))
    )
    pct = F.when(F.col("n_for") + F.col("n_against") == 0, F.lit(0)).otherwise(
        (100 * F.col("n_for")).cast("long") / (F.col("n_for") + F.col("n_against"))
    ).cast("long")
    t = t.withColumn("approval_pct", pct)
    return (
        t.withColumn("passed", (F.col("n_votes") >= 2) & (F.col("approval_pct") >= 50))
    )


@register(
    "weighted_sum",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(l_quantity AS DECIMAL(14,2)) * CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE)
               AS weighted_total
    FROM lineitem
    GROUP BY 1
    ORDER BY l_returnflag
    """,
    tags=("A3",),
)
def weighted_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stake-weighted vote sum as an exact decimal weighted aggregate."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        # scale-4 integer product (r11, guide §2.3, same shape as
        # rev_units): the decimal(14,2)×(14,2) product accumulated in a
        # non-compact decimal buffer; both factors are exact integers in
        # sub-units, so the long product is the exact scale-4 value.
        .agg(
            exact_sum(cents("l_quantity") * cents("l_extendedprice"), 4)
            .alias("weighted_total")
        )
    )


@register(
    "banded_multiplier_weight",
    oracle="""
    SELECT o_orderstatus,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2)) *
             CAST(CASE WHEN date_diff('day', o_orderdate, TIMESTAMP '2001-12-31 00:00:00') < 365 THEN '1.00'
                       WHEN date_diff('day', o_orderdate, TIMESTAMP '2001-12-31 00:00:00') < 1095 THEN '1.20'
                       WHEN date_diff('day', o_orderdate, TIMESTAMP '2001-12-31 00:00:00') < 1825 THEN '1.50'
                       ELSE '2.00' END AS DECIMAL(4,2))) AS DOUBLE) AS weighted_value
    FROM orders
    GROUP BY 1
    ORDER BY o_orderstatus
    """,
    tags=("A4", "case-banding"),
)
def banded_multiplier_weight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Age-banded multiplier weighting (`governance.ts:282-302`): value ×
    {1.0, 1.2, 1.5, 2.0} by age bands, summed exactly per group."""
    o = table(spark, sf_dir, "orders")
    age_days = F.datediff(_ts("2001-12-31 00:00:00"), F.col("o_orderdate"))
    # Multiplier in scale-2 integer units (100/120/150/200): the
    # weighted value is a scale-4 long product (rev_units discipline).
    mult_c = (
        F.when(age_days < 365, 100)
        .when(age_days < 1095, 120)
        .when(age_days < 1825, 150)
        .otherwise(200)
        .cast("long")
    )
    return (
        o.groupBy("o_orderstatus")
        .agg(exact_sum(cents("o_totalprice") * mult_c, 4).alias("weighted_value"))
    )


@register(
    "epoch_signal_agg",
    oracle="""
    SELECT date_trunc('hour', ts) AS epoch_hour,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
           CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value,
           count(*) AS n_events
    FROM events
    GROUP BY 1
    ORDER BY epoch_hour
    """,
    tags=("A5", "ST1"),
)
def epoch_signal_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-epoch signal aggregator (`swarm-types.ts:147-158`): tumbling
    hour buckets with per-direction counts and magnitude sums. The batch
    twin of the streaming windowed aggregation (ST1)."""
    e = table(spark, sf_dir, "events")

    def n(t: str) -> F.Column:
        return F.sum(F.when(F.col("event_type") == t, 1).otherwise(0))

    return (
        e.groupBy(F.date_trunc("hour", "ts").alias("epoch_hour"))
        .agg(
            n("click").alias("n_click"),
            n("purchase").alias("n_purchase"),
            n("error").alias("n_error"),
            money_sum_col("value").alias("total_value"),
            F.count("*").alias("n_events"),
        )
    )


@register(
    "spend_rollup",
    oracle="""
    SELECT n_name AS nation,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total_spend,
           count(*) AS n_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY ROLLUP(n_name)
    ORDER BY nation NULLS FIRST
    """,
    tags=("A6", "rollup"),
)
def spend_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group spend + grand total in one pass (rollup): the
    spentByAgent/totalSpent pattern without a second scan."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .rollup(F.col("n_name").alias("nation"))
        .agg(money_sum_col("o_totalprice").alias("total_spend"), F.count("*").alias("n_orders"))
    )


@register(
    "histogram_mean",
    oracle="""
    SELECT p_brand,
           count(*) AS n_parts,
           CAST(SUM(CAST(p_retailprice AS DECIMAL(14,2))) AS DOUBLE) / count(*) AS avg_price
    FROM part
    GROUP BY 1
    ORDER BY p_brand
    """,
    tags=("A7",),
)
def histogram_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical histogram + mean (trust-graph tierCounts/avgTrust)."""
    p = table(spark, sf_dir, "part")
    return (
        p.groupBy("p_brand")
        .agg(
            F.count("*").alias("n_parts"),
            (money_sum_col("p_retailprice") / F.count("*")).alias("avg_price"),
        )
    )


@register(
    "calendar_window_sums",
    oracle=f"""
    SELECT
      CAST(SUM(CASE WHEN ts >= TIMESTAMP '{NOW}' - INTERVAL 1 DAY
               THEN CAST(value AS DECIMAL(14,2)) END) AS DOUBLE) AS today_value,
      CAST(SUM(CASE WHEN ts >= TIMESTAMP '{NOW}' - INTERVAL 7 DAY
               THEN CAST(value AS DECIMAL(14,2)) END) AS DOUBLE) AS week_value,
      CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS month_value,
      CAST(SUM(CASE WHEN ts >= TIMESTAMP '{NOW}' - INTERVAL 1 DAY THEN 1 ELSE 0 END) AS BIGINT) AS today_n,
      CAST(SUM(CASE WHEN ts >= TIMESTAMP '{NOW}' - INTERVAL 7 DAY THEN 1 ELSE 0 END) AS BIGINT) AS week_n,
      count(*) AS month_n
    FROM events
    """,
    tags=("A8",),
)
def calendar_window_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Earnings-stats shape (`hive-api.ts:327-334`): today/thisWeek/
    thisMonth sums against an injected `now` — one scan, conditional
    aggregation, no per-window rescans."""
    e = table(spark, sf_dir, "events")
    now = _ts(NOW)

    def in_window(days: int) -> F.Column:
        return F.col("ts") >= now - F.expr(f"INTERVAL {days} DAY")

    return e.agg(
        F.sum(F.when(in_window(1), dec("value"))).cast("double").alias("today_value"),
        F.sum(F.when(in_window(7), dec("value"))).cast("double").alias("week_value"),
        money_sum_col("value").alias("month_value"),
        F.sum(F.when(in_window(1), 1).otherwise(0)).alias("today_n"),
        F.sum(F.when(in_window(7), 1).otherwise(0)).alias("week_n"),
        F.count("*").alias("month_n"),
    )


@register(
    "rolling_24h_stats",
    oracle=f"""
    SELECT event_type,
           count(*) AS n_24h,
           CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS value_24h
    FROM events
    WHERE ts >= TIMESTAMP '{NOW}' - INTERVAL 1 DAY
    GROUP BY 1
    ORDER BY event_type
    """,
    tags=("A9",),
)
def rolling_24h_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """24 h rolling burn-stats shape (`swarm-types.ts:430-437`)."""
    e = table(spark, sf_dir, "events")
    return (
        e.filter(F.col("ts") >= _ts(NOW) - F.expr("INTERVAL 1 DAY"))
        .groupBy("event_type")
        .agg(F.count("*").alias("n_24h"), money_sum_col("value").alias("value_24h"))
    )


@register(
    "guarded_rate_metric",
    oracle="""
    SELECT c.c_custkey,
           count(o.o_orderkey) AS n_orders,
           CAST(SUM(CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_disputes,
           CASE WHEN count(o.o_orderkey) = 0 THEN 100.0
                ELSE round((1.0 - SUM(CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END)
                                  / CAST(count(o.o_orderkey) AS DOUBLE)) * 100.0, 0) END AS success_rate
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY 1
    ORDER BY c_custkey
    LIMIT 100
    """,
    tags=("A10",),
)
def guarded_rate_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """successRate = round((1 - disputes/tasks)*100), guarded for zero
    tasks (`keiro-client.ts:193-195`)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    n_orders = F.count("o_orderkey")
    n_disputes = F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
    joined = (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey")
        .agg(n_orders.alias("n_orders"), n_disputes.alias("n_disputes"))
    )
    rate = F.when(F.col("n_orders") == 0, F.lit(100.0)).otherwise(
        F.round((1.0 - F.col("n_disputes") / F.col("n_orders").cast("double")) * 100.0, 0)
    )
    return (
        joined.withColumn("success_rate", rate)
        .orderBy("c_custkey")
        .limit(100)
    )


@register(
    "distinct_counts",
    oracle="""
    SELECT c.c_nationkey,
           count(DISTINCT o.o_custkey) AS n_active_customers,
           count(*) AS n_orders
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
    ORDER BY c_nationkey
    """,
    tags=("A12",),
)
def distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct voter counts per group. (The approximate variant —
    approx_count_distinct, for 100 TB dashboards — is benchmarked but not
    oracle-checked since HLL sketches are engine-specific.)"""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey")
        .agg(
            F.countDistinct("o_custkey").alias("n_active_customers"),
            F.count("*").alias("n_orders"),
        )
    )


@register(
    "composite_score",
    oracle="""
    SELECT s_suppkey, s_name,
           0.4 * (s_acctbal / 10000.0)
         + 0.3 * (CAST(s_nationkey AS DOUBLE) / 25.0)
         + 0.3 * (CAST(s_suppkey % 100 AS DOUBLE) / 100.0) AS score
    FROM supplier
    ORDER BY s_suppkey
    """,
    tags=("A13", "U8"),
)
def composite_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite weighted feature score (`discovery.ts:122-139`) as a
    pure vectorized column expression — no UDF."""
    s = table(spark, sf_dir, "supplier")
    score = (
        0.4 * (F.col("s_acctbal") / 10000.0)
        + 0.3 * (F.col("s_nationkey").cast("double") / 25.0)
        + 0.3 * ((F.col("s_suppkey") % 100).cast("double") / 100.0)
    )
    return s.select("s_suppkey", "s_name", score.alias("score"))


@register(
    "revenue_forecast_filter",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))
                    * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue_delta,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
    tags=("A6", "tpch-q6"),
)
def revenue_forecast_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: tight multi-predicate scan + single exact
    aggregate — the pure filter-pushdown benchmark."""
    li = table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= _ts("1997-01-01 00:00:00"))
        & (F.col("l_shipdate") < _ts("1998-01-01 00:00:00"))
        & F.col("l_discount").between(0.03, 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        # price*disc as a scale-4 long product (rev_units discipline)
        exact_sum(cents("l_extendedprice") * cents("l_discount"), 4).alias("revenue_delta"),
        F.count("*").alias("n_lines"),
    )


@register(
    "rollup_hierarchy",
    oracle="""
    SELECT date_trunc('day', ts) AS day,
           event_type,
           count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY day, event_type
    """,
    tags=("hypertable-rollup", "A5", "A8"),
)
def rollup_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate hierarchy: the day level is
    REAGGREGATED from the hour level (counts sum, decimal sums sum),
    never from raw rows — at 100 TB each coarser tier reads the much
    smaller finer tier. The oracle aggregates raw directly, so the test
    proves reaggregation is lossless."""
    e = table(spark, sf_dir, "events")
    # Partials carried as integer sub-units (r11, guide §2.3): the
    # hourly tier's sum(decimal(14,2)) accumulated in a non-compact
    # decimal(24,2) buffer and the daily tier re-summed it wider still;
    # long partials compose just as associatively and exactly, at
    # codegen speed on both tiers.
    hourly = (
        e.groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(cents("value")).alias("total_value_c"),
        )
    )
    daily = (
        hourly.groupBy(F.date_trunc("day", "hour").alias("day"), "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            exact_sum("total_value_c", 2).alias("total_value"),
        )
    )
    return daily


@register(
    "intersect_retained_users",
    oracle="""
    SELECT user_id FROM (
        SELECT DISTINCT user_id FROM events
        WHERE event_type = 'purchase' AND ts < TIMESTAMP '2024-01-15 00:00:00'
        INTERSECT
        SELECT DISTINCT user_id FROM events
        WHERE event_type = 'purchase' AND ts >= TIMESTAMP '2024-01-15 00:00:00'
    )
    ORDER BY user_id
    """,
    tags=("E1", "intersect", "retention"),
)
def intersect_retained_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention intersect: users purchasing in BOTH halves of the
    month (set intersection — the dual of the snapshot diff)."""
    e = table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    cut = _ts("2024-01-15 00:00:00")
    first_half = e.filter(F.col("ts") < cut).select("user_id").distinct()
    second_half = e.filter(F.col("ts") >= cut).select("user_id").distinct()
    return first_half.intersect(second_half)


@register(
    "cube_status_priority",
    oracle="""
    SELECT o_orderstatus AS status,
           o_orderpriority AS priority,
           count(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY CUBE(o_orderstatus, o_orderpriority)
    ORDER BY status NULLS FIRST, priority NULLS FIRST
    """,
    tags=("A6", "cube", "grouping-sets"),
)
def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority): all 2^2 grouping sets — per-cell,
    both marginals, and the grand total — in one pass. The dashboard
    shape that would otherwise be 4 scans; Spark expands grouping sets
    before the partial aggregate, so the fact table is still read
    once."""
    o = table(spark, sf_dir, "orders")
    return (
        o.cube(
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(
            F.count("*").alias("n_orders"),
            money_sum_col("o_totalprice").alias("total_price"),
        )
    )


@register(
    "price_decile_stats",
    oracle="""
    WITH ranked AS (
        SELECT o_totalprice,
               ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
        FROM orders
    )
    SELECT decile,
           count(*) AS n_orders,
           CAST(min(o_totalprice) AS DOUBLE) AS min_price,
           CAST(max(o_totalprice) AS DOUBLE) AS max_price,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total_price
    FROM ranked
    GROUP BY 1
    ORDER BY decile
    """,
    tags=("W-ntile", "distribution"),
)
def price_decile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile banding + per-decile stats — the distribution-summary
    shape — with EXACT ntile semantics but no single-partition window
    (VERDICT r1 finding 1).

    The global rank comes from `global_sorted_index` (range-partitioned
    two-pass rank: every task ranks its own id range, offsets are a
    metadata-sized collect), and the decile is then ntile's closed form
    over (rank, n): the first n%10 buckets take ceil(n/10) rows, the
    rest floor(n/10). Identical output to the oracle's `ntile(10) OVER
    (ORDER BY ...)` at any scale, but the plan is one range shuffle +
    parallel windows instead of funneling the fact table through one
    task."""
    from kamiyo_hive_spark.functions.ranks import global_sorted_index_counted

    o = table(spark, sf_dir, "orders").select("o_totalprice", "o_orderkey")
    # One pass: the rank's shard-count collect supplies n — no separate
    # count() scan over the fact table.
    indexed, n = global_sorted_index_counted(o, "o_totalprice", "o_orderkey")
    big = n // 10 + 1
    n_big = n % 10
    small = max(n // 10, 1)
    idx = F.col("idx")
    decile = (
        F.when(idx < n_big * big, F.floor(idx / big))
        .otherwise(n_big + F.floor((idx - n_big * big) / small))
        .cast("int")
        + 1
    )
    ranked = indexed.select("o_totalprice", decile.alias("decile"))
    return (
        ranked.groupBy("decile")
        .agg(
            F.count("*").alias("n_orders"),
            F.min("o_totalprice").cast("double").alias("min_price"),
            F.max("o_totalprice").cast("double").alias("max_price"),
            money_sum_col("o_totalprice").alias("total_price"),
        )
    )


@register(
    "incremental_rollup_merge",
    oracle="""
    SELECT date_trunc('month', o_orderdate) AS month,
           o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
               AS total_price
    FROM orders
    GROUP BY 1, 2
    ORDER BY month, o_orderstatus
    """,
    tags=("incremental-agg", "materialized-view", "A5", "A8"),
)
def incremental_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view maintenance shape: a monthly rollup maintained
    incrementally — the pre-aggregated history (orders before 2000)
    merged with a freshly aggregated increment (2000 onward) by
    RE-AGGREGATING THE PARTIALS, never rescanning history. The oracle
    recomputes from scratch; matching proves count/sum partials compose
    associatively, which is what makes the 100 TB story work: a daily
    load aggregates one day and merges O(groups) rows, and the exact
    decimal internals make the merged result bit-identical to a full
    recompute on any partitioning."""
    o = table(spark, sf_dir, "orders")
    cutoff = F.lit("2000-01-01 00:00:00").cast("timestamp")
    month = F.date_trunc("month", "o_orderdate").alias("month")

    # Partials as integer sub-units (r11, guide §2.3): long partials
    # merge exactly on any partitioning, same as the decimal ones did,
    # without the non-compact decimal(24,2) accumulator on either pass.
    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy(month, "o_orderstatus").agg(
            F.count("*").alias("n_orders"),
            F.sum(cents("o_totalprice")).alias("price_partial_c"),
        )

    history = rollup(o.filter(F.col("o_orderdate") < cutoff))
    increment = rollup(o.filter(F.col("o_orderdate") >= cutoff))
    return (
        history.unionByName(increment)
        .groupBy("month", "o_orderstatus")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            exact_sum("price_partial_c", 2).alias("total_price"),
        )
    )


@register(
    "salted_hot_key_rollup",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1
    ORDER BY event_type
    """,
    tags=("A6", "skew", "salting"),
)
def salted_hot_key_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key aggregation through the explicit salting path
    (`functions/skew.salted_agg`): phase 1 aggregates on
    (event_type, salt) so a key owning a large fraction of the corpus
    spreads over 16 reducers, phase 2 merges the partials per key.

    The oracle is the plain GROUP BY — salting must be semantically
    invisible, which also only holds because the summed measure is
    exact decimal (partial-merge order can't perturb it). AQE skew-join
    handles most runtime skew; this is the declarative fallback for
    the pathological standing-skew case (a boilerplate fingerprint
    owning 10% of a 100 TB corpus)."""
    from kamiyo_hive_spark.functions.skew import salted_agg

    e = table(spark, sf_dir, "events")
    counts = salted_agg(
        e.select("event_type"),
        "event_type",
        partial=lambda: F.count("*"),
        merge=F.sum,
        out="n_events",
    ).select("event_type", F.col("n_events").cast("long").alias("n_events"))
    values = salted_agg(
        e.select("event_type", "value"),
        "event_type",
        # integer sub-unit partials (r11): per-(key,salt) long sums
        # merge exactly per key, same invisibility argument as the
        # decimal partials, minus the decimal accumulator on both
        # phases (guide §2.3)
        partial=lambda: F.sum(cents("value")),
        merge=F.sum,
        out="total_value",
    ).select(
        "event_type",
        finish_units("total_value", 2).alias("total_value"),
    )
    return counts.join(values, "event_type")
