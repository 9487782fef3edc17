"""As-of join — the time-series operator Spark lacks natively.

Semantics: for each left row, the single most recent right row with
`right.ts <= left.ts` within the same key (the classic trades↔quotes
shape; here: each purchase matched to the user's most recent prior
view). The reference's implicit form is votes-valid-at-slot
(`programs/kamiyo-fast-voting/src/lib.rs:103`).

Spark-first implementation (no UDF, no merge_asof): union both sides
tagged by origin, sort within user by time, and carry the last seen
right-row forward with `last(..., ignorenulls=True)` over an
unbounded-preceding window — one shuffle on the key, linear work.
The oracle is DuckDB's native ASOF JOIN, which independently validates
the semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kamiyo_hive_spark.catalog import table
from kamiyo_hive_spark.plans.registry import register


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    right_payload: list[str],
) -> DataFrame:
    """left ⟕asof right on `key`, matching the latest right row with
    right_ts <= left_ts. Returns left columns + right payload columns
    (null when no prior right row exists)."""
    left_cols = [f.name for f in left.schema.fields if f.name != key]
    l_tag = left.select(
        F.col(key),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_is_left"),
        *[F.col(c) for c in left_cols],
        *[
            F.lit(None).cast(right.schema[c].dataType).alias(f"_r_{c}")
            for c in right_payload
        ],
    )
    r_tag = right.select(
        F.col(key),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_is_left"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left_cols],
        *[F.col(c).alias(f"_r_{c}") for c in right_payload],
    )
    unioned = l_tag.unionByName(r_tag)
    # right rows sort before left rows at the same timestamp so a
    # same-instant quote is visible to the trade (<= semantics)
    w = (
        Window.partitionBy(key)
        .orderBy("_ts", "_is_left")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        "*",
        *[
            F.last(f"_r_{c}", ignorenulls=True).over(w).alias(f"asof_{c}")
            for c in right_payload
        ],
    )
    return carried.filter(F.col("_is_left") == 1).drop(
        "_ts", "_is_left", *[f"_r_{c}" for c in right_payload]
    )


@register(
    "asof_view_to_purchase",
    oracle="""
    WITH purchases AS (
        SELECT user_id, event_id, ts, value FROM events WHERE event_type = 'purchase'
    ),
    views AS (
        SELECT user_id, event_id AS view_event_id, ts AS view_ts
        FROM events WHERE event_type = 'view'
    )
    SELECT p.user_id, p.event_id, p.ts, p.value,
           v.view_event_id AS asof_view_event_id,
           v.view_ts AS asof_view_ts
    FROM purchases p
    ASOF LEFT JOIN views v
      ON p.user_id = v.user_id AND v.view_ts <= p.ts
    ORDER BY p.user_id, p.ts, p.event_id
    """,
    tags=("asof-join", "J8", "time-series"),
)
def asof_view_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each purchase matched to the user's most recent prior (or
    same-instant) view. Checked against DuckDB's NATIVE ASOF JOIN — an
    independent implementation of the same semantics."""
    e = table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", "value"
    )
    views = e.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("view_event_id"),
        F.col("ts").alias("view_ts"),
    )
    out = asof_join(
        purchases, views, key="user_id", left_ts="ts", right_ts="view_ts",
        right_payload=["view_event_id", "view_ts"],
    )
    return out.select(
        "user_id", "event_id", "ts", "value", "asof_view_event_id", "asof_view_ts"
    )


SCD2_USER_MOD = 25  # the SCD2 dimension population (as scd2_history_intervals)


@register(
    "scd2_point_in_time_enrich",
    oracle=f"""
    WITH dim_events AS (
        SELECT user_id, event_type, ts, event_id
        FROM events
        WHERE user_id % {SCD2_USER_MOD} = 0
          AND event_type IN ('signup', 'error')
    ),
    changes AS (
        SELECT user_id, event_type AS status, ts,
               lag(event_type) OVER w AS prev_status
        FROM dim_events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    transitions AS (
        SELECT user_id, status, ts AS valid_from
        FROM changes
        WHERE prev_status IS NULL OR status <> prev_status
    ),
    facts AS (
        SELECT user_id, ts, value
        FROM events
        WHERE user_id % {SCD2_USER_MOD} = 0 AND event_type = 'purchase'
    ),
    enriched AS (
        SELECT f.user_id, f.value,
               (SELECT t.status FROM transitions t
                WHERE t.user_id = f.user_id AND t.valid_from <= f.ts
                ORDER BY t.valid_from DESC LIMIT 1) AS status_at_purchase
        FROM facts f
    )
    SELECT COALESCE(status_at_purchase, 'none') AS status_at_purchase,
           count(*) AS n_purchases,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS total_value
    FROM enriched
    GROUP BY 1
    ORDER BY status_at_purchase
    """,
    tags=("scd2", "asof-join", "point-in-time", "dimension-enrich"),
)
def scd2_point_in_time_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time fact enrichment against a Type-2 dimension — the
    canonical warehouse join the SCD2 intervals exist FOR: every
    purchase fact picks up the dimension attribute (the user's
    signup/error engagement state) that was valid AT THE FACT'S
    TIMESTAMP, never a later version (no time-travel leakage — the
    classic SCD2 correctness bug this operator's oracle would catch,
    since a 'latest version' join produces different totals).

    Spark-first shape: the dimension's validity intervals never
    materialize — the fact stream as-of joins the CHANGE LOG directly
    (`asof_join`: union both relations, one hash partition by user, one
    ordered window pass carrying the last-known state forward; a
    same-instant state change is visible to the fact, <= semantics).
    One shuffle on the dimension key, no interval join, no range
    predicate explosion. The DuckDB oracle replays the same semantics
    as a correlated latest-version subquery.

    Scale shape: cost = one exchange over facts ∪ change-log on
    user_id; the change log is transition-compressed (runs collapse),
    so the union adds dimension-change-scale rows, not event-scale."""
    e = table(spark, sf_dir, "events").filter(
        F.col("user_id") % SCD2_USER_MOD == 0
    )
    w_ev = Window.partitionBy("user_id").orderBy("ts", "event_id")
    transitions = (
        e.filter(F.col("event_type").isin("signup", "error"))
        .select(
            "user_id",
            F.col("event_type").alias("status"),
            "ts",
            F.lag("event_type").over(w_ev).alias("prev_status"),
        )
        .filter(
            F.col("prev_status").isNull()
            | (F.col("status") != F.col("prev_status"))
        )
        .select("user_id", "status", F.col("ts").alias("valid_from"))
    )
    facts = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    enriched = asof_join(
        facts,
        transitions,
        key="user_id",
        left_ts="ts",
        right_ts="valid_from",
        right_payload=["status"],
    )
    from kamiyo_hive_spark.functions.money import money_sum_col

    return (
        enriched.groupBy(
            F.coalesce(F.col("asof_status"), F.lit("none")).alias(
                "status_at_purchase"
            )
        )
        .agg(
            F.count("*").alias("n_purchases"),
            F.countDistinct("user_id").alias("n_users"),
            money_sum_col("value").alias("total_value"),
        )
        .orderBy("status_at_purchase")
    )
