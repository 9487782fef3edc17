"""The 2^53 exactness bound on the integer sub-unit money path
(VERDICT r10 finding 2 / next-round item 3).

The fast path sums exact sub-unit longs and divides once; that division
round-trips bit-identically to the decimal path only while the group
total stays below 2^53. These tests pin:

- the boundary itself (below: bit-identical to the decimal path;
  above: the documented 1-ulp drift regime exists, which is WHY the
  guard exists),
- the debug guard (SPARK_GRAFT_MONEY_GUARD=1): a group total at or
  beyond 2^53 raises instead of drifting silently,
- the default path is untouched (guard off ⇒ same expression as
  before — no plan change for bench or production),
- NULL totals pass the guard, and a long sum past 2^63 raises
  (session.py pins ANSI mode) instead of wrapping.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kamiyo_hive_spark.functions.money import (
    EXACT_DOUBLE_BOUND,
    dec,
    money_sum,
    money_sum_col,
)


# Each row stays inside DECIMAL(14,2) (ANSI would reject larger
# literals); the BOUND is crossed by the group SUM, which is exactly
# the regime the guard is about. 900 × 99999999999.99 ≈ 0.9998 × 2^53
# sub-units (under); 902 rows cross 2^53.
_BIG = 99999999999.99
_N_UNDER = 900
_N_OVER = 902
assert _N_UNDER * _BIG * 100 < EXACT_DOUBLE_BOUND < _N_OVER * _BIG * 100


def _sum_both_paths(spark, values: list[float]):
    df = spark.createDataFrame([(v,) for v in values], "x double")
    row = df.agg(
        money_sum(dec("x"), scale=2).alias("fast"),
        money_sum(dec("x"), scale=None).alias("decimal"),
    ).collect()[0]
    return row["fast"], row["decimal"]


def test_below_bound_bit_identical(spark):
    # A group total just under 2^53 sub-units: the long sum is exact and
    # the single division matches the decimal→double cast bit for bit.
    fast, exact = _sum_both_paths(spark, [_BIG] * _N_UNDER)
    assert fast == exact


def test_money_sum_col_matches_decimal_on_plain_column(spark):
    vals = [1.01, 2.50, 99999999.99, 0.07]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    row = df.agg(
        money_sum_col("x").alias("fast"),
        money_sum(dec("x"), scale=None).alias("exact"),
    ).collect()[0]
    assert row["fast"] == row["exact"]


def test_guard_off_is_silent_past_bound(spark, monkeypatch):
    # Documents the silent regime the guard exists for: past 2^53 the
    # fast path still RETURNS (no error) — the value may drift by 1 ulp
    # vs the decimal path, which is exactly why production unbounded
    # accumulations use scale=None and canaries set the guard env.
    monkeypatch.delenv("SPARK_GRAFT_MONEY_GUARD", raising=False)
    fast, exact = _sum_both_paths(spark, [_BIG] * _N_OVER)
    assert fast == pytest.approx(exact, rel=1e-12)


def test_guard_raises_at_bound(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_MONEY_GUARD", "1")
    df = spark.createDataFrame([(_BIG,)] * _N_OVER, "x double")
    with pytest.raises(Exception, match="2\\^53"):
        df.agg(money_sum(dec("x"), scale=2).alias("s")).collect()


def test_guard_passes_below_bound(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_MONEY_GUARD", "1")
    fast, exact = _sum_both_paths(spark, [1.25, 2.75])
    assert fast == exact == 4.0


def test_guard_passes_null_totals(spark, monkeypatch):
    # An all-NULL money column and an empty frame both sum to NULL; the
    # guard must return that NULL, not trip assert_true on it.
    monkeypatch.setenv("SPARK_GRAFT_MONEY_GUARD", "1")
    df = spark.createDataFrame([(None,), (None,)], "x double")
    for frame in (df, df.limit(0)):
        row = frame.agg(
            money_sum_col("x").alias("col"),
            money_sum(dec("x"), scale=2).alias("expr"),
        ).collect()[0]
        assert row["col"] is None and row["expr"] is None


def test_guard_off_plan_unchanged(spark, monkeypatch):
    # The bench/production contract: with the guard off the emitted
    # expression is exactly the pre-guard one (no CASE WHEN wrapper).
    monkeypatch.delenv("SPARK_GRAFT_MONEY_GUARD", raising=False)
    df = spark.createDataFrame([(1.0,)], "x double")
    plan = df.agg(money_sum_col("x").alias("s"))._jdf.queryExecution().toString()
    assert "assert_true" not in plan
    monkeypatch.setenv("SPARK_GRAFT_MONEY_GUARD", "1")
    plan_on = df.agg(money_sum_col("x").alias("s"))._jdf.queryExecution().toString()
    assert "assert_true" in plan_on


def test_long_sum_past_2_63_raises(spark):
    # session.py pins spark.sql.ansi.enabled: an integer sub-unit total
    # that passes 2^63 must fail loudly rather than wrap negative.
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    df = spark.createDataFrame([(2**62,), (2**62,)], "units long")
    assert df.limit(1).agg(F.sum("units")).collect()[0][0] == 2**62
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
        df.agg(F.sum("units")).collect()
