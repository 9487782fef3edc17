"""Exactness of the integer sub-unit money path (`functions/money.py`).

Money sums run as long totals of integer sub-units; `finish_units` is the
one place such a total becomes a double. These tests pin its contract on
synthetic frames, against Python's exact `Decimal`:

- below and past 2^53 units the result is the double nearest the exact
  decimal value (a plain `long / 10^s` double division drifts by an ulp
  past 2^53),
- empty frames and all-NULL groups finish to NULL,
- long partials merged and then finished equal the one-tier sum,
- a long total past 2^63 raises (session.py pins ANSI mode) instead of
  wrapping,
- no module outside money.py finishes a long sum by its own division,
- a registered query (`weighted_sum`) serves the exact double past 2^53.
"""

from __future__ import annotations

import ast
import pathlib
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

import kamiyo_hive_spark
from kamiyo_hive_spark.catalog import SCHEMAS
from kamiyo_hive_spark.functions.money import (
    dec,
    exact_sum,
    finish_units,
    money_sum,
    money_sum_col,
)
from kamiyo_hive_spark.operators.aggregates import weighted_sum

# Each row stays inside DECIMAL(14,2) (ANSI would reject larger
# literals); 2^53 is crossed by the group SUM. 900 × 99999999999.99 ≈
# 0.9998 × 2^53 sub-units (under); 903 rows cross it, to a total that
# double division would finish an ulp off.
_BIG = 99999999999.99
_N_UNDER = 900
_N_OVER = 903
assert _N_UNDER * _BIG * 100 < 2**53 < _N_OVER * _BIG * 100


def _exact(total: int, scale: int) -> float:
    return float(Decimal(total) / 10**scale)


def test_below_bound_bit_identical(spark):
    # A group total just under 2^53 sub-units: the long path matches the
    # decimal accumulator's decimal→double cast bit for bit.
    df = spark.createDataFrame([(_BIG,)] * _N_UNDER, "x double")
    row = df.agg(
        money_sum_col("x").alias("fast"), money_sum(dec("x")).alias("decimal")
    ).collect()[0]
    assert row["fast"] == row["decimal"] == _exact(_N_UNDER * 9999999999999, 2)


def test_money_sum_col_matches_decimal_on_plain_column(spark):
    vals = [1.01, 2.50, 99999999.99, 0.07]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    row = df.agg(
        money_sum_col("x").alias("fast"),
        money_sum(dec("x")).alias("exact"),
    ).collect()[0]
    assert row["fast"] == row["exact"]


def test_past_2_53_is_exact(spark):
    # Totals of 2^53+1 and 2^53+3 units: at each scale at least one of
    # them is where `double(total) / 10^s` lands an ulp off the exact
    # value; the finish must give the exact double for all of them.
    totals = [2**53 + 1, 2**53 + 3, -(2**53 + 1)]
    rows = [(t, part) for t in totals for part in (t - 1, 1)]
    df = spark.createDataFrame(rows, "total long, units long")
    for scale in (2, 4, 6):
        got = dict(df.groupBy("total").agg(exact_sum("units", scale)).collect())
        assert got == {t: _exact(t, scale) for t in totals}, scale
        assert any(float(t) / 10**scale != _exact(t, scale) for t in totals)


def test_money_column_past_2_53_matches_decimal_path(spark):
    total = _N_OVER * 9999999999999
    assert float(total) / 100 != _exact(total, 2)
    df = spark.createDataFrame([(_BIG,)] * _N_OVER, "x double")
    row = df.agg(
        money_sum_col("x").alias("fast"), money_sum(dec("x")).alias("decimal")
    ).collect()[0]
    assert row["fast"] == row["decimal"] == _exact(total, 2)


def test_null_totals_finish_to_null(spark):
    # An empty frame and an all-NULL group both sum to NULL, and the
    # finish keeps it NULL; a non-NULL group beside it is unaffected.
    df = spark.createDataFrame(
        [("a", None), ("a", None), ("b", 1.25)], "k string, x double"
    )
    for frame in (df, df.limit(0)):
        row = frame.filter(F.col("k") == "a").agg(
            money_sum_col("x").alias("col"),
            exact_sum(F.lit(None).cast("long"), 4).alias("units"),
        ).collect()
        assert [(r["col"], r["units"]) for r in row] == [(None, None)]
    per_key = dict(df.groupBy("k").agg(money_sum_col("x")).collect())
    assert per_key == {"a": None, "b": 1.25}


def test_partials_merged_then_finished_equal_one_tier(spark):
    # Two-tier rollups and salted merges carry long partials and finish
    # once; the result must equal the one-tier sum and the exact value,
    # also where the group total is past 2^53 ("a": 2^54 + 198 units,
    # an ulp off when divided as doubles).
    rows = [("a", i % 4, 2**51 + 7 * i) for i in range(8)] + [("a", 3, 2)]
    rows += [("b", i % 3, 12345 + i) for i in range(5)]
    df = spark.createDataFrame(rows, "k string, salt int, units long")
    one_tier = dict(df.groupBy("k").agg(exact_sum("units", 2)).collect())
    partials = df.groupBy("k", "salt").agg(F.sum("units").alias("p"))
    merged = dict(partials.groupBy("k").agg(exact_sum("p", 2)).collect())
    salted = dict(
        partials.groupBy("k")
        .agg(F.sum("p").alias("t"))
        .select("k", finish_units("t", 2))
        .collect()
    )
    exact = {
        k: _exact(sum(u for kk, _, u in rows if kk == k), 2) for k in ("a", "b")
    }
    assert one_tier == merged == salted == exact
    total_a = sum(u for k, _, u in rows if k == "a")
    assert total_a == 2**54 + 198 and float(total_a) / 100 != exact["a"]


def test_long_sum_past_2_63_raises(spark):
    # session.py pins spark.sql.ansi.enabled: an integer sub-unit total
    # that passes 2^63 must fail loudly rather than wrap negative.
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    df = spark.createDataFrame([(2**62,), (2**62,)], "units long")
    assert df.limit(1).agg(F.sum("units")).collect()[0][0] == 2**62
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
        df.agg(F.sum("units")).collect()
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
        df.agg(exact_sum("units", 2)).collect()


def _is_power_of_ten(node: ast.AST) -> bool:
    if (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "lit"
        and len(node.args) == 1
    ):
        node = node.args[0]
    if not isinstance(node, ast.Constant) or isinstance(node.value, bool):
        return False
    return isinstance(node.value, (int, float)) and any(
        node.value == 10**k for k in range(1, 19)
    )


def _is_f_sum(node: ast.AST) -> bool:
    while (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "cast"
    ):
        node = node.func.value
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "sum"
        and isinstance(node.func.value, ast.Name)
        and node.func.value.id == "F"
    )


def test_no_inline_money_finish_outside_money_py():
    # A long sum divided by 10^s in doubles drifts past 2^53; only
    # finish_units (via exact_sum, rev_sum, money_sum_col) may turn a
    # unit total into a double.
    root = pathlib.Path(kamiyo_hive_spark.__file__).parent
    hits = []
    for path in sorted(root.rglob("*.py")):
        if path.name == "money.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.BinOp)
                and isinstance(node.op, ast.Div)
                and _is_f_sum(node.left)
                and _is_power_of_ten(node.right)
            ):
                hits.append(f"{path.relative_to(root)}:{node.lineno}")
    assert hits == []


def test_weighted_sum_exact_past_2_53(spark, tmp_path):
    # Group "A"'s scale-4 total (Σ qty_cents × price_cents) is past 2^53,
    # where double(total) / 1e4 is an ulp off the exact value.
    lines = [("A", 50.00, 99999999999.98), ("A", 37.00, 12345678901.23),
             ("R", 1.50, 10.25), ("R", 2.00, 3.10)]
    rows = [
        (i, 1, 1, 1, qty, price, 0.05, 0.02, flag, "O", None)
        for i, (flag, qty, price) in enumerate(lines)
    ]
    spark.createDataFrame(rows, SCHEMAS["lineitem"]).write.parquet(
        str(tmp_path / "lineitem.parquet")
    )
    totals: dict[str, int] = {}
    for flag, qty, price in lines:
        units = round(qty * 100) * round(price * 100)
        totals[flag] = totals.get(flag, 0) + units
    assert totals["A"] > 2**53 and float(totals["A"]) / 1e4 != _exact(totals["A"], 4)
    got = dict(weighted_sum(spark, str(tmp_path)).collect())
    assert got == {flag: _exact(t, 4) for flag, t in totals.items()}
