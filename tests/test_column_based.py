"""Column-based (aggregate) checks. Mirrors reference
ColumnBasedSpec (MinNumRows, ColumnMaxCheck) and ColumnSumCheckSpec."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from data_validator_spark.events import ColumnBasedCheckEvent, ValidatorError
from data_validator_spark.validators.column_based import (
    ColumnMaxCheck,
    ColumnSumCheck,
    MinNumRowsCheck,
    pct_error,
)


def run_check(spark, df, chk):
    assert chk.config_check(df) is False, [e.to_dict() for e in chk.events]
    aggs = [F.count(F.lit(1)).alias("dv_count")] + chk.agg_exprs(df, "qc0")
    row = df.agg(*aggs).collect()[0].asDict()
    return chk.evaluate(row, int(row["dv_count"]))


@pytest.fixture(scope="module")
def nums(spark):
    return spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "id int, v double"
    )


# -- rowCount (MinNumRows) -------------------------------------------------
def test_min_num_rows_pass(spark, nums):
    assert run_check(spark, nums, MinNumRowsCheck(3)) is False


def test_min_num_rows_fail(spark, nums):
    chk = MinNumRowsCheck(10)
    assert run_check(spark, nums, chk) is True
    ev = [e for e in chk.events if isinstance(e, ColumnBasedCheckEvent)][0]
    assert ev.data["actual"] == "3" and ev.data["expected"] == "10"


def test_min_num_rows_non_natural_is_config_error(spark, nums):
    assert MinNumRowsCheck(0).config_check(nums) is True
    assert MinNumRowsCheck(-1).config_check(nums) is True


# -- columnMaxCheck --------------------------------------------------------
def test_column_max_numeric_pass_emits_observed_value(spark, nums):
    chk = ColumnMaxCheck("v", 30.0)
    assert run_check(spark, nums, chk) is False
    # a PASSING check still records the observed max (reference parity)
    ev = [e for e in chk.events if isinstance(e, ColumnBasedCheckEvent)]
    assert len(ev) == 1 and ev[0].data["actual"] == "30.0"


def test_column_max_numeric_fail(spark, nums):
    chk = ColumnMaxCheck("v", 25.0)
    assert run_check(spark, nums, chk) is True
    ev = [e for e in chk.events if isinstance(e, ColumnBasedCheckEvent)][0]
    assert ev.data["relative_error"] == "20.00%"


def test_column_max_string(spark):
    df = spark.createDataFrame([("a",), ("c",), ("b",)], "s string")
    assert run_check(spark, df, ColumnMaxCheck("s", "c")) is False
    assert run_check(spark, df, ColumnMaxCheck("s", "z")) is True


def test_column_max_string_value_on_numeric_column_is_config_error(spark, nums):
    assert ColumnMaxCheck("v", "10").config_check(nums) is True


def test_column_max_unsupported_type_fails_gracefully(spark):
    # date column vs numeric expected: must NOT raise (reference
    # resultForOther) — fails with a 'not supported' event instead.
    df = spark.createDataFrame([(datetime.date(2024, 1, 1),)], "d date")
    chk = ColumnMaxCheck("d", 42)
    assert run_check(spark, df, chk) is True
    ev = [e for e in chk.events if isinstance(e, ColumnBasedCheckEvent)][0]
    assert "not supported" in ev.message


# -- columnSumCheck --------------------------------------------------------
def test_column_sum_inclusive_bounds(spark, nums):
    # sum = 60; [60, 100] inclusive -> pass
    assert run_check(spark, nums, ColumnSumCheck("v", 60, 100, inclusive=True)) is False


def test_column_sum_exclusive_bound_hit(spark, nums):
    # sum = 60; (60, 100) exclusive -> 60 <= 60 fails, relative error undefined
    chk = ColumnSumCheck("v", 60, 100, inclusive=False)
    assert run_check(spark, nums, chk) is True
    ev = [e for e in chk.events if isinstance(e, ColumnBasedCheckEvent)][0]
    assert ev.data["relative_error"] == "undefined"


def test_column_sum_below_min(spark, nums):
    chk = ColumnSumCheck("v", min_value=100)
    assert run_check(spark, nums, chk) is True


def test_column_sum_null_sum_is_error_not_zero(spark):
    # all-null column: must surface an error, not evaluate bounds vs 0.0
    df = spark.createDataFrame([(None,), (None,)], "v double")
    chk = ColumnSumCheck("v", min_value=-100, max_value=100)
    assert run_check(spark, df, chk) is True
    assert any(isinstance(e, ValidatorError) for e in chk.events)


def test_column_sum_bad_config(spark, nums):
    assert ColumnSumCheck("v").config_check(nums) is True  # no bounds
    assert ColumnSumCheck("v", 10, 1).config_check(nums) is True  # min >= max
    assert ColumnSumCheck("v", "x", 1).config_check(nums) is True  # non-number
    assert ColumnSumCheck("id2", 1).config_check(nums) is True  # missing col


def test_yaml_booleans_are_not_numbers(spark, nums):
    """`true`/`false` in YAML are Python bools, and bool is an int:
    each numeric field must still reject them as config errors."""
    import yaml

    from data_validator_spark.validators import check_from_dict

    def errors(text):
        chk = check_from_dict(yaml.safe_load(text))
        assert chk.config_check(nums) is True
        return [e.message for e in chk.events if isinstance(e, ValidatorError)]

    assert errors("{type: rowCount, minNumRows: true}") == ["minNumRows must be a natural number"]
    assert errors("{type: columnSumCheck, column: v, minValue: false}") == [
        "'minValue' defined but type is not a Number"
    ]
    assert errors("{type: columnSumCheck, column: v, minValue: 1, maxValue: true}") == [
        "'maxValue' defined but type is not a Number"
    ]
    assert errors("{type: rangeCheck, column: v, minValue: true, maxValue: 3}") == [
        "Range constraint types not compatible with column[double]:'v'"
    ]
    assert errors("{type: columnMaxCheck, column: id, value: true}") == [
        "checkTypes failed for columnMaxCheck column[int]: id value: True"
    ]


# -- pct_error helper ------------------------------------------------------
def test_pct_error():
    assert pct_error(100.0, 100.0) == "0.00%"
    assert pct_error(0.0, 5.0) == "undefined"
    assert pct_error(100.0, 80.0) == "20.00%"
