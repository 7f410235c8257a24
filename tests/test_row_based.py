"""Per-validator row-based checks: pass / fail / threshold / bad
config. Mirrors reference NullCheckSpec, NegativeCheckSpec,
RangeCheckSpec, StringLengthCheckSpec, StringRegexCheckSpec."""

from __future__ import annotations

import pytest

from data_validator_spark.validators.row_based import (
    NegativeCheck,
    NullCheck,
    RangeCheck,
    StringLengthCheck,
    StringRegexCheck,
)


def run_check(spark, df, chk):
    """Fuse + evaluate a single cheap check like the runner does."""
    from pyspark.sql import functions as F

    assert chk.config_check(df) is False, [e.to_dict() for e in chk.events]
    aggs = [F.count(F.lit(1)).alias("dv_count")] + chk.agg_exprs(df, "qc0")
    row = df.agg(*aggs).collect()[0].asDict()
    return chk.evaluate(row, int(row["dv_count"]))


@pytest.fixture(scope="module")
def people(spark):
    rows = [
        (1, "alice", 30.0),
        (2, "bob", -5.0),
        (3, None, 45.0),
        (4, "dave", None),
        (5, "x", 120.0),
    ]
    return spark.createDataFrame(rows, "id int, name string, score double")


# -- nullCheck -------------------------------------------------------------
def test_null_check_fails_on_nulls(spark, people):
    chk = NullCheck("name")
    assert run_check(spark, people, chk) is True
    counters = {e.name: e.value for e in chk.events if hasattr(e, "name")}
    assert counters["errorCount"] == 1
    assert counters["rowCount"] == 5


def test_null_check_passes_clean_column(spark, people):
    assert run_check(spark, people, NullCheck("id")) is False


def test_null_check_threshold_tolerates(spark, people):
    assert run_check(spark, people, NullCheck("name", threshold="1")) is False
    assert run_check(spark, people, NullCheck("name", threshold="20%")) is False


def test_null_check_threshold_too_small(spark, people):
    # 10% of 5 rows -> 0 tolerable; 1 error > 0 -> fail
    assert run_check(spark, people, NullCheck("name", threshold="10%")) is True


def test_null_check_missing_column_is_config_error(spark, people):
    chk = NullCheck("nope")
    assert chk.config_check(people) is True


def test_null_check_bad_threshold_is_config_error(spark, people):
    chk = NullCheck("name", threshold="bogus")
    assert chk.config_check(people) is True


# -- negativeCheck ---------------------------------------------------------
def test_negative_check_counts_negatives(spark, people):
    chk = NegativeCheck("score")
    assert run_check(spark, people, chk) is True
    counters = {e.name: e.value for e in chk.events if hasattr(e, "name")}
    assert counters["errorCount"] == 1


def test_negative_check_non_numeric_column_is_config_error(spark, people):
    chk = NegativeCheck("name")
    assert chk.config_check(people) is True


# -- rangeCheck ------------------------------------------------------------
def test_range_check_exclusive_bounds(spark, people):
    # inclusive=False fails col<=min or col>=max: scores -5,30,45,120 with
    # (0,120) -> -5 and 120 fail (null doesn't count)
    chk = RangeCheck("score", min_value=0.0, max_value=120.0, inclusive=False)
    assert run_check(spark, people, chk) is True
    counters = {e.name: e.value for e in chk.events if hasattr(e, "name")}
    assert counters["errorCount"] == 2


def test_range_check_inclusive_bounds(spark, people):
    # inclusive=True: bounds are valid values -> only -5 fails
    chk = RangeCheck("score", min_value=0.0, max_value=120.0, inclusive=True)
    assert run_check(spark, people, chk) is True
    counters = {e.name: e.value for e in chk.events if hasattr(e, "name")}
    assert counters["errorCount"] == 1


def test_range_check_column_reference_bound(spark):
    df = spark.createDataFrame(
        [(1, 10.0, 5.0), (2, 3.0, 5.0)], "id int, v double, lo double"
    )
    # reference convention (ValidatorBase.lookupValueColumn): column
    # refs carry a LEADING backtick only — stripPrefix(backtick)
    chk = RangeCheck("v", min_value="`lo", inclusive=True)
    assert run_check(spark, df, chk) is True  # row 2: 3 < 5
    counters = {e.name: e.value for e in chk.events if hasattr(e, "name")}
    assert counters["errorCount"] == 1


def test_range_check_no_bounds_is_config_error(spark, people):
    chk = RangeCheck("score")
    assert chk.config_check(people) is True


def test_range_check_min_above_max_is_config_error(spark, people):
    chk = RangeCheck("score", min_value=10, max_value=1)
    assert chk.config_check(people) is True


def test_range_check_string_bound_on_numeric_column_is_config_error(spark, people):
    chk = RangeCheck("score", min_value="0", max_value="10")
    assert chk.config_check(people) is True


def test_range_check_self_column_reference_is_config_error(spark, people):
    chk = RangeCheck("score", min_value="`score`")
    assert chk.config_check(people) is True


# -- stringLengthCheck -----------------------------------------------------
def test_string_length_check_bounds_inclusive_valid(spark, people):
    # lengths: alice=5 bob=3 dave=4 x=1 (null skipped); [2,5] -> only x fails
    chk = StringLengthCheck("name", min_length=2, max_length=5)
    assert run_check(spark, people, chk) is True
    counters = {e.name: e.value for e in chk.events if hasattr(e, "name")}
    assert counters["errorCount"] == 1


def test_string_length_check_passes(spark, people):
    assert run_check(spark, people, StringLengthCheck("name", min_length=1)) is False


def test_string_length_check_requires_a_bound(spark, people):
    chk = StringLengthCheck("name")
    assert chk.config_check(people) is True


def test_string_length_check_non_string_column_is_config_error(spark, people):
    chk = StringLengthCheck("score", min_length=1)
    assert chk.config_check(people) is True


# -- stringRegexCheck ------------------------------------------------------
def test_string_regex_check_nulls_do_not_fail(spark, people):
    # ^[a-z]+$ : alice bob dave x match; null name NOT an error
    chk = StringRegexCheck("name", regex="^[a-z]+$")
    assert run_check(spark, people, chk) is False


def test_string_regex_check_counts_mismatches(spark, people):
    chk = StringRegexCheck("name", regex="^[ab]")
    assert run_check(spark, people, chk) is True
    counters = {e.name: e.value for e in chk.events if hasattr(e, "name")}
    assert counters["errorCount"] == 2  # dave, x


def test_string_regex_check_invalid_regex_is_config_error(spark, people, tmp_path):
    """A pattern Java cannot compile fails configCheck: the run ends as
    a config error, with no exception and no data read for any table."""
    from data_validator_spark.config import TableConfig, ValidatorConfig
    from data_validator_spark.runner import run_config

    path = str(tmp_path / "people.parquet")
    people.write.parquet(path)
    cfg = ValidatorConfig(
        tables=[
            TableConfig({"parquetFile": path}, [{"type": "nullCheck", "column": "id"}]),
            TableConfig(
                {"parquetFile": path},
                [{"type": "stringRegexCheck", "column": "name", "regex": "("}],
            ),
        ]
    )
    report = run_config(spark, cfg)
    assert report["failed"] is True
    [null_check] = report["tables"][0]["checks"]
    assert null_check["events"] == []
    [regex_check] = report["tables"][1]["checks"]
    assert [e["msg"] for e in regex_check["events"]] == [
        "Invalid regex '(': Unclosed group near index 1"
    ]


def test_string_regex_check_empty_regex_is_config_error(spark, people):
    chk = StringRegexCheck("name", regex="")
    assert chk.config_check(people) is True
