"""Column-based (aggregate) checks: rowCount, columnMaxCheck, columnSumCheck.

Parity: reference ColumnBased.scala (MinNumRows, ColumnMaxCheck) and
ColumnSumCheck.scala. Each contributes a native aggregate to the
shared single-pass scan and compares the collected scalar.
"""

from __future__ import annotations

from typing import Any, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_validator_spark.events import ColumnBasedCheckEvent, ValidatorCounter, ValidatorError
from data_validator_spark.validators.base import CheapCheck, is_number, is_numeric


def pct_error(expected: float, actual: float) -> str:
    """Parity: ColumnBased.calculatePctError."""
    if expected == actual:
        return "0.00%"
    if expected == 0.0:
        return "undefined"
    pct = abs((expected - actual) * 100.0 / expected)
    return f"{pct:4.2f}%"


class MinNumRowsCheck(CheapCheck):
    """rowCount: fail if count < minNumRows. Parity: MinNumRows."""

    check_type = "rowCount"

    def __init__(self, min_num_rows: int):
        super().__init__()
        self.min_num_rows = min_num_rows

    def config_check(self, df: DataFrame) -> bool:
        n = self.min_num_rows
        if isinstance(n, bool) or not isinstance(n, int) or n <= 0:
            self.add_event(ValidatorError("minNumRows must be a natural number"))
        return self.failed

    def agg_exprs(self, df: DataFrame, prefix: str) -> list[Column]:
        return []  # uses the shared count(1)

    def evaluate(self, row: dict[str, Any], count: int) -> bool:
        failed = count < self.min_num_rows
        err = pct_error(float(self.min_num_rows), float(count)) if failed else "0.00%"
        self.add_event(ValidatorCounter("rowCount", count))
        msg = f"MinNumRowsCheck Expected: {self.min_num_rows} Actual: {count} Relative Error: {err}"
        data = {"expected": str(self.min_num_rows), "actual": str(count), "relative_error": err}
        self.add_event(ColumnBasedCheckEvent(failed, data, msg))
        return self.failed

    def report_fields(self) -> dict[str, Any]:
        return {"minNumRows": self.min_num_rows}


class ColumnMaxCheck(CheapCheck):
    """Fail if max(column) != value. Parity: ColumnMaxCheck."""

    check_type = "columnMaxCheck"

    def __init__(self, column: str, value: Any):
        super().__init__()
        self.column = column
        self.value = value
        self._alias = ""

    def config_check(self, df: DataFrame) -> bool:
        if self.column_in_df(df, self.column):
            dt = df.schema[self.column].dataType
            if is_numeric(dt) and not is_number(self.value):
                self.add_event(
                    ValidatorError(
                        f"checkTypes failed for columnMaxCheck column[{dt.simpleString()}]: "
                        f"{self.column} value: {self.value}"
                    )
                )
        return self.failed

    def agg_exprs(self, df: DataFrame, prefix: str) -> list[Column]:
        self._alias = f"{prefix}_max"
        return [F.max(F.col(self.column)).alias(self._alias)]

    def evaluate(self, row: dict[str, Any], count: int) -> bool:
        import decimal

        actual = row[self._alias]
        if isinstance(self.value, str):
            failed = actual != self.value
            data = {"expected": self.value, "actual": str(actual)}
            msg = f"ColumnMaxCheck {self.column}[StringType]: Expected: {self.value} Actual: {actual}"
        elif is_number(self.value) and (
            actual is None or isinstance(actual, (int, float, decimal.Decimal))
        ):
            failed = actual is None or float(actual) != float(self.value)
            err = pct_error(float(self.value), float(actual)) if failed and actual is not None else "0.00%"
            data = {"expected": str(self.value), "actual": str(actual), "relative_error": err}
            msg = f"ColumnMaxCheck {self.column}: Expected: {self.value} Actual: {actual} Relative Error: {err}"
        else:
            # date/timestamp/boolean/etc: the reference's resultForOther
            # fails gracefully instead of raising (ColumnBased.scala).
            failed = True
            data = {"expected": str(self.value), "actual": str(actual)}
            msg = f"ColumnMaxCheck is not supported for data type {type(actual).__name__}"
        # Always record the observed max — a passing check still reports
        # the actual value (reference records it either way).
        self.add_event(ColumnBasedCheckEvent(failed, data, msg))
        return self.failed

    def report_fields(self) -> dict[str, Any]:
        return {"column": self.column, "value": self.value}


class ColumnSumCheck(CheapCheck):
    """Fail if sum(column) outside bounds. Parity: ColumnSumCheck.scala.

    inclusive=True → valid range is [min,max] (fail if sum<min or
    sum>max); inclusive=False (default) → valid range is (min,max)
    (fail if sum<=min or sum>=max).
    """

    check_type = "columnSumCheck"

    def __init__(
        self,
        column: str,
        min_value: Optional[float] = None,
        max_value: Optional[float] = None,
        inclusive: bool = False,
    ):
        super().__init__()
        self.column = column
        self.min_value = min_value
        self.max_value = max_value
        self.inclusive = bool(inclusive) if inclusive is not None else False
        self._alias = ""

    def config_check(self, df: DataFrame) -> bool:
        if self.min_value is None and self.max_value is None:
            self.add_event(ValidatorError("'minValue' or 'maxValue' or both must be defined"))
        for nm, v in (("minValue", self.min_value), ("maxValue", self.max_value)):
            if v is not None and not is_number(v):
                self.add_event(ValidatorError(f"'{nm}' defined but type is not a Number"))
        if (
            is_number(self.min_value)
            and is_number(self.max_value)
            and self.min_value >= self.max_value
        ):
            self.add_event(
                ValidatorError(
                    f"'minValue': {float(self.min_value)} must be less than 'maxValue': {float(self.max_value)}"
                )
            )
        self.column_of_kind(df, self.column, "numericType type", is_numeric)
        return self.failed

    def agg_exprs(self, df: DataFrame, prefix: str) -> list[Column]:
        self._alias = f"{prefix}_sum"
        return [F.sum(F.col(self.column)).alias(self._alias)]

    def evaluate(self, row: dict[str, Any], count: int) -> bool:
        raw = row[self._alias]
        if raw is None:
            # empty table or all-null column: surface as an error rather
            # than silently judging the bounds against 0.0.
            self.add_event(
                ValidatorError(f"columnSumCheck on {self.column}: no data to sum (sum is NULL)")
            )
            return self.failed
        actual = float(raw)
        lo = float(self.min_value) if self.min_value is not None else float("-inf")
        hi = float(self.max_value) if self.max_value is not None else float("inf")
        if self.inclusive:
            failed = actual > hi or actual < lo
        else:
            failed = actual >= hi or actual <= lo
        if actual < lo:
            err = pct_error(lo, actual)
        elif actual > hi:
            err = pct_error(hi, actual)
        elif not self.inclusive and (actual == hi or actual == lo):
            err = "undefined"
        else:
            err = "0.00%"
        data: dict[str, str] = {}
        if self.min_value is not None:
            data["lower_bound"] = str(self.min_value)
        if self.max_value is not None:
            data["upper_bound"] = str(self.max_value)
        data.update({"inclusive": str(self.inclusive).lower(), "actual": str(actual), "relative_error": err})
        b = "[]" if self.inclusive else "()"
        msg = (
            f"columnSumCheck on {self.column}: Expected Range: {b[0]}{self.min_value}, "
            f"{self.max_value}{b[1]} Actual: {actual} Relative Error: {err}"
        )
        self.add_event(ColumnBasedCheckEvent(failed, data, msg))
        return self.failed

    def report_fields(self) -> dict[str, Any]:
        d: dict[str, Any] = {"column": self.column}
        if self.min_value is not None:
            d["minValue"] = self.min_value
        if self.max_value is not None:
            d["maxValue"] = self.max_value
        d["inclusive"] = self.inclusive
        return d
