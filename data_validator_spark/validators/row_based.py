"""Row-based checks: null / negative / range / stringLength / stringRegex.

Parity: reference NullCheck.scala, NegativeCheck.scala,
RangeCheck.scala, StringLengthCheck.scala, StringRegexCheck.scala.
Each builds one native boolean Column; the runner fuses
sum(when(test,1,0)) aggregates into a single scan.
"""

from __future__ import annotations

from typing import Any, Optional

from pyspark.errors import IllegalArgumentException
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_validator_spark.events import ValidatorError
from data_validator_spark.validators.base import (
    RowBasedCheck,
    is_column_ref,
    is_number,
    is_numeric,
    value_expr,
)


class NullCheck(RowBasedCheck):
    """Fail rows where column IS NULL. Parity: NullCheck.scala."""

    check_type = "nullCheck"

    def col_test(self, df: DataFrame) -> Column:
        return F.col(self.column).isNull()


class NegativeCheck(RowBasedCheck):
    """Fail rows where column < 0. Parity: NegativeCheck.scala."""

    check_type = "negativeCheck"

    def config_check_column(self, df: DataFrame) -> None:
        self.column_of_kind(df, self.column, "numericType type", is_numeric)

    def col_test(self, df: DataFrame) -> Column:
        return F.col(self.column) < F.lit(0)


class RangeCheck(RowBasedCheck):
    """Fail rows outside (minValue, maxValue). Parity: RangeCheck.scala.

    Bounds may be literals or backtick-prefixed column references.
    inclusive (default False) means the BOUNDS are part of the valid
    range: inclusive=True fails col<min OR col>max; False fails
    col<=min OR col>=max (reference RangeCheck.colTest).
    """

    check_type = "rangeCheck"

    def __init__(
        self,
        column: str,
        min_value: Any = None,
        max_value: Any = None,
        inclusive: bool = False,
        threshold: Optional[str] = None,
    ):
        super().__init__(column, threshold)
        self.min_value = min_value
        self.max_value = max_value
        self.inclusive = bool(inclusive) if inclusive is not None else False

    def config_check(self, df: DataFrame) -> bool:
        if self.min_value is None and self.max_value is None:
            self.add_event(ValidatorError("Must defined minValue or maxValue or both."))
        bounds = [v for v in (self.min_value, self.max_value) if v is not None]
        if len(bounds) == 2 and not any(is_column_ref(b) for b in bounds):
            try:
                if bounds[0] >= bounds[1]:
                    self.add_event(
                        ValidatorError(f"Min: {bounds[0]} must be less than max: {bounds[1]}")
                    )
            except TypeError:
                self.add_event(ValidatorError(f"Unsupported type in {bounds}"))
        if self.column_in_df(df, self.column):
            dt = df.schema[self.column].dataType
            for b in bounds:
                if is_column_ref(b):
                    ref = b[1:]
                    if ref not in df.columns:
                        self.add_event(ValidatorError(f"value: {b} not found in schema."))
                    elif ref == self.column:
                        self.add_event(
                            ValidatorError(f"value: {b} cannot be equal to column: {self.column}")
                        )
                elif isinstance(b, bool) or (is_numeric(dt) and not is_number(b)):
                    self.add_event(
                        ValidatorError(
                            f"Range constraint types not compatible with column[{dt.simpleString()}]:'{self.column}'"
                        )
                    )
        self.config_check_threshold()
        return self.failed

    def col_test(self, df: DataFrame) -> Column:
        c = F.col(self.column)
        parts = []
        if self.min_value is not None:
            lo = value_expr(self.min_value)
            parts.append(c < lo if self.inclusive else c <= lo)
        if self.max_value is not None:
            hi = value_expr(self.max_value)
            parts.append(c > hi if self.inclusive else c >= hi)
        test = parts[0]
        for p in parts[1:]:
            test = test | p
        return test

    def report_fields(self) -> dict[str, Any]:
        d = super().report_fields()
        if self.min_value is not None:
            d["minValue"] = self.min_value
        if self.max_value is not None:
            d["maxValue"] = self.max_value
        d["inclusive"] = self.inclusive
        return d


class StringLengthCheck(RowBasedCheck):
    """Fail rows where length(col) outside [minLength, maxLength] (inclusive).

    Parity: StringLengthCheck.scala — LessThan/GreaterThan on Length().
    """

    check_type = "stringLengthCheck"

    def __init__(
        self,
        column: str,
        min_length: Optional[int] = None,
        max_length: Optional[int] = None,
        threshold: Optional[str] = None,
    ):
        super().__init__(column, threshold)
        self.min_length = min_length
        self.max_length = max_length

    def config_check(self, df: DataFrame) -> bool:
        if self.min_length is None and self.max_length is None:
            self.add_event(ValidatorError("Must define minLength or maxLength or both."))
        if (
            self.min_length is not None
            and self.max_length is not None
            and self.min_length > self.max_length
        ):
            self.add_event(
                ValidatorError(
                    f"minLength: {self.min_length} must be less than or equal to maxLength: {self.max_length}"
                )
            )
        self.column_of_kind(df, self.column, "StringType", lambda dt: isinstance(dt, T.StringType))
        self.config_check_threshold()
        return self.failed

    def col_test(self, df: DataFrame) -> Column:
        ln = F.length(F.col(self.column))
        parts = []
        if self.min_length is not None:
            parts.append(ln < F.lit(int(self.min_length)))
        if self.max_length is not None:
            parts.append(ln > F.lit(int(self.max_length)))
        test = parts[0]
        for p in parts[1:]:
            test = test | p
        return test

    def report_fields(self) -> dict[str, Any]:
        d = super().report_fields()
        if self.min_length is not None:
            d["minLength"] = self.min_length
        if self.max_length is not None:
            d["maxLength"] = self.max_length
        return d


class StringRegexCheck(RowBasedCheck):
    """Fail non-null rows not matching regex. Parity: StringRegexCheck.scala.

    Explicit IsNotNull keeps nulls from counting as failures (RLike is
    false on null), mirroring the reference's And(Not(RLike), IsNotNull).
    """

    check_type = "stringRegexCheck"

    def __init__(self, column: str, regex: str, threshold: Optional[str] = None):
        super().__init__(column, threshold)
        self.regex = regex

    def config_check(self, df: DataFrame) -> bool:
        if not self.regex:
            self.add_event(ValidatorError("Must define a regex."))
        elif isinstance(self.regex, str):
            # rlike compiles the pattern with java.util.regex on the
            # executors; one that does not compile is a config error
            try:
                df.sparkSession._jvm.java.util.regex.Pattern.compile(self.regex)
            except IllegalArgumentException as e:  # PatternSyntaxException
                msg = str(e).splitlines()[0]
                self.add_event(ValidatorError(f"Invalid regex {self.regex!r}: {msg}"))
        self.column_of_kind(df, self.column, "StringType", lambda dt: isinstance(dt, T.StringType))
        self.config_check_threshold()
        return self.failed

    def col_test(self, df: DataFrame) -> Column:
        c = F.col(self.column)
        return (~c.rlike(self.regex)) & c.isNotNull()

    def report_fields(self) -> dict[str, Any]:
        d = super().report_fields()
        d["regex"] = self.regex
        return d
