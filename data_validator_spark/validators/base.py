"""Check base classes.

Parity: reference ValidatorBase.scala — CheapCheck / CostlyCheck
split. Cheap checks contribute native Column aggregate expressions
that the runner fuses into ONE scan per table (see
ValidatorTable.quickChecks, reference ValidatorTable.scala:100).
Costly checks run after it, in jobs of their own (all uniqueChecks
of a table share one, see validators/unique.py).

Spark-first: expressions are built with pyspark.sql.functions only —
no Python UDFs anywhere in the check hot path, so the fused
aggregation stays inside whole-stage codegen with map-side partial
aggregation (critical at 100 TB: one shuffle-free reduce per table).
"""

from __future__ import annotations

import re
from abc import ABC, abstractmethod
from typing import Any, Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_validator_spark.events import (
    ValidatorCheckEvent,
    ValidatorCounter,
    ValidatorError,
    ValidatorEvent,
)

# Threshold grammar, parity: RowBased.scala THRESHOLD_NUMBER_REGEX.
_THRESHOLD_RE = re.compile(r"^([0-9]+\.*[0-9]*)\s*%?$")

NUMERIC_TYPES = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.DecimalType,
)


def is_numeric(dt: T.DataType) -> bool:
    return isinstance(dt, NUMERIC_TYPES)


def parse_threshold(threshold: Optional[str]) -> Optional[float]:
    """Validate threshold syntax; returns the numeric part or None."""
    if threshold is None:
        return None
    m = _THRESHOLD_RE.match(str(threshold).strip())
    if not m:
        raise ValueError(f"Threshold `{threshold}` not parsable.")
    return float(m.group(1))


def calc_error_count_threshold(threshold: Optional[str], row_count: int) -> int:
    """Max tolerable errors. Parity: RowBased.calcErrorCountThreshold.

    '33%' → rowCount*0.33; 0.25 → rowCount*0.25; 100 → 100.
    """
    if threshold is None:
        return 0
    t = str(threshold).strip()
    num = float(t.rstrip("%"))
    if t.endswith("%"):
        return int(num * (row_count / 100.0))
    if num < 1.0:
        return int(num * row_count)
    return int(num)


def is_number(value: Any) -> bool:
    """int or float, but not bool: a YAML ``true`` is an int in Python,
    and no numeric field of a check takes one."""
    return isinstance(value, (int, float)) and not isinstance(value, bool)


# Type rules for config fields (validator config and pipeline steps):
# each returns the value when it has its YAML type and raises
# ValueError naming the field (``where``) when it does not.


def require_list(value: Any, where: str) -> list:
    """YAML scalars are the classic config trap: `langs: en` arrives as
    the string 'en' and list('en') silently becomes ['e', 'n']."""
    if not isinstance(value, (list, tuple)):
        raise ValueError(f"{where} must be a YAML list, got {value!r}")
    return list(value)


def require_int(value: Any, where: str, low: int = 1) -> int:
    """``value`` when it is an int of at least ``low``; a YAML boolean,
    float or string is not one (``int(2.5)`` would silently be 2)."""
    if not is_number(value) or not isinstance(value, int) or value < low:
        kind = "a positive integer" if low == 1 else f"an integer >= {low}"
        raise ValueError(f"{where} must be {kind}, got {value!r}")
    return value


def require_bool(value: Any, where: str) -> bool:
    """A YAML ``true``/``false``; ``bool("false")`` would be True."""
    if not isinstance(value, bool):
        raise ValueError(f"{where} must be a YAML boolean (true/false), got {value!r}")
    return value


def require_map(value: Any, where: str) -> dict:
    if not isinstance(value, dict):
        raise ValueError(f"{where} must be a mapping, got {type(value).__name__}")
    return dict(value)


def is_column_ref(value: Any) -> bool:
    """Backtick-prefixed string = reference to another column.

    Parity: ValidatorBase.isValueColumn (ValidatorBase.scala:143).
    """
    return isinstance(value, str) and value.startswith("`")


def value_expr(value: Any) -> Column:
    """Literal, or column reference when backtick-prefixed."""
    if is_column_ref(value):
        return F.col(value[1:])
    return F.lit(value)


class Check(ABC):
    """Base for every validator."""

    check_type: str = "check"

    def __init__(self) -> None:
        self.failed = False
        self.events: list[ValidatorEvent] = []

    def add_event(self, ev: ValidatorEvent) -> None:
        self.events.append(ev)
        self.failed = self.failed or ev.failed

    # -- config validation (no data touched) ------------------------------
    @abstractmethod
    def config_check(self, df: DataFrame) -> bool:
        """Validate config against schema. True on error (reference parity)."""

    def column_in_df(self, df: DataFrame, column: str) -> bool:
        if column in df.columns:
            return True
        self.add_event(ValidatorError(f"Column: '{column}' not found in schema."))
        return False

    def column_of_kind(self, df: DataFrame, column: str, kind: str, ok) -> None:
        """Config error unless ``column`` exists and ``ok(its type)``;
        ``kind`` names the wanted type in the message."""
        if self.column_in_df(df, column):
            dt = df.schema[column].dataType
            if not ok(dt):
                self.add_event(
                    ValidatorError(f"Column: {column} found, but not of {kind}: {dt.simpleString()}")
                )

    # -- reporting ---------------------------------------------------------
    def to_dict(self) -> dict[str, Any]:
        """Report entry: type, failed, the report_fields(), then events."""
        return {
            "type": self.check_type,
            "failed": self.failed,
            **self.report_fields(),
            "events": [e.to_dict() for e in self.events],
        }

    def report_fields(self) -> dict[str, Any]:
        return {}

    def describe(self) -> str:
        return f"{self.__class__.__name__}"


class CheapCheck(Check):
    """A check whose work is aggregate expressions fused into the shared scan.

    `agg_exprs()` returns named aggregates; `evaluate(row, count)`
    consumes the single collected result row (dict keyed by alias).
    """

    @abstractmethod
    def agg_exprs(self, df: DataFrame, prefix: str) -> list[Column]: ...

    @abstractmethod
    def evaluate(self, row: dict[str, Any], count: int) -> bool:
        """Returns True when the check FAILED."""


def run_cheap_checks(df: DataFrame, checks: Sequence[CheapCheck]) -> tuple[int, bool]:
    """ONE scan for every cheap check: ``count(1)`` plus each check's
    ``agg_exprs`` fused into a single aggregate, one collected row,
    then each check's ``evaluate``. Returns (row count, any failed).

    Parity: ValidatorTable.quickChecks (ValidatorTable.scala:100);
    the batch runner and the per-micro-batch streaming validator both
    run it."""
    aggs = [F.count(F.lit(1)).alias("dv_count")]
    for i, chk in enumerate(checks):
        aggs.extend(chk.agg_exprs(df, f"qc{i}"))
    row = df.agg(*aggs).collect()[0].asDict()
    count = int(row["dv_count"])
    failed = False
    for chk in checks:
        failed = chk.evaluate(row, count) or failed
    return count, failed


class RowBasedCheck(CheapCheck):
    """Checks counting failing rows, with threshold tolerance.

    Parity: RowBased.scala — select is Sum(If(colTest, 1L, 0L)).
    """

    column: str
    threshold: Optional[str]

    def __init__(self, column: str, threshold: Optional[str] = None):
        super().__init__()
        self.column = column
        self.threshold = threshold
        self._alias = ""

    @abstractmethod
    def col_test(self, df: DataFrame) -> Column:
        """Boolean expression that is True for a FAILING row."""

    def config_check(self, df: DataFrame) -> bool:
        self.config_check_column(df)
        self.config_check_threshold()
        return self.failed

    def config_check_column(self, df: DataFrame) -> None:
        self.column_in_df(df, self.column)

    def config_check_threshold(self) -> None:
        try:
            parse_threshold(self.threshold)
        except ValueError as e:
            self.add_event(ValidatorError(str(e)))

    def agg_exprs(self, df: DataFrame, prefix: str) -> list[Column]:
        self._alias = f"{prefix}_errors"
        # when(test,1).otherwise(0): null test → 0, matching reference
        # If(colTest, L1, L0) null-condition semantics.
        return [F.sum(F.when(self.col_test(df), F.lit(1)).otherwise(F.lit(0))).alias(self._alias)]

    def evaluate(self, row: dict[str, Any], count: int) -> bool:
        if count <= 0:
            return self.failed
        error_count = int(row[self._alias] or 0)
        tolerable = calc_error_count_threshold(self.threshold, count)
        self.add_event(ValidatorCounter("rowCount", count))
        self.add_event(ValidatorCounter("errorCount", error_count))
        if tolerable > 0:
            self.add_event(ValidatorCounter("errorCountThreshold", tolerable))
        failure = error_count > tolerable
        self.add_event(
            ValidatorCheckEvent(
                failure, f"{self.check_type} on column '{self.column}'", count, error_count
            )
        )
        return self.failed

    def report_fields(self) -> dict[str, Any]:
        d: dict[str, Any] = {"column": self.column}
        if self.threshold is not None:
            d["threshold"] = self.threshold
        return d

    def describe(self) -> str:
        return f"{self.check_type}(column={self.column})"


class CostlyCheck(Check):
    """Checks needing their own pass. Parity: CostlyCheck trait."""

    @abstractmethod
    def costly_check(self, df: DataFrame) -> bool: ...
