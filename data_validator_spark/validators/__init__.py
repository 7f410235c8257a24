from data_validator_spark.validators.base import (
    CheapCheck,
    Check,
    CostlyCheck,
    RowBasedCheck,
    calc_error_count_threshold,
    parse_threshold,
)
from data_validator_spark.validators.colstats import ColStats
from data_validator_spark.validators.column_based import (
    ColumnMaxCheck,
    ColumnSumCheck,
    MinNumRowsCheck,
)
from data_validator_spark.validators.row_based import (
    NegativeCheck,
    NullCheck,
    RangeCheck,
    StringLengthCheck,
    StringRegexCheck,
)
from data_validator_spark.validators.unique import UniqueCheck

# YAML `type:` → constructor-from-config-dict. Parity: reference
# JsonDecoders.scala / ConfigParser's validator dispatch table.
CHECK_TYPES = {
    "rowCount": lambda d: MinNumRowsCheck(d["minNumRows"]),
    "nullCheck": lambda d: NullCheck(d["column"], d.get("threshold")),
    "negativeCheck": lambda d: NegativeCheck(d["column"], d.get("threshold")),
    "rangeCheck": lambda d: RangeCheck(
        d["column"], d.get("minValue"), d.get("maxValue"), d.get("inclusive", False), d.get("threshold")
    ),
    "stringLengthCheck": lambda d: StringLengthCheck(
        d["column"], d.get("minLength"), d.get("maxLength"), d.get("threshold")
    ),
    "stringRegexCheck": lambda d: StringRegexCheck(d["column"], d.get("regex"), d.get("threshold")),
    "columnMaxCheck": lambda d: ColumnMaxCheck(d["column"], d["value"]),
    "columnSumCheck": lambda d: ColumnSumCheck(
        d["column"], d.get("minValue"), d.get("maxValue"), d.get("inclusive", False)
    ),
    "uniqueCheck": lambda d: UniqueCheck(d["columns"]),
    "colstats": lambda d: ColStats(d["column"]),
}


def check_from_dict(d: dict) -> Check:
    t = d.get("type")
    if t not in CHECK_TYPES:
        raise ValueError(f"Unknown check type: {t!r}")
    try:
        return CHECK_TYPES[t](d)
    except KeyError as e:
        raise ValueError(f"{t} check is missing required field {e.args[0]!r}") from None


__all__ = [
    "CHECK_TYPES",
    "CheapCheck",
    "Check",
    "ColStats",
    "ColumnMaxCheck",
    "ColumnSumCheck",
    "CostlyCheck",
    "MinNumRowsCheck",
    "NegativeCheck",
    "NullCheck",
    "RangeCheck",
    "RowBasedCheck",
    "StringLengthCheck",
    "StringRegexCheck",
    "UniqueCheck",
    "calc_error_count_threshold",
    "check_from_dict",
    "parse_threshold",
]
