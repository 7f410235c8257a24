"""SURVEY §2 validator rows 1-12 as oracle-checkable queries.

null_check, negative_check, range_check, string_length_check,
string_regex_check, column_max_check, combined_single_pass and
detailed_errors route through the real check classes (col_test /
agg_exprs). row_count, unique_check, col_stats and
col_stats_histogram run the validator's own passes on the source
table (run_cheap_checks, ColStats, duplicate_key_counts), so the
oracle checks the code a validator run executes, not a parallel
reimplementation. column_sum_check spells an exact decimal sum (see
its docstring), and col_quantiles and profile_table extend the
reference's profiling surface with no check class behind them.
Reference parity is documented per check in
data_validator_spark/validators/* (NullCheck.scala, RangeCheck.scala,
ColumnBased.scala, UniqueCheck.scala, ColStats via stats/*.scala).

Every query reads its source through load(): a check validates the
table as it is on disk, so there is no at-rest copy to verify.

Scale notes: every aggregate here is a single fused scan (map-side
partials, no groupBy shuffle) except unique_check (one shuffle on the
key hash — unavoidable) and profile_table (one shuffle of collapsed
(column, value) pairs); the histogram is a second fused scan of ten
conditional sums. detailed_errors is filter+project+sort+limit: the
filter reaches parquet as PushedFilters, TakeOrderedAndProject bounds
memory.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from data_validator_spark.queries import dsum, load, sql_dsum
from data_validator_spark.validators.base import run_cheap_checks
from data_validator_spark.validators.colstats import ColStats
from data_validator_spark.validators.column_based import ColumnMaxCheck
from data_validator_spark.validators.row_based import (
    NegativeCheck,
    NullCheck,
    RangeCheck,
    StringLengthCheck,
    StringRegexCheck,
)
from data_validator_spark.validators.unique import duplicate_key_counts


# -- 1. row_count ----------------------------------------------------------
def q_row_count(spark, sf):
    """The row count of the validator's fused quick-check pass."""
    count, _failed = run_cheap_checks(load(spark, sf, "lineitem"), [])
    return spark.createDataFrame([(count,)], "row_cnt bigint")


SQL_ROW_COUNT = "SELECT count(*) AS row_cnt FROM lineitem"


# -- 2. null_check ---------------------------------------------------------
def q_null_check(spark, sf):
    df = load(spark, sf, "events")
    chk = NullCheck("props")
    return df.agg(*chk.agg_exprs(df, "null"))


SQL_NULL_CHECK = (
    "SELECT CAST(COALESCE(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END), 0) "
    "AS BIGINT) AS null_errors FROM events"
)


# -- 3. negative_check -----------------------------------------------------
def q_negative_check(spark, sf):
    df = load(spark, sf, "customer")
    chk = NegativeCheck("c_acctbal")
    return df.agg(*chk.agg_exprs(df, "negative"))


SQL_NEGATIVE_CHECK = (
    "SELECT CAST(COALESCE(SUM(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END), 0) "
    "AS BIGINT) AS negative_errors FROM customer"
)


# -- 4. range_check --------------------------------------------------------
def q_range_check(spark, sf):
    df = load(spark, sf, "lineitem")
    # exclusive bounds (reference default): fail when qty <= 1 OR qty >= 50
    chk = RangeCheck("l_quantity", min_value=1.0, max_value=50.0, inclusive=False)
    return df.agg(*chk.agg_exprs(df, "range"))


SQL_RANGE_CHECK = (
    "SELECT CAST(COALESCE(SUM(CASE WHEN l_quantity <= 1.0 OR l_quantity >= 50.0 "
    "THEN 1 ELSE 0 END), 0) AS BIGINT) AS range_errors FROM lineitem"
)


# -- 5. string_length_check ------------------------------------------------
def q_string_length_check(spark, sf):
    df = load(spark, sf, "documents")
    chk = StringLengthCheck("text", min_length=50, max_length=520)
    return df.agg(*chk.agg_exprs(df, "length"))


SQL_STRING_LENGTH_CHECK = (
    "SELECT CAST(COALESCE(SUM(CASE WHEN length(text) < 50 OR length(text) > 520 "
    "THEN 1 ELSE 0 END), 0) AS BIGINT) AS length_errors FROM documents"
)


# -- 6. string_regex_check -------------------------------------------------
def q_string_regex_check(spark, sf):
    df = load(spark, sf, "customer")
    chk = StringRegexCheck("c_name", regex="^Customer#[0-9]{9}$")
    return df.agg(*chk.agg_exprs(df, "regex"))


SQL_STRING_REGEX_CHECK = (
    "SELECT CAST(COALESCE(SUM(CASE WHEN NOT regexp_matches(c_name, '^Customer#[0-9]{9}$') "
    "AND c_name IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS regex_errors FROM customer"
)


# -- 7. column_max_check ---------------------------------------------------
def q_column_max_check(spark, sf):
    df = load(spark, sf, "lineitem")
    chk = ColumnMaxCheck("l_quantity", 50.0)
    (expr,) = chk.agg_exprs(df, "qc0")
    return df.agg(expr.alias("max_val"))


SQL_COLUMN_MAX_CHECK = "SELECT max(l_quantity) AS max_val FROM lineitem"


# -- 8. column_sum_check ---------------------------------------------------
def q_column_sum_check(spark, sf):
    """Exact decimal sum of l_extendedprice. Not ColumnSumCheck: that
    check sums doubles, so its result depends on the summation order.
    At sf0.01 it gave 3183256271.62998 against the oracle's exact
    3183256271.63, and a different value under 1, 4 and 64 partitions."""
    df = load(spark, sf, "lineitem")
    return df.agg(dsum(F.col("l_extendedprice"), "sum_val"))


SQL_COLUMN_SUM_CHECK = f"SELECT {sql_dsum('l_extendedprice', 'sum_val')} FROM lineitem"


# -- 9. unique_check -------------------------------------------------------
def q_unique_check(spark, sf):
    """Key tuples occurring more than once, from the uniqueCheck job
    (UniqueCheck.scala: groupBy(keys).count.where(count>1).count)."""
    keys = ["l_orderkey", "l_linenumber"]
    counts = duplicate_key_counts(load(spark, sf, "lineitem"), [keys])
    return spark.createDataFrame([(counts[frozenset(keys)],)], "duplicate_keys bigint")


SQL_UNIQUE_CHECK = (
    "SELECT count(*) AS duplicate_keys FROM ("
    "SELECT l_orderkey, l_linenumber FROM lineitem "
    "GROUP BY l_orderkey, l_linenumber HAVING count(*) > 1)"
)


# -- 10. col_stats ---------------------------------------------------------
def _col_stats(spark, sf):
    """The source and a ColStats of l_extendedprice after the
    validator's first pass."""
    df = load(spark, sf, "lineitem")
    chk = ColStats("l_extendedprice")
    run_cheap_checks(df, [chk])
    return df, chk


def q_col_stats(spark, sf):
    """count/mean/min/max/stdDev of l_extendedprice from ColStats (the
    sample stddev, n-1, like the reference's FirstPassStats). Mean and
    stdDev are rounded to 4 places, as the oracle rounds them."""
    st = _col_stats(spark, sf)[1].stats
    row = (st["count"], st["mean"], st["min"], st["max"], st["stdDev"])
    return spark.createDataFrame(
        [row], "cnt bigint, mean_val double, min_val double, max_val double, stddev_val double"
    ).select(
        "cnt",
        F.round("mean_val", 4).alias("mean_val"),
        "min_val",
        "max_val",
        F.round("stddev_val", 4).alias("stddev_val"),
    )


SQL_COL_STATS = """
WITH a AS (
  SELECT count(l_extendedprice) AS cnt,
         SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS s,
         SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(30,6))) AS s2,
         min(l_extendedprice) AS min_val,
         max(l_extendedprice) AS max_val
  FROM lineitem)
SELECT cnt,
       ROUND(CAST(s AS DOUBLE) / cnt, 4) AS mean_val,
       min_val, max_val,
       ROUND(SQRT((CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / cnt)
             / (cnt - 1.0)), 4) AS stddev_val
FROM a
"""


# -- 10b. col_stats histogram (10 equi-width bins) -------------------------
def q_col_stats_histogram(spark, sf):
    """The non-empty bins of the ColStats second pass (stats/
    SecondPassStats parity): bin = clamp(floor((x-min)/width), 0, 9)
    over pass-1 min/max."""
    df, chk = _col_stats(spark, sf)
    rows = []
    if chk.needs_second_pass():
        chk.sink_histogram(df.agg(*chk.histogram_exprs()).collect()[0].asDict())
        bins = chk.stats["histogram"]["bins"]
        rows = [(i, b["count"]) for i, b in enumerate(bins) if b["count"]]
    return spark.createDataFrame(rows, "bin bigint, bin_count bigint")


SQL_COL_STATS_HISTOGRAM = """
WITH mm AS (SELECT min(l_extendedprice) AS mn, max(l_extendedprice) AS mx FROM lineitem)
SELECT CAST(LEAST(FLOOR((l_extendedprice - mn) / ((mx - mn) / 10.0)), 9) AS BIGINT) AS bin,
       count(*) AS bin_count
FROM lineitem, mm
GROUP BY 1
"""


# -- 11. combined_single_pass ---------------------------------------------
def q_combined_single_pass(spark, sf):
    """ValidatorTable.quickChecks parity: N checks → ONE agg over one
    scan. All expressions fuse into a single whole-stage-codegen'd
    partial-aggregate; verify with .explain(): one HashAggregate pair,
    no shuffle beyond the final 1-row exchange."""
    df = load(spark, sf, "lineitem")
    null_chk = NullCheck("l_returnflag")
    range_chk = RangeCheck("l_discount", min_value=0.0, max_value=0.1, inclusive=True)
    regex_chk = StringRegexCheck("l_linestatus", regex="^[OF]$")
    return df.agg(
        F.count(F.lit(1)).alias("row_cnt"),
        *null_chk.agg_exprs(df, "null"),
        *range_chk.agg_exprs(df, "range"),
        *regex_chk.agg_exprs(df, "regex"),
        F.max(F.col("l_quantity")).alias("max_qty"),
        dsum(F.col("l_extendedprice"), "sum_price"),
    )


SQL_COMBINED_SINGLE_PASS = f"""
SELECT count(*) AS row_cnt,
       CAST(COALESCE(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS null_errors,
       CAST(COALESCE(SUM(CASE WHEN l_discount < 0.0 OR l_discount > 0.1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS range_errors,
       CAST(COALESCE(SUM(CASE WHEN NOT regexp_matches(l_linestatus, '^[OF]$') AND l_linestatus IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS regex_errors,
       max(l_quantity) AS max_qty,
       {sql_dsum('l_extendedprice', 'sum_price')}
FROM lineitem
"""


# -- 12. detailed_errors ---------------------------------------------------
def q_detailed_errors(spark, sf):
    """quickErrorDetails parity: failing rows projected onto key columns
    + offending column. Deterministic variant for the oracle: ordered by
    key, first 20 (the runner's own pass uses unordered take, reference
    ValidatorTable.scala:154)."""
    df = load(spark, sf, "lineitem")
    chk = RangeCheck("l_quantity", min_value=2.0, max_value=49.0, inclusive=True)
    return (
        df.where(chk.col_test(df))
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
        .limit(20)
    )


SQL_DETAILED_ERRORS = (
    "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem "
    "WHERE l_quantity < 2.0 OR l_quantity > 49.0 "
    "ORDER BY l_orderkey, l_linenumber LIMIT 20"
)


# -- col_quantiles ---------------------------------------------------------
QUANTILES = (0.25, 0.5, 0.75, 0.95)
_QCOLS = ("l_quantity", "l_extendedprice", "l_discount")


def q_col_quantiles(spark, sf):
    """Exact p25/p50/p75/p95 of three lineitem measures, one row per
    column.

    Runs the bounded multi-pass histogram-refinement selection of
    operators/exact_quantile.py: one fused count/min/max scan, one
    fused per-bucket histogram scan (<= 3x2048 aggregated rows ever
    leave the executors), and one bounded-window selection —
    bit-identical to DuckDB's `quantile_cont` (same
    sorted-linear-interpolation definition, verified in
    tests/test_exact_quantile.py) while holding only bounded state at
    ANY scale, unlike Spark's `percentile` aggregate which buffers the
    whole column into one final merge task (and is ~3x slower here).

    Quantile definition: Spark `percentile` / DuckDB `quantile_cont`
    (the reference's stats second pass —
    src/main/scala/com/target/data_validator/stats — computes stddev
    plus a 10-bin histogram and has no quantile statistic; this
    operator extends that profiling surface, per ADVICE r8). The
    physical strategy is ours."""
    from pyspark.sql.types import DoubleType, StringType, StructField, StructType

    from data_validator_spark.operators.exact_quantile import (
        QuantileSpec,
        exact_quantiles,
    )

    df = load(spark, sf, "lineitem")
    res = exact_quantiles(
        df, [QuantileSpec(c, F.col(c), QUANTILES) for c in _QCOLS]
    )
    rows = [
        (c, *res[c].values)
        for c in sorted(_QCOLS)
    ]
    # every row names its column, so column_name is non-nullable
    schema = StructType(
        [StructField("column_name", StringType(), False)]
        + [StructField(p, DoubleType(), True) for p in ("p25", "p50", "p75", "p95")]
    )
    return spark.createDataFrame(rows, schema)


def _sql_col_quantiles() -> str:
    qlist = "[" + ", ".join(str(q) for q in QUANTILES) + "]"
    aggs = ", ".join(f"quantile_cont({c}, {qlist}) AS {c}" for c in _QCOLS)
    arms = "\nUNION ALL\n".join(
        f"SELECT '{c}' AS column_name, {c}[1] AS p25, {c}[2] AS p50, "
        f"{c}[3] AS p75, {c}[4] AS p95 FROM a"
        for c in _QCOLS
    )
    return f"WITH a AS (SELECT {aggs} FROM lineitem)\n{arms}\nORDER BY column_name"


# -- profile_table ---------------------------------------------------------
_PROFILE_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def q_profile_table(spark, sf):
    """Per-column profiling census — rows/nulls/distincts/min/max for
    every measure column in ONE scan, unpivoted to a row per column.

    The profiling shape data teams run before writing checks: the
    numbers here become the thresholds in the validation config.

    The census fans the four columns out in-row to ``(column_id,
    value)`` pairs and aggregates TWICE: the pair relation collapses
    map-side to one row per distinct value (carrying its
    multiplicity), and every census statistic — row count as
    sum-of-multiplicities, null count from the NULL group's
    multiplicity, exact distinct as the collapsed group count, min and
    max — falls out of the collapsed relation. This replaces the
    countDistinct Expand rewrite (~5x row multiplication through a
    partial agg keyed on ALL distinct columns jointly) with a pair
    stream that collapses per column independently — measured
    1.06→0.77 s at sf0.1, and at any scale the shuffle carries one row
    per distinct value per partition, never a row per input row
    (tests/test_approx_profile.py asserts the Expand-free plan)."""
    df = load(spark, sf, "lineitem")
    arms = [
        F.struct(F.lit(c).alias("column_name"), F.col(c).alias("v"))
        for c in _PROFILE_COLS
    ]
    pairs = df.select(F.explode(F.array(*arms)).alias("s")).select(
        "s.column_name", "s.v"
    )
    collapsed = pairs.groupBy("column_name", "v").agg(F.count(F.lit(1)).alias("n"))
    return (
        collapsed.groupBy("column_name")
        .agg(
            F.sum("n").alias("n_rows"),
            F.coalesce(
                F.sum(F.when(F.col("v").isNull(), F.col("n"))), F.lit(0)
            ).alias("n_nulls"),
            F.sum(F.col("v").isNotNull().cast("long")).alias("n_distinct"),
            F.min("v").alias("min_val"),
            F.max("v").alias("max_val"),
        )
        .orderBy("column_name")
    )


def _sql_profile_table() -> str:
    arms = "\nUNION ALL\n".join(
        f"SELECT '{c}' AS column_name, count(*) AS n_rows,"
        f" count(*) FILTER (WHERE {c} IS NULL) AS n_nulls,"
        f" count(DISTINCT {c}) AS n_distinct,"
        f" min({c}) AS min_val, max({c}) AS max_val FROM lineitem"
        for c in _PROFILE_COLS
    )
    return f"{arms}\nORDER BY column_name"


QUERIES = {
    "row_count": q_row_count,
    "null_check": q_null_check,
    "negative_check": q_negative_check,
    "range_check": q_range_check,
    "string_length_check": q_string_length_check,
    "string_regex_check": q_string_regex_check,
    "column_max_check": q_column_max_check,
    "column_sum_check": q_column_sum_check,
    "unique_check": q_unique_check,
    "col_stats": q_col_stats,
    "col_stats_histogram": q_col_stats_histogram,
    "col_quantiles": q_col_quantiles,
    "profile_table": q_profile_table,
    "combined_single_pass": q_combined_single_pass,
    "detailed_errors": q_detailed_errors,
}

ORACLES = {
    "row_count": SQL_ROW_COUNT,
    "null_check": SQL_NULL_CHECK,
    "negative_check": SQL_NEGATIVE_CHECK,
    "range_check": SQL_RANGE_CHECK,
    "string_length_check": SQL_STRING_LENGTH_CHECK,
    "string_regex_check": SQL_STRING_REGEX_CHECK,
    "column_max_check": SQL_COLUMN_MAX_CHECK,
    "column_sum_check": SQL_COLUMN_SUM_CHECK,
    "unique_check": SQL_UNIQUE_CHECK,
    "col_stats": SQL_COL_STATS,
    "col_stats_histogram": SQL_COL_STATS_HISTOGRAM,
    "col_quantiles": _sql_col_quantiles(),
    "profile_table": _sql_profile_table(),
    "combined_single_pass": SQL_COMBINED_SINGLE_PASS,
    "detailed_errors": SQL_DETAILED_ERRORS,
}
