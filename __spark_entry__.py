"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash; past results are history/CORRECTNESS_r*.json).

The real registry lives in ``data_validator_spark.queries`` — one
entry per SURVEY.md §2 operator, each with a DuckDB oracle unless the
operator is genuinely non-SQL-expressible (multimodal mapInPandas).
Registry order carries no meaning: it is the order of the modules in
``build_registry``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from data_validator_spark.queries import build_registry

_QUERIES, _ORACLES = build_registry()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the fused single-pass
    validator scan over lineitem (SURVEY §2 row 11)."""
    from data_validator_spark.queries.validator_queries import q_combined_single_pass

    return q_combined_single_pass(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each SQL-expressible query."""
    return dict(_ORACLES)
