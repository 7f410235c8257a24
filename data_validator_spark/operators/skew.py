"""Skew-resistant aggregation helpers (SURVEY §4).

AQE's skew-join splitting handles skewed JOINs at runtime, but a
groupBy whose reduction state is large (collect_list/set, exact
distinct counts) can still hot-spot one reducer when a handful of keys
dominate. The standard fix is salting: aggregate on (key, salt) first
— spreading each hot key over N reducers — then merge the partials on
the key alone. Counts/sums are associative so the two-stage result is
exactly the unsalted one.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_SALT_BUCKETS = 16


def with_salt(df: DataFrame, buckets: int = DEFAULT_SALT_BUCKETS) -> DataFrame:
    """Uniform random-ish salt derived from the whole row (stable for a
    given row, no RNG — keeps retries/oracles deterministic)."""
    return df.withColumn("_salt", F.pmod(F.xxhash64(*df.columns), F.lit(buckets)))


def salted_count_by_key(
    df: DataFrame, keys: Sequence[str], buckets: int = DEFAULT_SALT_BUCKETS
) -> DataFrame:
    """groupBy(keys).count() as a two-stage salted aggregation.

    Stage 1 shuffles on (keys, salt) — a hot key spreads over
    `buckets` reducers; stage 2 merges the at-most-`buckets` partial
    rows per key. Identical result to the direct groupBy."""
    partial = (
        with_salt(df, buckets)
        .groupBy(*keys, "_salt")
        .agg(F.count(F.lit(1)).alias("_partial"))
    )
    return partial.groupBy(*keys).agg(F.sum("_partial").alias("count"))

