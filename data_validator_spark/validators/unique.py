"""uniqueCheck: count of key-tuples appearing more than once.

Parity: reference UniqueCheck.scala costlyCheck —
df.select(cols).groupBy(cols).count().where("count > 1").count(),
one job per check.

Here all uniqueChecks of a table share ONE job, whatever the width of
their column union. Each row is emitted once per distinct column set
``g``, as ``(gid = g, k₁ … kₙ)`` over the union of the key columns,
with NULL in the keys the set does not have. The rows are grouped on
``(gid, k₁ … kₙ)``, and one global aggregate counts, per ``gid``, the
groups with count > 1. The runner links a table's checks to one
``DuplicateKeyCounts`` (``share_duplicate_counts``): the first
``costly_check`` runs the job, the others read its result. A check on
its own is a table with one column set.

A small table's job has one exchange. When the key columns' estimated
bytes, times the number of column sets, fit in one advisory partition
(``spark.sql.adaptive.advisoryPartitionSizeInBytes``,
``_fits_one_partition``), the rows go through ``repartition(1, …)``:
each map task writes one shuffle file, not one per
``spark.sql.shuffle.partitions``, and the group count and the global
count both run in that one partition. The trade: there is no map-side
partial count, so every emitted row crosses the exchange. On unique
keys a partial count collapses nothing; on a key with many duplicate
rows more rows are shuffled, and one task counts them all.

A larger table, or a source without size statistics (jdbc, an
in-memory frame), keeps Spark's own plan: a partial count, an exchange
that AQE coalesces from the actual map output, and a second exchange
for the global count. No session conf is set for any of this:
``run_config`` runs many jobs on one session at once.
"""

from __future__ import annotations

from typing import Any, Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_validator_spark.events import ValidatorError, ValidatorGood, ValidatorTimer
from data_validator_spark.validators.base import CostlyCheck


def _fits_one_partition(df: DataFrame, copies: int) -> bool:
    """Whether ``copies`` times the estimated bytes of ``df`` fit in one
    advisory partition. A source without size statistics does not: its
    estimate is ``spark.sql.defaultSizeInBytes``, Long.MaxValue."""
    jvm, conf = df.sparkSession._jvm, df.sparkSession.conf
    advisory = jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    )
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    return size * copies <= advisory


def duplicate_key_counts(
    df: DataFrame, column_sets: Sequence[Sequence[str]]
) -> dict[frozenset[str], int]:
    """Number of key-tuples occurring more than once, per column set.

    Sets are keyed, and deduplicated, by their columns: order and
    repeats within a set do not change its groups. One query for all sets.
    """
    sets = list(dict.fromkeys(frozenset(cols) for cols in column_sets))
    names = list(dict.fromkeys(c for cols in column_sets for c in cols))
    ks = [f"k{i}" for i in range(len(names))]
    arms = [
        F.struct(
            F.lit(g).alias("gid"),
            # a key the set lacks is a NULL of the column's type
            *[F.when(F.lit(c in s), F.col(c)).alias(k) for c, k in zip(names, ks)],
        )
        for g, s in enumerate(sets)
    ]
    rows, by = df.select(F.inline(F.array(*arms))), ["gid", *ks]
    # sized from the key columns: Spark's estimate for the inline frame
    # is not multiplied by the rows each input row emits
    if _fits_one_partition(df.select(*names), len(sets)):
        rows = rows.repartition(1, *by)
    groups = rows.groupBy(*by).count()
    row = groups.agg(
        *[F.count_if((F.col("gid") == g) & (F.col("count") > 1)) for g in range(len(sets))]
    ).collect()[0]
    return {s: int(v) for s, v in zip(sets, row)}


class DuplicateKeyCounts:
    """The duplicate-key counts of a table's uniqueChecks, computed for
    all of them on the first ``get``."""

    def __init__(self, column_sets: Sequence[Sequence[str]]):
        self.column_sets = list(column_sets)
        self._counts: Optional[dict[frozenset[str], int]] = None

    def get(self, df: DataFrame, columns: Sequence[str]) -> int:
        if self._counts is None:
            self._counts = duplicate_key_counts(df, self.column_sets)
        return self._counts[frozenset(columns)]


def share_duplicate_counts(checks: Sequence["UniqueCheck"]) -> None:
    """Make ``checks`` (one table's uniqueChecks) read one job's counts."""
    shared = DuplicateKeyCounts([c.columns for c in checks])
    for c in checks:
        c.counts = shared


class UniqueCheck(CostlyCheck):
    check_type = "uniqueCheck"

    def __init__(self, columns: Any):
        super().__init__()
        # kept as given when not a list, so config_check can reject it
        self.columns = list(columns) if isinstance(columns, (list, tuple)) else columns
        self.counts: Optional[DuplicateKeyCounts] = None

    def config_check(self, df: DataFrame) -> bool:
        if (
            not isinstance(self.columns, list)
            or not self.columns
            or not all(isinstance(c, str) for c in self.columns)
        ):
            self.add_event(
                ValidatorError(f"columns must be a non-empty list of column names: {self.columns!r}")
            )
            return self.failed
        for c in self.columns:
            self.column_in_df(df, c)
        return self.failed

    def costly_check(self, df: DataFrame) -> bool:
        counts = self.counts or DuplicateKeyCounts([self.columns])
        timer = ValidatorTimer(f"UniqueCheck({self.columns})")
        with timer:
            dup_keys = counts.get(df, self.columns)
        self.add_event(timer)
        if dup_keys > 0:
            self.add_event(ValidatorError(f"{dup_keys} duplicates found!"))
        else:
            self.add_event(ValidatorGood("no duplicates found."))
        return self.failed

    def report_fields(self) -> dict:
        return {"columns": self.columns}
