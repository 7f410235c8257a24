"""uniqueCheck: count of key-tuples appearing more than once.

Parity: reference UniqueCheck.scala costlyCheck —
df.select(cols).groupBy(cols).count().where("count > 1").count(),
one job per check.

Here all uniqueChecks of a table share ONE job: a scan, then
``GROUP BY GROUPING SETS ((cols₁), (cols₂), …)`` with ``grouping_id()``
and ``count(1)``, then one global aggregate that counts, per grouping
id, the groups with count > 1. That is one scan and one hash shuffle
per table instead of one of each per check. The Expand emits each row
once per distinct column set, so the shuffle carries the union of the
key columns. The runner links a table's checks to one
``DuplicateKeyCounts`` (``share_duplicate_counts``): the first
``costly_check`` runs the job, the others read its result. A check on
its own is a table with one grouping set.

Scale: partial (map-side) counting collapses duplicates before the
shuffle, and AQE coalesces or splits skewed partitions at runtime.
"""

from __future__ import annotations

from typing import Any, Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_validator_spark.events import ValidatorError, ValidatorGood, ValidatorTimer
from data_validator_spark.validators.base import CostlyCheck

# grouping_id() is a 64-bit mask, so Spark allows at most 64 grouping columns.
MAX_GROUPING_COLUMNS = 64


def _packs(column_sets: list[list[str]]) -> list[list[list[str]]]:
    """Consecutive sets share a job while their union of columns fits
    in grouping_id(); a set wider than that gets a job of its own."""
    packs: list[list[list[str]]] = []
    union: set[str] = set()
    for s in column_sets:
        if packs and len(union.union(s)) <= MAX_GROUPING_COLUMNS:
            packs[-1].append(s)
            union.update(s)
        else:
            packs.append([s])
            union = set(s)
    return packs


def _pack_counts(df: DataFrame, pack: list[list[str]]) -> list[int]:
    """Duplicate-key count of each set in ``pack``, in one Spark job."""
    names = list(dict.fromkeys(c for s in pack for c in s))
    if len(names) > MAX_GROUPING_COLUMNS:  # one set, too wide for grouping_id()
        keys, members = [F.struct(*names)], [[0]]
    else:
        keys, members = [F.col(c) for c in names], [[names.index(c) for c in s] for s in pack]
    ks = [f"k{i}" for i in range(len(keys))]
    grouped = (
        df.select(*[k.alias(a) for k, a in zip(keys, ks)])
        .groupingSets([[ks[i] for i in m] for m in members], *ks)
        .agg(F.grouping_id().alias("gid"), F.count(F.lit(1)).alias("n"))
    )
    # grouping_id() sets bit (len(ks) - 1 - i) when key i is not in the set
    gids = [sum(1 << (len(ks) - 1 - i) for i in range(len(ks)) if i not in m) for m in members]
    row = grouped.agg(*[F.count_if((F.col("gid") == g) & (F.col("n") > 1)) for g in gids]).collect()[0]
    return [int(v) for v in row]


def duplicate_key_counts(
    df: DataFrame, column_sets: Sequence[Sequence[str]]
) -> dict[frozenset[str], int]:
    """Number of key-tuples occurring more than once, per column set.

    Sets are keyed, and deduplicated, by their columns: order and
    repeats within a set do not change its groups, and Spark would
    count a repeated grouping set twice. One job per pack of at most
    64 distinct columns.
    """
    distinct: dict[frozenset[str], list[str]] = {}
    for cols in column_sets:
        distinct.setdefault(frozenset(cols), list(dict.fromkeys(cols)))
    counts: dict[frozenset[str], int] = {}
    for pack in _packs(list(distinct.values())):
        counts.update(zip((frozenset(s) for s in pack), _pack_counts(df, pack)))
    return counts


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
