"""Table runner: executes all checks of a table with minimal scans.

Parity: reference ValidatorTable.scala —
  1. configCheck: opens the table once (a schema read, plus the
     `condition` WHERE); every later phase reuses that DataFrame,
  2. quickChecks: ONE aggregation job fusing count(1) plus every
     cheap check's aggregate expressions (ValidatorTable.quickChecks),
  3. optional colstats second pass (histogram bins need pass-1
     min/max; SecondPassStatsAggregator parity),
  4. detailed-errors pass sampling failing rows projected onto key
     columns (ValidatorTable.quickErrorDetails),
  5. costly checks: every uniqueCheck of the table in ONE job (one
     scan emitting each row once per column set; a small table's rows
     go through one single-partition exchange with no map-side partial
     count, a larger one's through Spark's own partial count and
     exchange; validators/unique.py), where the reference runs one job
     per check.

What runs at the same time (``run_config``): every table's configCheck
at once; then, once all of them have finished and passed, every
table's two chains at once — the quick chain (phases 2, 3 and 4, in
that order) and the costly chain (phase 5). No data is read before
every configCheck is done, and within a chain each phase waits for the
one before it. The jobs are submitted from a bounded pool of driver
threads that inherit the caller's Spark local properties, into Spark's
default FIFO scheduler: a later job's tasks take the slots an earlier
job leaves free. The report does not depend on which chain ends first.

Scale notes (100 TB): the fused pass is a single scan → one global
aggregate with map-side partials and no groupBy shuffle; `condition`
is applied pre-agg so parquet gets PushedFilters; only referenced
columns appear in expressions so ReadSchema prunes. The
detailed-error pass filters on the OR of failing tests and uses
`limit`, which Spark executes as an early-out CollectLimit.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor, wait
from functools import partial
from typing import Any, Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.util import inheritable_thread_target

from data_validator_spark.events import (
    QuickCheckError,
    ValidatorCounter,
    ValidatorError,
    ValidatorEvent,
    ValidatorGood,
    ValidatorTimer,
)
from data_validator_spark.sources import TableSource
from data_validator_spark.validators.base import (
    CheapCheck,
    Check,
    CostlyCheck,
    RowBasedCheck,
    run_cheap_checks,
)
from data_validator_spark.validators.colstats import ColStats
from data_validator_spark.validators.unique import UniqueCheck, share_duplicate_counts


class ValidatorTableRunner:
    def __init__(
        self,
        source: TableSource,
        checks: list[Check],
        num_key_cols: int = 2,
        num_errors_to_report: int = 5,
        detailed_errors: bool = True,
    ):
        self.source = source
        self.checks = checks
        self.num_key_cols = num_key_cols
        self.num_errors_to_report = num_errors_to_report
        self.detailed_errors = detailed_errors
        self.events: list[ValidatorEvent] = []
        self._df: Optional[DataFrame] = None

    @property
    def failed(self) -> bool:
        return any(e.failed for e in self.events) or any(c.failed for c in self.checks)

    def add_event(self, ev: ValidatorEvent) -> None:
        self.events.append(ev)

    def _open(self, spark: SparkSession) -> DataFrame:
        """The table, opened on first use and shared by every phase."""
        if self._df is None:
            self._df = self.source.open(spark)
        return self._df

    # -- phase 1: config ----------------------------------------------------
    def config_check(self, spark: SparkSession) -> bool:
        timer = ValidatorTimer(f"configCheck for {self.source.label}")
        with timer:
            try:
                df = self._open(spark)
            except Exception as e:  # table missing / unreadable
                self.add_event(ValidatorError(f"Failed to open table '{self.source.label}': {e}"))
                return True
            error = self._check_key_cols(df)
            for c in self.checks:
                error = c.config_check(df) or error
        self.add_event(timer)
        if error:
            self.add_event(ValidatorError(f"ConfigCheck failed for {self.source.label}"))
        else:
            self.add_event(ValidatorGood(f"ConfigCheck for {self.source.label}"))
        return error

    def _check_key_cols(self, df: DataFrame) -> bool:
        err = False
        for c in self.source.key_columns or []:
            if c not in df.columns:
                self.add_event(ValidatorError(f"KeyColumn '{c}' is not a column in {self.source.label}"))
                err = True
        return err

    def key_select(self, df: DataFrame) -> list[str]:
        """Parity: ValidatorTable.createKeySelect — explicit keyColumns
        or the first numKeyCols columns."""
        return self.source.key_columns or list(df.columns[: self.num_key_cols])

    # -- phase 2+3: fused quick checks ---------------------------------------
    def quick_checks(self, spark: SparkSession) -> bool:
        df = self._open(spark)
        cheap = [c for c in self.checks if isinstance(c, CheapCheck)]
        if not cheap:
            return False

        timer = ValidatorTimer(f"{self.source.label}: quickCheck timer")
        with timer:
            count, failed = run_cheap_checks(df, cheap)
        self.add_event(timer)
        self.add_event(ValidatorCounter(f"RowCount for {self.source.label}", count))

        # colstats histogram second pass — all colstats checks share ONE scan
        second = [c for c in cheap if isinstance(c, ColStats) and c.needs_second_pass()]
        if second:
            hist_aggs = [e for c in second for e in c.histogram_exprs()]
            t2 = ValidatorTimer(f"{self.source.label}: colstats second pass")
            with t2:
                hrow = df.agg(*hist_aggs).collect()[0].asDict()
            self.add_event(t2)
            for c in second:
                c.sink_histogram(hrow)

        if failed:
            # cheap checks only: the costly chain may have failed a
            # uniqueCheck already, and this message does not depend on it
            bad = ", ".join(c.describe() for c in cheap if c.failed)
            self.add_event(ValidatorError(f"QuickChecks on {self.source.label} failed for {bad}"))
            if self.detailed_errors:
                self._quick_error_details(df)
        return failed

    # -- phase 4: detailed errors --------------------------------------------
    def _quick_error_details(self, df: DataFrame) -> None:
        """ONE filtered pass for all failed row-based checks.

        Parity: ValidatorTable.quickErrorDetails
        (ValidatorTable.scala:154-178) — select keyColumns + every
        failed check's column, filter on the OR of the failed col-tests,
        single take(numErrorsToReport), then report each sampled row
        under each failed check. At 100 TB this is one early-out scan
        instead of one scan per failed check.
        """
        key_cols = self.key_select(df)
        failed_checks = [
            c
            for c in self.checks
            if c.failed and isinstance(c, RowBasedCheck) and c.column in df.columns
        ]
        if not failed_checks:
            return

        cond = failed_checks[0].col_test(df)
        for chk in failed_checks[1:]:
            cond = cond | chk.col_test(df)
        sel = key_cols + [c.column for c in failed_checks]

        timer = ValidatorTimer(f"quickErrorDetails for {self.source.label}")
        with timer:
            rows = df.select(*sel).where(cond).take(self.num_errors_to_report)
        self.add_event(timer)

        nk = len(key_cols)
        for r in rows:
            key = {k: r[i] for i, k in enumerate(key_cols)}
            for i, chk in enumerate(failed_checks):
                val = r[nk + i]
                chk.add_event(
                    QuickCheckError(key, val, f"{chk.check_type} failed! {chk.column} = {val}")
                )

    # -- phase 5: costly checks ----------------------------------------------
    def costly_checks(self, spark: SparkSession) -> bool:
        df = self._open(spark)
        share_duplicate_counts([c for c in self.checks if isinstance(c, UniqueCheck)])
        failed = False
        for c in self.checks:
            if isinstance(c, CostlyCheck):
                failed = c.costly_check(df) or failed
        return failed

    def to_dict(self) -> dict[str, Any]:
        return {
            # source-specific identity keys first (reference tableEncoder
            # emits parquetFile/orcFile/db+table/format, not a label)
            **self.source.json_identity(),
            "table": self.source.label,  # additive: readable label
            "failed": self.failed,
            "keyColumns": self.source.key_columns,
            "condition": self.source.condition,
            "checks": [c.to_dict() for c in self.checks],
            "events": [e.to_dict() for e in self.events],
        }


# Driver threads per run_config: two per table (its quick chain and its
# costly chain), at most 8. A thread only submits Spark jobs and waits
# for them, and the quick-check phase keeps the executors busy only ~6%
# of its wall time, so overlapping chains fills idle task slots. 8 runs
# a 4-table config fully overlapped; past that, jobs of a few-core
# session queue for the same task slots, and each thread is one more
# Py4J connection and JVM thread.
MAX_THREADS = 8


def _run_at_once(
    spark: SparkSession, pool: ThreadPoolExecutor, calls: list[Callable[[], Any]]
) -> list[Any]:
    """Run every call on ``pool`` at the same time, each with the
    caller's Spark local properties (job group, description) and tags.
    Waits for all of them, then returns their results in call order, or
    re-raises the exception of the first call (in call order) that
    raised. No job a call started outlives this function."""
    futures = [pool.submit(inheritable_thread_target(spark)(call)) for call in calls]
    wait(futures)
    return [f.result() for f in futures]


def run_config(spark: SparkSession, config: "ValidatorConfig") -> dict[str, Any]:
    """Run every table in a parsed config; returns the report dict.

    Parity: reference Main.scala phase ordering — configCheck for ALL
    tables first, and a failure in ANY table is fatal (skips the data
    phases entirely, still emitting the report). Then every table's
    quick chain and costly chain run at the same time (module
    docstring); each check's and each runner's events come out in the
    order of the reference's sequential run.
    """
    from data_validator_spark import report as report_mod

    runners = config.build_runners()
    with ThreadPoolExecutor(max_workers=max(1, min(2 * len(runners), MAX_THREADS))) as pool:
        checks = [partial(r.config_check, spark) for r in runners]
        if not any(_run_at_once(spark, pool, checks)):
            chains = [partial(f, spark) for r in runners for f in (r.quick_checks, r.costly_checks)]
            _run_at_once(spark, pool, chains)
    return report_mod.build_report(config, runners, any(r.failed for r in runners), spark)


from data_validator_spark.config import ValidatorConfig  # noqa: E402  (cycle: config builds runners)
