"""The one place a Spark session is built, shared by every entry point
(cli, pipeline runner, bench, the tools under tools/, the test suite).

``build_session`` applies ``ENGINE_CONFS`` on the builder and again on
the live session, because ``getOrCreate`` does not reliably apply
builder confs to a session that is already running (under spark-submit,
in tests): static confs never, runtime SQL confs only where the Spark
version and mode re-apply them.  Every conf in ``ENGINE_CONFS`` is a
runtime SQL conf, effective at next planning.

``apply_engine_confs``, which perfbench's worker calls too, also starts
the driver JVM from the host's class-data-sharing archive when there is
one, and otherwise has the process build it at exit (class_archive.py).
"""

from __future__ import annotations

import os

from data_validator_spark import class_archive

# Conf -> value required by the engine's storage layout or arithmetic.
# Keep this to invariants the engine relies on at any scale; tuning
# knobs (shuffle partitions, memory) are the caller's ``confs`` or
# local_session's.
ENGINE_CONFS: dict[str, str] = {
    # Every bucketed table is written sorted on its bucket key, one file
    # per bucket (operators/bucketing.write_bucketed). Spark only
    # recognizes that order, and drops the per-task Sorts from
    # colocated SortMergeJoins, with this conf on (off by default since
    # Spark 3.0). Without it a bucketed join pays two in-memory sorts
    # (q7 plan: 5 Sort nodes -> 7).
    "spark.sql.legacy.bucketedTableScan.outputOrdering": "true",
    # Already the Spark 4 default; pinned so a cluster-level override
    # cannot turn an over-range decimal cast (queries.dsum) into a NULL
    # that the sum silently skips.
    "spark.sql.ansi.enabled": "true",
}


def apply_engine_confs(builder):
    """Fold the engine confs into a SparkSession.Builder (chainable),
    and start its driver JVM from the host's class archive when there
    is one (``class_archive.apply``)."""
    for k, v in ENGINE_CONFS.items():
        builder = builder.config(k, v)
    return class_archive.apply(builder)


def ensure_engine_confs(spark) -> None:
    """Set the engine confs on a live session."""
    for k, v in ENGINE_CONFS.items():
        spark.conf.set(k, v)


def build_session(app: str, master: str | None = None, confs: dict | None = None):
    """getOrCreate a session named ``app`` with ``confs`` plus the
    engine confs, and make sure the engine confs hold on it even when an
    already-running session is returned."""
    from pyspark.sql import SparkSession

    builder = SparkSession.builder.appName(app)
    if master:
        builder = builder.master(master)
    for k, v in (confs or {}).items():
        builder = builder.config(k, v)
    spark = apply_engine_confs(builder).getOrCreate()
    ensure_engine_confs(spark)
    return spark


def local_cpus() -> int:
    """$SPARK_GRAFT_CPUS, else the cores this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def local_session(app: str):
    """The session of the measurement and proof tools (bench, probe,
    plan_audit, dump_plans, oracle_check): local[local_cpus()], at
    least 8 shuffle partitions, driver memory $SPARK_GRAFT_DRIVER_MEM
    (default 16g), log level ERROR."""
    cpus = local_cpus()
    spark = build_session(
        app,
        f"local[{cpus}]",
        {
            "spark.sql.shuffle.partitions": str(max(cpus, 8)),
            "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark
