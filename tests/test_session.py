"""Engine session-conf homing (r18 verdict item 1).

The sorted-bucket-scan recognition conf is an engine invariant (the
copy program writes one sorted file per bucket at every SF); r18 set it
only in bench.py/tools, so production cli/pipeline sessions paid the
per-task SMJ Sorts back. These tests pin the r19 fix: one shared home
(data_validator_spark/session.py) applied by every entry point.
"""

from __future__ import annotations

import os

from data_validator_spark.session import (
    ENGINE_CONFS,
    apply_engine_confs,
    ensure_engine_confs,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_engine_confs_contain_sorted_bucket_scan_recognition():
    assert (
        ENGINE_CONFS["spark.sql.legacy.bucketedTableScan.outputOrdering"] == "true"
    )


def test_engine_confs_pin_ansi_mode():
    """dsum's overflow contract: an over-range decimal cast must throw,
    never become a NULL the sum skips."""
    assert ENGINE_CONFS["spark.sql.ansi.enabled"] == "true"


def test_apply_engine_confs_folds_into_builder():
    class FakeBuilder:
        def __init__(self):
            self.confs = {}

        def config(self, k, v):
            self.confs[k] = v
            return self

    b = FakeBuilder()
    out = apply_engine_confs(b)
    assert out is b
    assert b.confs == ENGINE_CONFS


def test_ensure_engine_confs_sets_live_session(spark):
    conf = "spark.sql.legacy.bucketedTableScan.outputOrdering"
    old = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "false")
        ensure_engine_confs(spark)
        assert spark.conf.get(conf) == "true"
    finally:
        spark.conf.set(conf, old)


def test_every_entry_point_routes_through_the_helper():
    """Source-level pin: each session-building entry point must call
    ensure_engine_confs (builder-side apply_engine_confs alone is not
    enough — getOrCreate ignores builder confs on session reuse)."""
    entry_points = [
        "data_validator_spark/cli.py",
        "data_validator_spark/pipeline.py",
        "bench.py",
        "tools/plan_audit.py",
        "tools/dump_plans.py",
    ]
    for rel in entry_points:
        src = open(os.path.join(REPO, rel)).read()
        assert "ensure_engine_confs" in src, (
            f"{rel} builds a Spark session without the engine confs "
            f"(data_validator_spark/session.py)"
        )
        # nobody should re-inline the conf beside the helper
        assert "bucketedTableScan.outputOrdering" not in src, (
            f"{rel}: conf inlined instead of homed in session.py"
        )
