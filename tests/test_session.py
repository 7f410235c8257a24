"""One session builder (data_validator_spark/session.py).

The sorted-bucket-scan recognition conf is an engine invariant (the
copy program writes one sorted file per bucket at every SF); a session
built without it silently pays the per-task SMJ Sorts back. These tests
pin one home for session construction, used by every entry point and
by the test suite's own session.
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
    """Repo-wide pin: no tracked .py outside session.py (and the
    separately-owned perfbench/) builds a session by hand or inlines an
    engine conf: build_session is the one builder that both applies the
    engine confs and re-asserts them on a reused session."""
    import re
    import subprocess

    tracked = subprocess.run(
        ["git", "-C", REPO, "ls-files", "*.py"],
        capture_output=True, text=True, check=True,
    ).stdout.split()
    by_hand = re.compile(r"SparkSession\s*\.\s*builder")
    inlined = re.compile(
        r"(?:\.config|conf\.set)\(\s*[\"'](?:"
        + "|".join(re.escape(k) for k in ENGINE_CONFS)
        + r")[\"']"
    )
    offenders = []
    for rel in tracked:
        if rel == "data_validator_spark/session.py" or rel.startswith("perfbench/"):
            continue
        src = open(os.path.join(REPO, rel)).read()
        if by_hand.search(src):
            offenders.append(f"{rel}: builds its own session")
        if inlined.search(src):
            offenders.append(f"{rel}: engine conf inlined")
    assert not offenders, (
        "build sessions through data_validator_spark/session.py "
        f"(build_session / local_session): {offenders}"
    )


def test_spark_fixture_runs_the_engine_confs(spark):
    """Tier-1 tests run the engine the entry points ship: the session
    fixture carries every ENGINE_CONFS value."""
    got = {k: spark.conf.get(k) for k in ENGINE_CONFS}
    assert got == ENGINE_CONFS


def test_no_engine_switches():
    """Repo-wide pin: no tracked .py under data_validator_spark/ names
    a `spark.data_validator.*` conf. Each operator has one code path,
    or picks its path from its input (the ccnet size gate), never from
    a user-set switch."""
    import subprocess

    tracked = subprocess.run(
        ["git", "-C", REPO, "ls-files", "data_validator_spark/*.py"],
        capture_output=True, text=True, check=True,
    ).stdout.split()
    offenders = [
        rel
        for rel in tracked
        if "spark.data_validator." in open(os.path.join(REPO, rel)).read()
    ]
    assert not offenders, f"engine switch conf read in: {offenders}"
