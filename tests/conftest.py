"""Shared fixtures. Session-scoped SparkSession on local[4]
(SURVEY §5), UTC, small shuffle partitions for speed, built by
session.build_session so every test runs with the engine confs the
entry points ship."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from data_validator_spark.session import build_session  # noqa: E402
from data_validator_spark.sources import TableSource  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = build_session(
        "data-validator-spark-tests",
        "local[4]",
        {
            "spark.sql.shuffle.partitions": "8",
            "spark.sql.session.timeZone": "UTC",
            "spark.ui.enabled": "false",
        },
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session", autouse=True)
def _sweep_tmp_path_copies():
    """At session end, delete at-rest copies built for pytest tmp_path
    sources (their tags embed the per-run tmp directory, so they can
    never be re-served and would otherwise accumulate in
    spark-warehouse/ forever — observed 148 MB of orphans after a few
    rounds). Copies for the real testdata SFs are deliberately KEPT:
    cross-session reuse is part of their design."""
    yield
    import glob
    import shutil

    root = Path(__file__).resolve().parent.parent
    for pat in ("dv_bkt_*tmp_pytest*", "dv_dedup_*tmp_pytest*"):
        for p in glob.glob(str(root / "spark-warehouse" / pat)):
            shutil.rmtree(p, ignore_errors=True)


@pytest.fixture
def fact_buckets_at_cap(monkeypatch):
    """Lay every copy out at the cap (FACT_BUCKETS), the count
    operators/bucketing.dataset_buckets gives a dataset whose largest
    table is 128 MB or more: for tests of many-bucket layouts on small
    data. Pins the rule in both modules that call it."""
    from data_validator_spark.operators import bucketing
    from data_validator_spark.queries import tpch_ext

    for mod in (bucketing, tpch_ext):
        monkeypatch.setattr(mod, "dataset_buckets", lambda spark, sf: bucketing.FACT_BUCKETS)


class DFSource(TableSource):
    """In-memory source for runner tests (no files needed)."""

    def __init__(self, df, **kw):
        super().__init__(**kw)
        self._df = df

    def load_df(self, spark):
        return self._df

    @property
    def label(self) -> str:
        return "test_df"
