"""Runner orchestration: single-pass fusion, the one-scan detailed
errors pass, uniqueCheck, run_config fatal semantics, and the overlap
of independent phases. Mirrors reference ValidatorTableSpec / Main
fatal handling."""

from __future__ import annotations

import ast
import json
import re
import threading
import time
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from data_validator_spark import runner as runner_mod
from data_validator_spark.config import TableConfig, ValidatorConfig
from data_validator_spark.events import QuickCheckError, ValidatorError, ValidatorGood
from data_validator_spark.report import build_report, report_json
from data_validator_spark.runner import ValidatorTableRunner, run_config
from data_validator_spark.validators import unique as unique_mod
from data_validator_spark.validators.colstats import ColStats
from data_validator_spark.validators.row_based import NegativeCheck, NullCheck, RangeCheck
from data_validator_spark.validators.unique import UniqueCheck

from .conftest import DFSource


@pytest.fixture(scope="module")
def tdf(spark):
    rows = [
        (1, 1, 10.0, None),
        (2, 1, -4.0, "b"),
        (3, 2, 99.0, "c"),
        (4, 2, -1.0, None),
        (1, 1, 3.0, "e"),  # duplicate (k1,k2)
    ]
    return spark.createDataFrame(rows, "k1 int, k2 int, v double, s string")


class count_jobs:
    """Count Spark jobs for a block. AQE is disabled inside (it splits
    one action into one job per query stage, hiding the actions-per-
    table design this asserts)."""

    def __init__(self, spark, group):
        self.spark, self.group = spark, group

    def __enter__(self):
        self._aqe = self.spark.conf.get("spark.sql.adaptive.enabled", "true")
        self.spark.conf.set("spark.sql.adaptive.enabled", "false")
        self.spark.sparkContext.setJobGroup(self.group, self.group, False)
        return self

    def __exit__(self, *exc):
        self.spark.sparkContext.setJobGroup(None, None, False)
        self.spark.conf.set("spark.sql.adaptive.enabled", self._aqe)

    @property
    def n(self):
        return len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(self.group))


def test_quick_checks_fuse_into_one_job(spark, tdf):
    """N cheap checks (no colstats) → exactly ONE Spark job."""
    runner = ValidatorTableRunner(
        DFSource(tdf.coalesce(1), key_columns=["k1", "k2"]),
        [NullCheck("s"), NegativeCheck("v"), RangeCheck("v", 0.0, 100.0, inclusive=True)],
        detailed_errors=False,
    )
    with count_jobs(spark, "fusion-test") as cj:
        runner.quick_checks(spark)
    assert cj.n == 1, f"expected 1 fused job, saw {cj.n}"


def test_colstats_second_pass_is_one_extra_job(spark, tdf):
    runner = ValidatorTableRunner(
        DFSource(tdf.coalesce(1)),
        [ColStats("v"), ColStats("k1"), NullCheck("s")],
        detailed_errors=False,
    )
    with count_jobs(spark, "colstats-test") as cj:
        runner.quick_checks(spark)
    assert cj.n == 2, "fused pass + ONE shared histogram pass"


def test_detailed_errors_single_or_pass(spark, tdf):
    """Two failed checks → ONE extra scan; every sampled row reported
    under every failed check (reference quickErrorDetails parity)."""
    nullc, negc = NullCheck("s"), NegativeCheck("v")
    runner = ValidatorTableRunner(
        DFSource(tdf.coalesce(1), key_columns=["k1", "k2"]),
        [nullc, negc],
        num_errors_to_report=10,
        detailed_errors=True,
    )
    with count_jobs(spark, "detail-test") as cj:
        assert runner.quick_checks(spark) is True
    assert cj.n == 2, f"fused pass + ONE detailed-errors pass, saw {cj.n}"

    # 3 rows fail (s null OR v<0): each sampled row is reported under
    # BOTH failed checks, keys projected
    null_errors = [e for e in nullc.events if isinstance(e, QuickCheckError)]
    neg_errors = [e for e in negc.events if isinstance(e, QuickCheckError)]
    assert len(null_errors) == len(neg_errors) == 3
    assert set(null_errors[0].key) == {"k1", "k2"}


def test_detailed_errors_respects_num_errors_to_report(spark, tdf):
    nullc = NullCheck("s")
    runner = ValidatorTableRunner(
        DFSource(tdf), [nullc], num_errors_to_report=1, detailed_errors=True
    )
    runner.quick_checks(spark)
    assert len([e for e in nullc.events if isinstance(e, QuickCheckError)]) == 1


def test_unique_check_finds_duplicates(spark, tdf):
    chk = UniqueCheck(["k1", "k2"])
    runner = ValidatorTableRunner(DFSource(tdf), [chk])
    assert runner.costly_checks(spark) is True


def test_unique_check_passes_on_unique_keys(spark, tdf):
    chk = UniqueCheck(["k1", "k2", "v"])
    runner = ValidatorTableRunner(DFSource(tdf), [chk])
    assert runner.costly_checks(spark) is False


@pytest.fixture(scope="module")
def keys_df(spark):
    """A unique `id` and 70 int columns with NULLs; rows with id < 100
    come in identical pairs, the last 20 rows are unique."""
    base = F.when(F.col("id") < 100, F.col("id") % 50).otherwise(F.col("id"))
    cols = [
        F.when((base + i) % 7 == 0, None).otherwise((base * (i + 1)) % (5 + i)).alias(f"c{i}")
        for i in range(70)
    ]
    return spark.range(120).select("id", *cols)


WIDE = [f"c{i}" for i in range(70)]


@pytest.mark.parametrize(
    "column_sets",
    [
        pytest.param([["c0"], ["c6", "c1"]], id="null_keys"),
        pytest.param([["c0"], ["c0", "c1"], ["c1", "c2", "c3"], ["id", "c0"]], id="nested_overlapping"),
        pytest.param([["c1", "c1"], ["c1", "c2"]], id="repeated_column"),
        pytest.param([["c3", "c4"]], id="single_check"),
        pytest.param([["c1", "c2"], ["c2", "c1"], ["c2"]], id="same_columns_reordered"),
        pytest.param([WIDE[:40], WIDE[30:], ["c5"]], id="union_over_64_columns"),
        pytest.param([WIDE, ["id"]], id="one_set_over_64_columns"),
    ],
)
def test_fused_unique_counts_equal_per_check_form(spark, keys_df, column_sets):
    """All uniqueChecks of a table run as one job; each check reports
    the count of the reference's per-check job."""
    checks = [UniqueCheck(cols) for cols in column_sets]
    ValidatorTableRunner(DFSource(keys_df), checks).costly_checks(spark)
    for chk, cols in zip(checks, column_sets):
        expected = (
            keys_df.select(*cols).groupBy(*cols).count().where(F.col("count") > 1).count()
        )
        [ev] = [e for e in chk.events if isinstance(e, (ValidatorError, ValidatorGood))]
        if expected:
            assert ev.message == f"{expected} duplicates found!", cols
        else:
            assert ev.message == "no duplicates found.", cols


def test_unique_checks_of_a_table_share_one_job(spark, tdf):
    """Two uniqueChecks start no more Spark jobs than one."""
    counts = []
    for n in (1, 2):
        checks = [UniqueCheck(["k1", "k2"]), UniqueCheck(["k2", "s"])][:n]
        runner = ValidatorTableRunner(DFSource(tdf), checks)
        with count_jobs(spark, f"unique-jobs-{n}") as cj:
            assert runner.costly_checks(spark) is True
        counts.append(cj.n)
    assert counts[0] == counts[1], f"jobs for 1 vs 2 uniqueChecks: {counts}"


def test_unique_sets_over_64_columns_share_one_job(spark, keys_df):
    """Column sets whose union spans more than 64 columns start no more
    Spark jobs than one set."""
    counts = []
    for sets in ([["c5"]], [WIDE[:40], WIDE[30:], ["c5"]]):
        with count_jobs(spark, f"unique-wide-{len(sets)}") as cj:
            unique_mod.duplicate_key_counts(keys_df, sets)
        counts.append(cj.n)
    assert counts[0] == counts[1], f"jobs for 1 set vs a 70-column union: {counts}"


def _unique_plan(df, column_sets, monkeypatch):
    """Run duplicate_key_counts; return the final physical plan of its
    one query."""
    frames, real_collect = [], type(df).collect
    monkeypatch.setattr(type(df), "collect", lambda self: frames.append(self) or real_collect(self))
    unique_mod.duplicate_key_counts(df, column_sets)
    monkeypatch.undo()
    [frame] = frames
    return frame._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]


def test_unique_job_on_a_small_table_has_one_exchange(spark, tdf, tmp_path, monkeypatch):
    """No Expand, and one exchange: the one-partition repartition,
    which the global count rides."""
    path = str(tmp_path / "small.parquet")
    tdf.write.parquet(path)
    plan = _unique_plan(spark.read.parquet(path), [["k1", "k2"], ["k2", "s"]], monkeypatch)
    assert "Expand" not in plan
    assert plan.count("Exchange ") == 1, plan
    assert "Exchange SinglePartition, REPARTITION_BY_NUM" in plan, plan


@pytest.fixture
def advisory_size(spark):
    """Set spark.sql.adaptive.advisoryPartitionSizeInBytes for a test."""
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    old = spark.conf.get(key)
    yield lambda v: spark.conf.set(key, v)
    spark.conf.set(key, old)


def _keeps_spark_plan(plan):
    """A partial count below Spark's own hash exchange, and no
    repartition of the job's making."""
    assert "REPARTITION_BY" not in plan, plan
    exchange = re.search(r"Exchange hashpartitioning\(gid#\d+, .*ENSURE_REQUIREMENTS", plan)
    assert exchange, plan
    assert re.search(r"HashAggregate\(keys=\[gid#\d+", plan[exchange.end():]), plan


@pytest.mark.parametrize("source", ["large", "no_statistics"])
def test_unique_job_past_one_partition_keeps_spark_plan(
    spark, tdf, advisory_size, monkeypatch, source
):
    """A table past one advisory partition, or an in-memory frame with
    no size estimate, keeps the partial count and Spark's exchange."""
    if source == "large":
        advisory_size("1000b")  # 1000 longs: 8000 bytes
        df = spark.range(1000)
    else:
        df = tdf
    _keeps_spark_plan(_unique_plan(df, [[df.columns[0]]], monkeypatch))


def test_unique_job_sizes_for_every_column_set(spark, advisory_size, monkeypatch):
    """Each row is emitted once per column set, so two sets whose key
    columns fit one partition once do not fit it twice."""
    df = spark.range(1000).selectExpr("id", "id % 7 AS m")  # 12000 bytes
    advisory_size("20000b")
    _keeps_spark_plan(_unique_plan(df, [["id"], ["m"]], monkeypatch))


def test_fits_one_partition_bounds(spark, advisory_size):
    longs = spark.range(1000)  # an 8000-byte estimate
    assert unique_mod._fits_one_partition(spark.range(0), 3)
    advisory_size("16000b")
    assert unique_mod._fits_one_partition(longs, 2)
    assert not unique_mod._fits_one_partition(longs, 3)
    advisory_size("7999b")
    assert not unique_mod._fits_one_partition(longs, 1)


@pytest.mark.parametrize("fit", [True, False])
def test_null_nan_and_signed_zero_keys_count_as_the_reference(spark, fit, monkeypatch):
    """NULL, NaN and -0.0/0.0 keys group as in the reference's per-check
    groupBy(cols).count().where(count > 1).count(), in both plans."""
    monkeypatch.setattr(unique_mod, "_fits_one_partition", lambda d, n: fit)
    d = "CASE id % 5 WHEN 0 THEN 0.0D WHEN 1 THEN -0.0D WHEN 2 THEN double('NaN') WHEN 3 THEN NULL ELSE id END"
    df = spark.range(23).selectExpr(
        "id",
        f"{d} AS d",
        f"CAST(({d}) * -1 AS FLOAT) AS f",
        "IF(id % 4 = 0, NULL, id % 3) AS i",
    )
    column_sets = [["d"], ["f"], ["d", "f"], ["d", "i"], ["f", "i"], ["i"], ["id", "d"]]
    counts = unique_mod.duplicate_key_counts(df, column_sets)
    for cols in column_sets:
        expected = df.select(*cols).groupBy(*cols).count().where(F.col("count") > 1).count()
        assert counts[frozenset(cols)] == expected, cols


def test_no_session_conf_is_set_by_validators_or_runner():
    """run_config's threads share one session, so a conf set for one job
    would reach every job running beside it; the unique job sizes its
    exchange in the plan instead."""
    pkg = Path(runner_mod.__file__).parent
    files = [pkg / "runner.py", *sorted((pkg / "validators").glob("*.py"))]
    found = []
    for path in files:
        for node in ast.walk(ast.parse(path.read_text())):
            f = getattr(node, "func", None)
            if isinstance(f, ast.Attribute) and f.attr in ("set", "setConf"):
                owner = f.value
                name = owner.attr if isinstance(owner, ast.Attribute) else getattr(owner, "id", "")
                if f.attr == "setConf" or name == "conf":
                    found.append(f"{path.name}:{node.lineno}")
    assert not found, found


@pytest.mark.parametrize("columns", [[], "k1", None, ["k1", 2], [["k1"]]])
def test_unique_check_columns_must_be_a_list_of_names(spark, tdf, columns):
    chk = UniqueCheck(columns)
    assert chk.config_check(tdf) is True
    [ev] = chk.events
    assert ev.message.startswith("columns must be a non-empty list of column names")


def test_config_check_catches_missing_key_column(spark, tdf):
    runner = ValidatorTableRunner(DFSource(tdf, key_columns=["nope"]), [NullCheck("s")])
    assert runner.config_check(spark) is True


def test_run_config_config_failure_is_fatal_for_all_tables(spark, tdf, tmp_path):
    """A configCheck failure on ANY table skips the data phases for
    ALL tables (reference Main fatal semantics), still emits report."""
    p = str(tmp_path / "t.parquet")
    tdf.write.parquet(p)
    cfg = ValidatorConfig(
        tables=[
            TableConfig({"parquetFile": p}, [{"type": "nullCheck", "column": "missing_col"}]),
            TableConfig({"parquetFile": p}, [{"type": "nullCheck", "column": "s"}]),
        ]
    )
    report = run_config(spark, cfg)
    assert report["failed"] is True
    good_table = report["tables"][1]
    # data phase skipped: the good table's check has NO check events
    check_events = [
        e for c in good_table["checks"] for e in c["events"] if e["type"] == "checkEvent"
    ]
    assert check_events == []


def test_run_config_happy_path(spark, tdf, tmp_path):
    p = str(tmp_path / "t2.parquet")
    tdf.write.parquet(p)
    cfg = ValidatorConfig(
        tables=[
            TableConfig(
                {"parquetFile": p, "keyColumns": ["k1", "k2"]},
                [
                    {"type": "nullCheck", "column": "s", "threshold": "50%"},
                    {"type": "rowCount", "minNumRows": 2},
                ],
            )
        ]
    )
    report = run_config(spark, cfg)
    assert report["failed"] is False
    assert report["tables"][0]["checks"][0]["type"] == "nullCheck"


def test_condition_filters_rows(spark, tdf):
    src = DFSource(tdf, condition="v > 0")
    runner = ValidatorTableRunner(src, [NegativeCheck("v")])
    assert runner.quick_checks(spark) is False  # negatives filtered out


class CountingSource(DFSource):
    """DFSource that counts how often the runner opens it."""

    def __init__(self, df, **kw):
        super().__init__(df, **kw)
        self.loads = 0

    def load_df(self, spark):
        self.loads += 1
        return super().load_df(spark)


def test_each_table_opens_once_per_run(spark, tdf):
    """configCheck, quick checks (fused pass, colstats second pass,
    detailed errors) and costly checks share ONE open of the table; the
    table's failure follows its checks' events, whichever phase failed."""
    src = CountingSource(tdf, key_columns=["k1", "k2"])
    runner = ValidatorTableRunner(
        src, [NegativeCheck("v"), ColStats("v"), UniqueCheck(["k1", "k2"])]
    )
    assert runner.config_check(spark) is False
    assert runner.quick_checks(spark) is True
    assert runner.costly_checks(spark) is True
    assert any(isinstance(e, QuickCheckError) for e in runner.checks[0].events)
    assert "histogram" in runner.checks[1].stats
    assert src.loads == 1

    # only the costly check fails: the runner reports it with no
    # reassignment by the caller
    src = CountingSource(tdf, key_columns=["k1", "k2"])
    runner = ValidatorTableRunner(src, [NullCheck("k1"), UniqueCheck(["k1", "k2"])])
    assert runner.config_check(spark) is False
    assert runner.quick_checks(spark) is False
    assert runner.failed is False
    assert runner.costly_checks(spark) is True
    assert runner.failed is True
    assert runner.to_dict()["failed"] is True
    assert src.loads == 1


# -- run_config runs independent phases at the same time ----------------


@pytest.fixture(scope="module")
def tdf_path(tdf, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("overlap") / "t.parquet")
    tdf.write.parquet(p)
    return p


def meet_at(barrier, real):
    """``real``, entered only once another thread reaches ``barrier``."""

    def wrapped(*args):
        barrier.wait()
        return real(*args)

    return wrapped


def test_tables_quick_passes_overlap(spark, tdf_path, monkeypatch):
    """Two tables' fused passes run at the same time: each waits at a
    2-party barrier that only the other one can release."""
    barrier = threading.Barrier(2, timeout=20)
    monkeypatch.setattr(runner_mod, "run_cheap_checks", meet_at(barrier, runner_mod.run_cheap_checks))
    cfg = ValidatorConfig(
        tables=[
            TableConfig({"parquetFile": tdf_path}, [{"type": "nullCheck", "column": "k1"}]),
            TableConfig({"parquetFile": tdf_path}, [{"type": "negativeCheck", "column": "k2"}]),
        ]
    )
    assert run_config(spark, cfg)["failed"] is False


def test_quick_pass_and_unique_job_of_a_table_overlap(spark, tdf_path, monkeypatch):
    """A table's fused pass and its uniqueCheck job run at the same time."""
    barrier = threading.Barrier(2, timeout=20)
    monkeypatch.setattr(runner_mod, "run_cheap_checks", meet_at(barrier, runner_mod.run_cheap_checks))
    monkeypatch.setattr(
        unique_mod, "duplicate_key_counts", meet_at(barrier, unique_mod.duplicate_key_counts)
    )
    cfg = ValidatorConfig(
        tables=[
            TableConfig(
                {"parquetFile": tdf_path},
                [{"type": "nullCheck", "column": "k1"}, {"type": "uniqueCheck", "columns": ["k1", "k2"]}],
            )
        ]
    )
    report = run_config(spark, cfg)
    assert [c["failed"] for c in report["tables"][0]["checks"]] == [False, True]


def masked(report: dict) -> str:
    """The JSON report with timer durations, ``timestamp`` and
    ``runtimeInfo`` zeroed; timer labels and event order stay."""

    def walk(v):
        if isinstance(v, dict):
            return {k: 0 if k == "ns" and v.get("type") == "timer" else walk(x) for k, x in v.items()}
        if isinstance(v, list):
            return [walk(x) for x in v]
        return v

    return report_json(walk({**report, "timestamp": 0, "runtimeInfo": {}}))


def test_report_is_deterministic_and_matches_sequential_run(spark, tdf_path):
    """Three runs of a 3-table config give one report, equal to the
    one composed by running each phase of each table in turn."""
    cfg = ValidatorConfig(
        num_errors_to_report=3,
        tables=[
            TableConfig(
                {"parquetFile": tdf_path, "keyColumns": ["k1", "k2"]},
                [
                    {"type": "nullCheck", "column": "s"},
                    {"type": "negativeCheck", "column": "v"},
                    {"type": "colstats", "column": "v"},
                    {"type": "uniqueCheck", "columns": ["k1", "k2"]},
                    {"type": "uniqueCheck", "columns": ["k2"]},
                ],
            ),
            TableConfig(
                {"parquetFile": tdf_path, "condition": "v > 0"},
                [
                    {"type": "rangeCheck", "column": "v", "minValue": 5.0, "maxValue": 50.0},
                    {"type": "colstats", "column": "k1"},
                    {"type": "uniqueCheck", "columns": ["k1"]},
                ],
            ),
            TableConfig(
                {"parquetFile": tdf_path},
                [{"type": "nullCheck", "column": "k1"}, {"type": "rowCount", "minNumRows": 1}],
            ),
        ],
    )
    concurrent = [masked(run_config(spark, cfg)) for _ in range(3)]

    runners = cfg.build_runners()
    config_failed = any([r.config_check(spark) for r in runners])
    assert not config_failed
    for r in runners:
        r.quick_checks(spark)
    for r in runners:
        r.costly_checks(spark)
    sequential = masked(build_report(cfg, runners, any(r.failed for r in runners), spark))

    assert concurrent == [sequential] * 3
    events = [e for t in json.loads(sequential)["tables"] for e in t["events"]]
    assert any(e["type"] == "error" and "QuickChecks on" in e["msg"] for e in events)
    assert json.loads(sequential)["failed"] is True


def test_run_jobs_keep_the_callers_job_group(spark, tdf_path):
    """Every job of a run lands in the job group set around it: the
    chains' threads inherit the caller's local properties."""
    tracker = spark.sparkContext.statusTracker()
    cfg = ValidatorConfig(
        tables=[
            TableConfig(
                {"parquetFile": tdf_path, "keyColumns": ["k1", "k2"]},
                [
                    {"type": "nullCheck", "column": "s"},
                    {"type": "colstats", "column": "v"},
                    {"type": "uniqueCheck", "columns": ["k1", "k2"]},
                ],
            ),
            TableConfig({"parquetFile": tdf_path}, [{"type": "uniqueCheck", "columns": ["k2"]}]),
        ]
    )
    ungrouped = set(tracker.getJobIdsForGroup(None))
    with count_jobs(spark, "run-config-group") as cj:
        run_config(spark, cfg)
    assert cj.n >= 5  # 2 fused passes, colstats, detailed errors, 2 unique jobs
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()


def test_chain_error_reaches_caller_after_other_chains(spark, tdf_path, monkeypatch):
    """A chain that raises does not cut the others short: run_config
    waits for every chain, then re-raises the first error in table
    order, with no Spark job left running."""
    finished = []
    real_cheap, real_dup = runner_mod.run_cheap_checks, unique_mod.duplicate_key_counts

    def cheap(df, checks):
        if checks[0].check_type == "nullCheck":  # table 0: fails last
            time.sleep(1.0)
            raise RuntimeError("table 0 quick chain")
        if checks[0].check_type == "negativeCheck":  # table 1: fails first
            raise RuntimeError("table 1 quick chain")
        return real_cheap(df, checks)

    def dup(df, column_sets):
        time.sleep(1.0)
        out = real_dup(df, column_sets)
        finished.append("unique")
        return out

    monkeypatch.setattr(runner_mod, "run_cheap_checks", cheap)
    monkeypatch.setattr(unique_mod, "duplicate_key_counts", dup)
    cfg = ValidatorConfig(
        tables=[
            TableConfig({"parquetFile": tdf_path}, [{"type": "nullCheck", "column": "k1"}]),
            TableConfig(
                {"parquetFile": tdf_path},
                [{"type": "negativeCheck", "column": "v"}, {"type": "uniqueCheck", "columns": ["k1"]}],
            ),
        ]
    )
    with pytest.raises(RuntimeError, match="table 0 quick chain"):
        run_config(spark, cfg)
    assert finished == ["unique"]
    assert spark.sparkContext.statusTracker().getActiveJobsIds() == []
