"""End-to-end CLI integration: subprocess drive of
python -m data_validator_spark.cli (reference Main.scala surface)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_cli(*args):
    return subprocess.run(
        [sys.executable, "-m", "data_validator_spark.cli", *args],
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=300,
    )


@pytest.fixture(scope="module")
def config_path(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("cli")
    p = str(d / "t.parquet")
    spark.createDataFrame(
        [(1, 5.0, "a"), (2, -1.0, None)], "id int, v double, s string"
    ).write.parquet(p)
    cfg = d / "config.yaml"
    cfg.write_text(
        f"""
numErrorsToReport: 3
tables:
  - parquetFile: {p}
    keyColumns: [id]
    checks:
      - type: negativeCheck
        column: v
      - type: nullCheck
        column: s
"""
    )
    return str(cfg), str(d)


def test_cli_fail_exit_code_and_reports(config_path):
    cfg, d = config_path
    jr, hr = f"{d}/report.json", f"{d}/report.html"
    r = run_cli("--config", cfg, "--jsonReport", jr, "--htmlReport", hr, "--exitErrorOnFail", "true")
    assert "DATA_VALIDATOR_STATUS=FAIL" in r.stdout
    assert r.returncode == 1
    rep = json.load(open(jr))
    assert rep["failed"] is True
    types = {c["type"]: c["failed"] for c in rep["tables"][0]["checks"]}
    assert types == {"negativeCheck": True, "nullCheck": True}
    assert "FAIL" in open(hr).read()


def test_cli_no_exit_error_flag(config_path):
    cfg, _ = config_path
    r = run_cli("--config", cfg, "--exitErrorOnFail", "false")
    assert "DATA_VALIDATOR_STATUS=FAIL" in r.stdout
    assert r.returncode == 0


def test_cli_vars_substitution(config_path, tmp_path):
    cfg_text = open(config_path[0]).read().replace("negativeCheck", "negativeCheck")
    # config referencing an undefined var must fail loudly
    p = tmp_path / "bad.yaml"
    p.write_text("tables:\n  - parquetFile: $missing/x.parquet\n    checks: []\n")
    r = run_cli("--config", str(p))
    assert r.returncode != 0


# -- parse-only config check (reference ConfigParser entrypoint) ----------
def run_config_main(*args):
    return subprocess.run(
        [sys.executable, "-m", "data_validator_spark.config", *args],
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=120,
    )


def test_check_config_good(config_path):
    cfg, _ = config_path
    r = run_cli("--config", cfg, "--checkConfig")
    assert r.returncode == 0, r.stderr
    assert "DATA_VALIDATOR_CONFIG=OK" in r.stdout
    # no Spark session: a parse-only run finishes without JVM banner
    assert "SparkSession" not in r.stderr


def test_check_config_bad_yaml(tmp_path):
    p = tmp_path / "bad.yaml"
    p.write_text("tables:\n  - parquetFile: [unclosed\n")
    r = run_cli("--config", str(p), "--checkConfig")
    assert r.returncode == 1
    assert "DATA_VALIDATOR_CONFIG=INVALID" in r.stdout
    assert "CONFIG ERROR" in r.stderr


def test_check_config_unknown_check_type(tmp_path):
    p = tmp_path / "t.yaml"
    p.write_text(
        "tables:\n  - parquetFile: /x.parquet\n    checks:\n"
        "      - type: noSuchCheck\n        column: v\n"
    )
    r = run_cli("--config", str(p), "--checkConfig")
    assert r.returncode == 1
    assert "Unknown check type" in r.stderr


def test_check_config_unknown_source(tmp_path):
    p = tmp_path / "t.yaml"
    p.write_text("tables:\n  - noSuchSource: /x\n    checks: []\n")
    r = run_cli("--config", str(p), "--checkConfig")
    assert r.returncode == 1


def test_check_config_placeholders_pass_without_resolution(tmp_path):
    """Reference parity: variable substitution is NOT performed by the
    config check, so a config whose values are $vars must pass."""
    p = tmp_path / "t.yaml"
    p.write_text(
        "vars:\n  - name: base\n    value: /data\n"
        "tables:\n  - parquetFile: $base/x.parquet\n"
        "    checks:\n      - type: rangeCheck\n        column: v\n"
        "        minValue: $lo\n        maxValue: $hi\n"
    )
    r = run_cli("--config", str(p), "--checkConfig")
    assert r.returncode == 0, r.stderr


def test_config_module_main_good_and_bad(tmp_path):
    good = tmp_path / "g.yaml"
    good.write_text("tables:\n  - parquetFile: /x.parquet\n    checks: []\n")
    r = run_config_main(str(good))
    assert r.returncode == 0 and "DATA_VALIDATOR_CONFIG=OK" in r.stdout
    bad = tmp_path / "b.yaml"
    bad.write_text("vars:\n  - name: v\n")
    r = run_config_main(str(bad))
    assert r.returncode == 1 and "no value/env/shell/sql source" in r.stderr
    r = run_config_main()
    assert r.returncode == 2


def test_cli_check_without_required_field_is_config_error(tmp_path):
    """A check that lacks a required field ends the run as a config
    error naming the check type and the field, before any table is
    opened (the source path does not exist) and without a report."""
    p = tmp_path / "t.yaml"
    p.write_text(
        f"tables:\n  - parquetFile: {tmp_path}/missing.parquet\n    checks:\n"
        "      - type: nullCheck\n"
    )
    jr = tmp_path / "report.json"
    r = run_cli("--config", str(p), "--jsonReport", str(jr))
    assert r.returncode == 1, r.stderr
    assert "CONFIG ERROR: nullCheck check is missing required field 'column'" in r.stderr
    assert "Traceback" not in r.stderr
    assert not jr.exists()


def test_cli_malformed_vars_is_usage_error_before_session(tmp_path, monkeypatch, capsys):
    """`--vars foo` (no `=`) exits 2 with a usage message, and no Spark
    session is built."""
    from data_validator_spark import cli, session

    def no_session(*args, **kwargs):
        raise AssertionError("build_session called")

    monkeypatch.setattr(session, "build_session", no_session)
    p = tmp_path / "t.yaml"
    p.write_text("tables: []\n")
    with pytest.raises(SystemExit) as exit_info:
        cli.main(["--config", str(p), "--vars", "foo"])
    assert exit_info.value.code == 2
    assert "Bad --vars entry: 'foo'" in capsys.readouterr().err


STRUCTURAL = [
    "tables:\n  - parquetFile: /x.parquet\n    checks: nullCheck\n",
    "tables:\n  - /x.parquet\n",
    "vars:\n  - name: v\ntables: []\n",
    "numKeyCols: two\ntables: []\n",
    'detailedErrors: "false"\ntables: []\n',
    "email:\n  to: ops@example.com\ntables: []\n",
    "tables:\n  - parquetFile: /x.parquet\n    checks:\n      - type: nullCheck\n",
]


@pytest.mark.parametrize("text", STRUCTURAL)
def test_cli_structural_fault_is_config_error_before_session(text, tmp_path, monkeypatch, capsys):
    """A run applies the --checkConfig walk before it starts the JVM:
    each malformed config exits 1 with CONFIG ERROR lines, and no Spark
    session is built."""
    from data_validator_spark import cli, session

    def no_session(*args, **kwargs):
        raise AssertionError("build_session called")

    monkeypatch.setattr(session, "build_session", no_session)
    p = tmp_path / "t.yaml"
    p.write_text(text)
    assert cli.main(["--config", str(p)]) == 1
    err = capsys.readouterr().err
    assert "CONFIG ERROR: " in err and "Traceback" not in err


class _IdleSession:
    """Stands in for the session in runs that must stop before any
    table is read: nothing but stop() may be called on it."""

    stopped = False

    def stop(self):
        self.stopped = True


@pytest.mark.parametrize(
    "outputs,message",
    [
        ("filename: /no/such/dir/report.json", "CONFIG ERROR: Cannot write to output file: /no/such/dir/report.json"),
        ("pipe: /no/such/program --flag", "CONFIG ERROR: Pipe program not executable: /no/such/program --flag"),
        # an undefined variable is found once the run resolves variables
        ("filename: $nowhere/report.json", "CONFIG ERROR: Undefined variable: $nowhere"),
    ],
)
def test_cli_output_and_variable_faults_are_config_errors(outputs, message, tmp_path, monkeypatch, capsys):
    """Faults found after the session starts (an output that cannot be
    written, a variable with no value) exit 1 with a CONFIG ERROR line,
    not a traceback, and stop the session."""
    from data_validator_spark import cli, session

    idle = _IdleSession()
    monkeypatch.setattr(session, "build_session", lambda *a, **k: idle)
    p = tmp_path / "t.yaml"
    p.write_text(f"tables: []\noutputs:\n  - {outputs}\n")
    assert cli.main(["--config", str(p)]) == 1
    err = capsys.readouterr().err
    assert message in err and "Traceback" not in err
    assert idle.stopped
