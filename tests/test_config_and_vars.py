"""YAML config parsing + variable substitution. Mirrors reference
ConfigParserSpec + VarSubstitutionSpec + EnvironmentVariablesSpec."""

from __future__ import annotations

import pytest

from data_validator_spark.config import parse_config
from data_validator_spark.substitution import (
    VarSubstitution,
    VarSubstitutionError,
    build_dict,
)
from data_validator_spark.validators.row_based import NullCheck, RangeCheck
from data_validator_spark.validators.unique import UniqueCheck

YAML = """
numKeyCols: 3
numErrorsToReport: 7
detailedErrors: false
vars:
  - name: base
    value: /data
  - name: qty
    value: 42
tables:
  - parquetFile: $base/lineitem.parquet
    keyColumns: [l_orderkey, l_linenumber]
    condition: "l_quantity < ${qty}"
    checks:
      - type: nullCheck
        column: l_comment
      - type: rangeCheck
        column: l_quantity
        minValue: 0
        maxValue: $qty
      - type: uniqueCheck
        columns: [l_orderkey, l_linenumber]
outputs:
  - filename: /tmp/report.json
    append: true
  - pipe: /bin/cat
email:
  smtpHost: smtp.example.com
  subject: "validator: $base"
  from: a@example.com
  to: [b@example.com]
"""


def test_parse_globals():
    cfg = parse_config(YAML)
    assert cfg.num_key_cols == 3
    assert cfg.num_errors_to_report == 7
    assert cfg.detailed_errors is False


def test_parse_tables_with_substitution():
    cfg = parse_config(YAML)
    src, checks = cfg.tables[0].build()
    assert src.path == "/data/lineitem.parquet"
    assert src.key_columns == ["l_orderkey", "l_linenumber"]
    assert src.condition == "l_quantity < 42"
    assert isinstance(checks[0], NullCheck)
    assert isinstance(checks[1], RangeCheck)
    # single-var string keeps the variable's type (int)
    assert checks[1].max_value == 42
    assert isinstance(checks[2], UniqueCheck)


def test_parse_outputs_and_email():
    cfg = parse_config(YAML)
    assert cfg.outputs[0].filename == "/tmp/report.json"
    assert cfg.outputs[0].append is True
    assert cfg.outputs[1].pipe == "/bin/cat"
    assert cfg.email.subject == "validator: /data"


def test_cli_vars_override_config_vars():
    cfg = parse_config(YAML, cli_vars={"base": "/other"})
    src, _ = cfg.tables[0].build()
    assert src.path == "/other/lineitem.parquet"


# -- VarSubstitution -------------------------------------------------------
def test_simple_and_braced_substitution():
    d = VarSubstitution()
    d.add("name", "world")
    assert d.replace_string("hello $name!") == "hello world!"
    assert d.replace_string("hello ${name}!") == "hello world!"


def test_undefined_variable_raises():
    d = VarSubstitution()
    with pytest.raises(VarSubstitutionError):
        d.replace_string("$nope")


def test_invalid_variable_name_raises():
    d = VarSubstitution()
    with pytest.raises(VarSubstitutionError):
        d.add("9bad", 1)


def test_env_variable(monkeypatch):
    monkeypatch.setenv("DV_TEST_ENV", "abc")
    d = build_dict([{"name": "x", "env": "DV_TEST_ENV"}])
    assert d.vars["x"] == "abc"


def test_env_variable_missing_raises():
    with pytest.raises(VarSubstitutionError):
        build_dict([{"name": "x", "env": "DV_NO_SUCH_ENV_VAR"}])


def test_shell_variable_first_line():
    d = build_dict([{"name": "x", "shell": "printf 'one\\ntwo'"}])
    assert d.vars["x"] == "one"


def test_sql_variable(spark):
    d = build_dict([{"name": "x", "sql": "SELECT 41 + 1"}], spark)
    assert d.vars["x"] == 42


def test_later_vars_reference_earlier():
    d = build_dict([{"name": "a", "value": "foo"}, {"name": "b", "value": "$a/bar"}])
    assert d.vars["b"] == "foo/bar"


def test_deep_substitution_in_nested_structures():
    d = VarSubstitution()
    d.add("v", 7)
    out = d.replace({"a": ["$v", {"b": "x$v"}], "c": 1})
    assert out == {"a": [7, {"b": "x7"}], "c": 1}


def test_reference_test_config_shape_parses_verbatim():
    """The reference's own src/test/resources/test_config.yaml shape
    (4 source kinds, email, file+pipe outputs with ignoreError, vars,
    detailedErrors) must parse without modification — a user's
    existing config files are valid here as-is."""
    cfg = parse_config(
        """
numKeyCols: 2
numErrorsToReport: 742
email:
  smtpHost: smtpHost
  subject: subject
  from: from
  to:
   - to
detailedErrors: true
vars:
  - name: foo
    value: bar

outputs:
  - filename: /user/home/sample.json

  - pipe: /apps/dv2kafka.py
    ignoreError: true
tables:
  - db: foo
    table: bar
    keyColumns:
      - one
      - two
    checks:
      - type: rowCount
        minNumRows: 10294
      - type: nullCheck
        column: mdse_item_i
  - orcFile: LocalFile.orc
    condition: "foo < 10"
    checks:
      - type: nullCheck
        column: start_d
  - parquetFile: LocFile.parquet
    condition: "bar < 10"
    checks:
      - type: nullCheck
        column: end_d
  - format: llama
    checks:
      - type: nullCheck
        column: start_d
    options:
      key: value
    loadData:
      - data.llama
"""
    )
    assert cfg.num_key_cols == 2
    assert cfg.num_errors_to_report == 742
    assert cfg.detailed_errors is True
    assert cfg.email is not None and cfg.email.smtp_host == "smtpHost"
    assert [o.pipe for o in cfg.outputs] == [None, "/apps/dv2kafka.py"]
    assert cfg.outputs[1].ignore_error is True

    built = [t.build() for t in cfg.tables]
    labels = [src.label for src, _ in built]
    assert labels[0] == "HiveTable:foo.bar"
    assert labels[1] == "OrcFile:LocalFile.orc"
    assert labels[2] == "ParquetFile:LocFile.parquet"
    assert labels[3] == "SpecifiedFormatLoader:llama:data.llama"
    # conditions survive into the sources (pushed at load time)
    assert built[1][0].condition == "foo < 10"
    # check counts per table match the config
    assert [len(checks) for _, checks in built] == [2, 1, 1, 1]


# -- reference spec fixture sweep (r8 verdict item 8) -----------------------
# VarSubstitutionSpec + ConfigParserSpec rejection fixtures, mirrored
# with matching accept/reject behavior.

def test_adding_var_twice_keeps_first_value():
    """VarSubstitutionSpec:10 'adding var twice fails': the second add
    is an error flag and the FIRST value survives."""
    d = VarSubstitution()
    assert d.add("foo", "bar") is False
    assert d.add("foo", "baz") is True
    assert d.replace_string("$foo") == "bar"


def test_config_var_cannot_override_cli_var():
    """Main.scala seeds the dict with CLI vars first; the config's own
    definition of the same name is a logged no-op."""
    cfg = parse_config(YAML, cli_vars={"qty": "7"})
    src, checks = cfg.tables[0].build()
    assert src.condition == "l_quantity < 7"
    assert checks[1].max_value == "7"


def test_duplicate_config_var_first_wins():
    from data_validator_spark.substitution import build_dict as bd

    d = bd([{"name": "a", "value": "first"}, {"name": "a", "value": "second"}])
    assert d.vars["a"] == "first"


def test_one_char_variable_both_spellings():
    # VarSubstitutionSpec:57 'short 1 char variables'
    d = VarSubstitution()
    d.add("f", "foo")
    assert d.replace_string("${f}|$f") == "foo|foo"


def test_map_seeding():
    # VarSubstitutionSpec:50 'adding map works' (seed = addMap)
    from data_validator_spark.substitution import build_dict as bd

    d = bd([], seed={"one": "1", "two": "2"})
    assert d.replace_string("$one, $two") == "1, 2"


def test_missing_file_path_rejected():
    """ConfigParserSpec parseFile: a nonexistent path is an error, not
    an empty config."""
    from data_validator_spark.config import check_config_file, load_config

    errs = check_config_file("/no/such/config.yaml")
    assert errs and "Cannot read config file" in errs[0]
    with pytest.raises(OSError):
        load_config("/no/such/config.yaml")


MALFORMED = [
    # (yaml text, expected error fragment) — parse-level rejections
    ("tables: [\n", "YAML parse error"),          # truncated flow seq
    ("- a\n- b\n", "root must be a mapping"),     # root is a list
    ("vars:\n  - value: x\ntables: []\n", "missing 'name'"),
    ("vars:\n  - name: v\ntables: []\n", "no value/env/shell/sql"),
    (
        "tables:\n  - bogusKey: /x\n    checks: []\n",
        "tables[0]",
    ),  # unknown source kind
    (
        "tables:\n  - parquetFile: /x\n    checks:\n      - type: noSuchCheck\n",
        "checks[0]",
    ),  # unknown check type
    (
        "tables:\n  - parquetFile: /x\n    checks:\n      - type: nullCheck\n",
        "checks[0]",
    ),  # nullCheck without column
    # the type rules of the one decoder: each of these used to crash a
    # run or change it without a word
    (
        "tables:\n  - parquetFile: /x\n    checks: nullCheck\n",
        "tables[0].checks must be a YAML list, got 'nullCheck'",
    ),
    ("tables:\n  - /x.parquet\n", "tables[0] must be a mapping, got str"),
    ("numKeyCols: two\ntables: []\n", "numKeyCols must be an integer >= 0, got 'two'"),
    (
        'detailedErrors: "false"\ntables: []\n',
        "detailedErrors must be a YAML boolean (true/false), got 'false'",
    ),
    ("numErrorsToReport: 2.7\ntables: []\n", "numErrorsToReport must be an integer >= 0, got 2.7"),
    (
        "email:\n  subject: s\n  to: ops@example.com\ntables: []\n",
        "email.to must be a YAML list, got 'ops@example.com'",
    ),
    ("outputs:\n  - /tmp/report.json\ntables: []\n", "outputs[0] must be a mapping, got str"),
    (
        'outputs:\n  - filename: /tmp/report.json\n    append: "yes"\ntables: []\n',
        "outputs[0].append must be a YAML boolean (true/false), got 'yes'",
    ),
]


@pytest.mark.parametrize("text,fragment", MALFORMED)
def test_malformed_config_rejected(text, fragment):
    """--checkConfig (check_config_text) and a run (parse_config) go
    through one decoder: the same faults, in the same words."""
    from data_validator_spark.config import ConfigError, check_config_text

    errs = check_config_text(text)
    assert errs, f"expected rejection for: {text!r}"
    assert any(fragment in e for e in errs), (errs, fragment)
    with pytest.raises(ConfigError) as info:
        parse_config(text)
    assert [f.located for f in info.value.faults] == errs
    assert fragment in str(info.value)


def test_config_counts_and_flags_keep_their_yaml_types():
    """Legal values of the typed globals decode as written."""
    cfg = parse_config(
        "numKeyCols: 0\nnumErrorsToReport: 0\ndetailedErrors: false\n"
        "email:\n  to: [a@x]\n  smtpPort: 2525\n  deliver: true\n"
        "outputs:\n  - filename: /tmp/r.json\n    append: true\n    ignoreError: false\n"
    )
    assert (cfg.num_key_cols, cfg.num_errors_to_report, cfg.detailed_errors) == (0, 0, False)
    assert (cfg.email.to, cfg.email.smtp_port, cfg.email.deliver) == (["a@x"], 2525, True)
    assert (cfg.outputs[0].append, cfg.outputs[0].ignore_error) == (True, False)


def test_run_lists_every_fault():
    """A run's ConfigError carries every fault of the document, each
    message first with its place after it."""
    from data_validator_spark.config import ConfigError

    with pytest.raises(ConfigError) as info:
        parse_config(
            "numKeyCols: two\n"
            "tables:\n  - parquetFile: /x\n    checks:\n      - type: nullCheck\n"
        )
    assert str(info.value).splitlines() == [
        "nullCheck check is missing required field 'column' (tables[0].checks[0])",
        "numKeyCols must be an integer >= 0, got 'two'",
    ]


def test_placeholder_defers_type_rules_until_the_run():
    """A `$var` in a typed field is checked once the run resolves it."""
    from data_validator_spark.config import ConfigError, check_config_text

    text = "vars:\n  - name: n\n    value: {v}\nnumKeyCols: $n\ntables: []\n"
    assert check_config_text(text.format(v="three")) == []
    assert parse_config(text.format(v=3)).num_key_cols == 3
    with pytest.raises(ConfigError, match="numKeyCols must be an integer"):
        parse_config(text.format(v="three"))


def test_unknown_variable_in_config_rejected():
    """ConfigVarSubSpec 'bad variable substitution should fail': a
    config whose check references an undefined variable is rejected
    (here fail-fast at parse; the reference flags the check failed)."""
    from data_validator_spark.substitution import VarSubstitutionError

    with pytest.raises(VarSubstitutionError):
        parse_config(
            "tables:\n"
            "  - parquetFile: /x.parquet\n"
            "    checks:\n"
            "      - type: nullCheck\n"
            "        column: Col${unknown}\n"
        )


# --- check_config_text placeholder scoping (r7 ADVICE fixes) ---------------

def test_check_config_nonjson_scalar_does_not_crash():
    """ADVICE r6: an unquoted YAML date (parsed to datetime.date) used
    to crash the placeholder scan via json.dumps; it must simply be
    checked like any other config."""
    from data_validator_spark.config import check_config_text

    errs = check_config_text(
        "tables:\n"
        "  - parquetFile: /x.parquet\n"
        "    checks:\n"
        "      - type: rangeCheck\n"
        "        column: a\n"
        "        minValue: 2020-01-01\n"
    )
    assert errs == []


def test_check_config_literal_dollar_does_not_suppress_validation():
    """ADVICE r6: a literal '$' (regex anchor) is not a substitution
    token — unknown sources and broken sibling checks must still
    error."""
    from data_validator_spark.config import check_config_text

    errs = check_config_text(
        "tables:\n"
        "  - bogusSourceKey: /x\n"
        "    checks:\n"
        "      - type: stringRegexCheck\n"
        "        column: a\n"
        "        regex: 'abc$'\n"
        "      - type: nullCheck\n"
    )
    # both the unknown source and the column-less nullCheck surface
    assert any("tables[0]:" in e for e in errs)
    assert any("checks[1]" in e for e in errs)


def test_check_config_placeholder_suppression_is_per_entry():
    """A $var in one check defers only that check's deep validation;
    the source and sibling checks are still fully validated."""
    from data_validator_spark.config import check_config_text

    errs = check_config_text(
        "tables:\n"
        "  - parquetFile: $base/x.parquet\n"
        "    checks:\n"
        "      - type: rangeCheck\n"
        "        column: a\n"
        "        minValue: $lo\n"
        "      - type: nullCheck\n"
    )
    assert errs == ["tables[0].checks[1]: nullCheck check is missing required field 'column'"]


def test_check_config_braced_placeholder_detected():
    from data_validator_spark.config import check_config_text

    errs = check_config_text(
        "tables:\n"
        "  - parquetFile: ${base}/x.parquet\n"
        "    checks: []\n"
    )
    assert errs == []


def test_output_spec_variable_substitution():
    """ValidatorOutputSpec: FileOutput and PipeOutput resolve config
    vars in their paths."""
    cfg = parse_config(
        """
vars:
  - name: outdir
    value: /reports
  - name: prog
    value: /bin/cat
tables: []
outputs:
  - filename: $outdir/report.json
    append: true
  - pipe: ${prog}
"""
    )
    assert cfg.outputs[0].filename == "/reports/report.json"
    assert cfg.outputs[1].pipe == "/bin/cat"
