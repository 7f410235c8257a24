"""YAML config model.

Parity: reference ConfigParser.scala + ValidatorConfig.scala. Global
settings (numKeyCols, numErrorsToReport, detailedErrors, vars, email,
outputs) + `tables:` each with a source, keyColumns, condition and a
`checks:` list.
"""

from __future__ import annotations

import sys
from dataclasses import dataclass, field
from typing import Any, Callable, NamedTuple, Optional

import yaml

from data_validator_spark.sources import TableSource, source_from_dict
from data_validator_spark.substitution import _VAR_RE, VarSubstitution, build_dict
from data_validator_spark.validators import CHECK_TYPES, Check, check_from_dict
from data_validator_spark.validators.base import require_bool, require_int, require_list, require_map


@dataclass
class OutputSpec:
    """`outputs:` entry — filename (with append) or pipe. Parity:
    ValidatorOutput in IO.scala."""

    filename: Optional[str] = None
    append: bool = False
    pipe: Optional[str] = None
    ignore_error: bool = False


@dataclass
class EmailConfig:
    smtp_host: str = ""
    subject: str = ""
    from_addr: str = ""
    to: list[str] = field(default_factory=list)
    cc: list[str] = field(default_factory=list)
    bcc: list[str] = field(default_factory=list)
    # Rebuild extensions (reference EmailConfig has neither field:
    # javax.mail defaults the port to 25 and the reference always
    # delivers when an email block exists — Emailer.scala:34. Here
    # delivery is opt-in so the render-only default stays safe in
    # environments without an SMTP relay).
    smtp_port: int = 25
    deliver: bool = False


@dataclass
class TableConfig:
    source_dict: dict[str, Any]
    checks_dicts: list[dict[str, Any]]

    def build(self) -> tuple[TableSource, list[Check]]:
        return source_from_dict(self.source_dict), [check_from_dict(c) for c in self.checks_dicts]


@dataclass
class ValidatorConfig:
    num_key_cols: int = 2
    num_errors_to_report: int = 5
    detailed_errors: bool = True
    tables: list[TableConfig] = field(default_factory=list)
    outputs: list[OutputSpec] = field(default_factory=list)
    email: Optional[EmailConfig] = None
    var_specs: list[dict[str, Any]] = field(default_factory=list)
    var_sub_dict: dict[str, Any] = field(default_factory=dict)

    def build_runners(self) -> list["ValidatorTableRunner"]:
        from data_validator_spark.runner import ValidatorTableRunner

        runners = []
        for t in self.tables:
            src, checks = t.build()
            runners.append(
                ValidatorTableRunner(
                    src,
                    checks,
                    num_key_cols=self.num_key_cols,
                    num_errors_to_report=self.num_errors_to_report,
                    detailed_errors=self.detailed_errors,
                )
            )
        return runners


class Fault(NamedTuple):
    """One config fault: what is wrong, and where (``tables[0].checks[1]``;
    empty when the message names its field). Printed message first, as
    CONFIG ERROR lines; ``located`` is the place-first form that
    check_config_text has always returned."""

    message: str
    where: str = ""

    def __str__(self) -> str:
        return f"{self.message} ({self.where})" if self.where else self.message

    @property
    def located(self) -> str:
        return f"{self.where}: {self.message}" if self.where else self.message


class ConfigError(ValueError):
    """Every fault of a config document, one per line of the message."""

    def __init__(self, faults: list[Fault]):
        super().__init__("\n".join(map(str, faults)))
        self.faults = faults


def _has_placeholder(value: Any) -> bool:
    """A ``$var``/``${var}`` token (VarSubstitution.scala:141's syntax) in
    any string leaf; a literal ``$`` such as a regex anchor is none."""
    if isinstance(value, str):
        return _VAR_RE.search(value) is not None
    if isinstance(value, dict):
        return any(_has_placeholder(v) for v in value.values())
    if isinstance(value, (list, tuple)):
        return any(_has_placeholder(v) for v in value)
    return False


def _decode(
    text: str, resolve: Optional[Callable[[list], VarSubstitution]] = None
) -> tuple[Optional[ValidatorConfig], list[Fault]]:
    """The one walk over a config document, for the config check and
    for a run; returns the config and every fault it found. ``resolve``
    builds the variable dict from the `vars:` specs, and its
    substitution applies to the rest of the document.

    Without ``resolve`` this is the config check: placeholders stay in
    place, and a field or entry that fails while it carries one is
    deferred to the run, which has the values (the reference's check
    does not resolve variables either). Deferral is per entry, so a
    placeholder in one check masks neither its siblings nor the
    source; an unknown check `type:` is a fault even then. Sources
    and checks are trial-constructed here; a run builds them again
    (TableConfig.build), so each run gets fresh check objects."""
    try:
        raw = yaml.safe_load(text) or {}
    except yaml.YAMLError as e:
        return None, [Fault(f"YAML parse error: {e}")]
    if not isinstance(raw, dict):
        return None, [Fault(f"Config root must be a mapping, got {type(raw).__name__}")]
    faults: list[Fault] = []

    def tried(build: Callable, value: Any, *args: Any, where: str = "", hard: bool = False) -> Any:
        try:
            return build(value, *args)
        except Exception as e:  # any failure is a config fault, not a crash
            if resolve or hard or not _has_placeholder(value):
                faults.append(Fault(str(e), where))
            return None

    specs = tried(require_list, raw.get("vars") or [], "vars") or []
    for spec in specs:
        if not isinstance(spec, dict) or "name" not in spec:
            faults.append(Fault(f"vars entry missing 'name': {spec!r}"))
        elif not any(k in spec for k in ("value", "env", "shell", "sql")):
            faults.append(Fault(f"Variable '{spec['name']}' has no value/env/shell/sql source"))
    if resolve and faults:
        return None, faults
    dict_ = resolve(specs) if resolve else VarSubstitution()
    # build_dict already substituted each spec, in order, as it read it
    doc = dict_.replace({k: v for k, v in raw.items() if k != "vars"}) if resolve else raw

    tables = []
    for i, t in enumerate(tried(require_list, doc.get("tables") or [], "tables") or []):
        if (t := tried(require_map, t, f"tables[{i}]")) is None:
            continue
        checks = tried(require_list, t.pop("checks", None) or [], f"tables[{i}].checks") or []
        tried(source_from_dict, t, where=f"tables[{i}]")
        for j, c in enumerate(checks):
            where = f"tables[{i}].checks[{j}]"
            if tried(require_map, c, where) is not None:
                tried(check_from_dict, c, where=where, hard=c.get("type") not in CHECK_TYPES)
        tables.append(TableConfig(source_dict=t, checks_dicts=checks))

    outputs = []
    for i, o in enumerate(tried(require_list, doc.get("outputs") or [], "outputs") or []):
        if (o := tried(require_map, o, f"outputs[{i}]")) is not None:
            outputs.append(
                OutputSpec(
                    filename=o.get("filename"),
                    append=tried(require_bool, o.get("append", False), f"outputs[{i}].append"),
                    pipe=o.get("pipe"),
                    ignore_error=tried(require_bool, o.get("ignoreError", False), f"outputs[{i}].ignoreError"),
                )
            )

    e = tried(require_map, doc["email"], "email") if doc.get("email") else None
    email = None if e is None else EmailConfig(
        smtp_host=e.get("smtpHost", ""),
        subject=e.get("subject", ""),
        from_addr=e.get("from", ""),
        to=tried(require_list, e.get("to") or [], "email.to"),
        cc=tried(require_list, e.get("cc") or [], "email.cc"),
        bcc=tried(require_list, e.get("bcc") or [], "email.bcc"),
        smtp_port=tried(require_int, e.get("smtpPort", 25), "email.smtpPort"),
        deliver=tried(require_bool, e.get("deliver", False), "email.deliver"),
    )

    config = ValidatorConfig(
        num_key_cols=tried(require_int, doc.get("numKeyCols", 2), "numKeyCols", 0),
        num_errors_to_report=tried(require_int, doc.get("numErrorsToReport", 5), "numErrorsToReport", 0),
        detailed_errors=tried(require_bool, doc.get("detailedErrors", True), "detailedErrors"),
        tables=tables,
        outputs=outputs,
        email=email,
        var_specs=specs,
        var_sub_dict=dict(dict_.vars),
    )
    return config, faults


def parse_config(
    text: str,
    spark: Optional[Any] = None,
    cli_vars: Optional[dict[str, str]] = None,
) -> ValidatorConfig:
    """Parse YAML, resolving variables first; raises ConfigError listing
    every fault. CLI --vars override the config's own `vars:` by the
    reference's actual mechanism (Main.scala): the dict is SEEDED with
    the CLI vars, and adding a name twice keeps the first value, so the
    config's re-definition of a CLI-supplied name is a logged no-op."""
    config, faults = _decode(text, lambda specs: build_dict(specs, spark, seed=cli_vars))
    if faults:
        raise ConfigError(faults)
    return config


def load_config(path: str, spark: Optional[Any] = None, cli_vars: Optional[dict[str, str]] = None) -> ValidatorConfig:
    with open(path) as f:
        return parse_config(f.read(), spark, cli_vars)


def config_faults(path: str) -> list[Fault]:
    """The config check of a file: parse-only, no SparkSession, no
    variable resolution, no table reads. Parity: the reference ships a
    config-check entrypoint (ConfigParser.scala:68 main; README
    'Configuration parser check') that verifies the YAML decodes into
    the config model and explicitly does NOT resolve variables
    ('those have runtime implications'). A run applies it before its
    session starts."""
    try:
        with open(path) as f:
            return _decode(f.read())[1]
    except OSError as e:
        return [Fault(f"Cannot read config file: {e}")]


def check_config_text(text: str) -> list[str]:
    """The config check of a document: one string per fault, empty when
    the config is OK."""
    return [f.located for f in _decode(text)[1]]


def check_config_file(path: str) -> list[str]:
    return [f.located for f in config_faults(path)]


def report_faults(faults: list) -> int:
    """Print each fault as a CONFIG ERROR line; returns the exit code."""
    for f in faults:
        print(f"CONFIG ERROR: {f}", file=sys.stderr)
    return 1 if faults else 0


def main(argv: Optional[list] = None) -> int:
    """``python -m data_validator_spark.config config.yaml`` — the
    standalone config-check entrypoint (reference ConfigParser main:
    print a message and exit non-zero on error)."""
    args = list(sys.argv[1:] if argv is None else argv)
    if len(args) != 1:
        print("usage: python -m data_validator_spark.config <config.yaml>", file=sys.stderr)
        return 2
    invalid = report_faults(config_faults(args[0]))
    print(f"DATA_VALIDATOR_CONFIG={'INVALID' if invalid else 'OK'}")
    return invalid


if __name__ == "__main__":
    sys.exit(main())
