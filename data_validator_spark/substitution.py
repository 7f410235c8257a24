"""Variable substitution for config values.

Parity: reference VarSubstitution.scala — `$name` / `${name}`
replacement, name = letter followed by [A-Za-z0-9_]*. Four variable
sources (ConfigParser + EnvironmentVariables.scala):
  - value: literal
  - env:   OS environment
  - shell: first line of stdout of a shell command
  - sql:   first column of first row of a Spark SQL statement
"""

from __future__ import annotations

import os
import re
import subprocess
from typing import Any, Optional

from pyspark.sql import SparkSession

# Reference regex (VarSubstitution.scala:141): \$\{?([A-Za-z]\w*)\}?
_VAR_RE = re.compile(r"\$\{?([A-Za-z]\w*)\}?")


class VarSubstitutionError(ValueError):
    pass


class VarSubstitution:
    def __init__(self) -> None:
        self.vars: dict[str, Any] = {}

    def add(self, name: str, value: Any) -> bool:
        """Add a variable; returns True on ERROR (the reference's flag
        convention, VarSubstitution.addString). Adding a name twice
        keeps the FIRST value (VarSubstitutionSpec 'adding var twice
        fails') — this is what makes CLI --vars override config vars:
        Main.scala seeds the dict with CLI vars first, so the config's
        own re-adds are no-ops. Invalid names raise (documented
        fail-fast deviation: the reference logs and continues)."""
        if not re.fullmatch(r"[A-Za-z]\w*", name):
            raise VarSubstitutionError(f"Invalid variable name: {name!r}")
        if name in self.vars:
            import logging

            logging.getLogger(__name__).error(
                "VarSubstitution: '%s' already defined (first value kept)", name
            )
            return True
        self.vars[name] = value
        return False

    def add_env(self, name: str, env_name: Optional[str] = None) -> None:
        env_key = env_name or name
        if env_key not in os.environ:
            raise VarSubstitutionError(f"Environment variable '{env_key}' not found.")
        self.add(name, os.environ[env_key])

    def add_shell(self, name: str, command: str) -> None:
        done = subprocess.run(command, shell=True, capture_output=True, text=True)
        if done.returncode != 0:
            raise VarSubstitutionError(
                f"shell variable '{name}' command {command!r} exited with status {done.returncode}"
            )
        lines = done.stdout.splitlines()
        self.add(name, lines[0] if lines else "")

    def add_sql(self, name: str, sql: str, spark: SparkSession) -> None:
        rows = spark.sql(sql).take(1)
        if not rows:
            raise VarSubstitutionError(f"SQL variable '{name}' query returned no rows: {sql}")
        self.add(name, rows[0][0])

    def replace_string(self, s: str) -> str:
        def sub(m: re.Match) -> str:
            name = m.group(1)
            if name not in self.vars:
                raise VarSubstitutionError(f"Undefined variable: ${name}")
            return str(self.vars[name])

        return _VAR_RE.sub(sub, s)

    def replace(self, value: Any) -> Any:
        """Deep-substitute strings inside any config structure."""
        if isinstance(value, str):
            # a string that is exactly one variable keeps the var's type
            m = _VAR_RE.fullmatch(value)
            if m and m.group(1) in self.vars:
                return self.vars[m.group(1)]
            return self.replace_string(value)
        if isinstance(value, dict):
            return {k: self.replace(v) for k, v in value.items()}
        if isinstance(value, list):
            return [self.replace(v) for v in value]
        return value


def build_dict(
    var_specs: list[dict[str, Any]],
    spark: Optional[SparkSession] = None,
    seed: Optional[dict[str, Any]] = None,
) -> VarSubstitution:
    """Build from the YAML `vars:` list (order matters — later vars may
    reference earlier ones via substitution in their own spec).
    ``seed`` pre-populates the dict (CLI --vars, added FIRST so the
    config's own re-adds keep the CLI value — Main.scala order)."""
    dict_ = VarSubstitution()
    for k, v in (seed or {}).items():
        dict_.add(k, v)
    for spec in var_specs or []:
        spec = dict_.replace(spec)
        name = spec["name"]
        if "value" in spec:
            dict_.add(name, spec["value"])
        elif "env" in spec:
            dict_.add_env(name, spec["env"])
        elif "shell" in spec:
            dict_.add_shell(name, spec["shell"])
        elif "sql" in spec:
            if spark is None:
                raise VarSubstitutionError(f"SQL variable '{name}' requires a SparkSession")
            dict_.add_sql(name, spec["sql"], spark)
        else:
            raise VarSubstitutionError(f"Variable '{name}' has no value/env/shell/sql source")
    return dict_
