"""Workload definitions: what one operation is, and how its output is
checked.

Each workload names the generators that make its inputs, the program
modules its process imports before building the session (as the
program's entry points import them before theirs), the operation the
closed-loop client repeats, and the output check that feeds the
``failed`` count. Expected answers come
from DuckDB on the generated files, computed before the program's
process starts.
"""

from __future__ import annotations

import os
import re
from typing import Any

import yaml

# -- validate_wide ----------------------------------------------------------

# `$dataDir` comes from an env: var, `$flagRegex` from a shell: var and
# `$minQty` from a sql: var, so every variable source is resolved on the
# measured path.
VALIDATE_VARS = [
    {"name": "dataDir", "env": "PERFBENCH_DATA_DIR"},
    {"name": "flagRegex", "shell": "echo '^[ANR]$'"},
    {"name": "minQty", "sql": "SELECT 1"},
]
RESOLVED_VARS = {"flagRegex": "^[ANR]$", "minQty": 1}

WIDE_CHECKS = [
    {"type": "rowCount", "minNumRows": 100},
    {"type": "nullCheck", "column": "l_quantity", "threshold": "1%"},
    {"type": "nullCheck", "column": "l_shipdate"},
    {"type": "negativeCheck", "column": "l_extendedprice"},
    {"type": "negativeCheck", "column": "l_tax"},
    {"type": "rangeCheck", "column": "l_discount", "minValue": 0.0, "maxValue": 0.1, "inclusive": True},
    {"type": "rangeCheck", "column": "l_quantity", "minValue": "$minQty", "maxValue": 50, "inclusive": True},
    {"type": "rangeCheck", "column": "l_tax", "minValue": 0.0, "maxValue": 0.08},
    {"type": "stringLengthCheck", "column": "l_comment", "minLength": 3, "maxLength": 40},
    {"type": "stringRegexCheck", "column": "l_returnflag", "regex": "$flagRegex"},
    {"type": "stringRegexCheck", "column": "l_linestatus", "regex": "^[OF]$"},
    {"type": "columnMaxCheck", "column": "l_linenumber", "value": 7},
    {"type": "columnSumCheck", "column": "l_tax", "minValue": 0, "maxValue": 1_000_000_000},
    {"type": "uniqueCheck", "columns": ["l_orderkey", "l_linenumber"]},
    {"type": "uniqueCheck", "columns": ["l_partkey", "l_suppkey"]},
    {"type": "colstats", "column": "l_quantity"},
    {"type": "colstats", "column": "l_extendedprice"},
    {"type": "colstats", "column": "l_discount"},
]
ORDERS_CONDITION = "o_orderstatus = 'F'"
ORDERS_CHECKS = [
    {"type": "rowCount", "minNumRows": 10},
    {"type": "negativeCheck", "column": "o_totalprice"},
]


def validate_tables(data: str | None = None) -> list[dict[str, Any]]:
    """The config's `tables:` list; with ``data`` the `$dataDir`
    placeholder is resolved (the DuckDB side), without it it stays for
    the program to resolve."""
    root = data if data is not None else "${dataDir}"
    return [
        {
            "parquetFile": f"{root}/lineitem",
            "keyColumns": ["l_orderkey", "l_linenumber"],
            "checks": WIDE_CHECKS,
        },
        {
            "parquetFile": f"{root}/orders.parquet",
            "keyColumns": ["o_orderkey"],
            "condition": ORDERS_CONDITION,
            "checks": ORDERS_CHECKS,
        },
    ]


def validate_config_text() -> str:
    return yaml.safe_dump(
        {
            "numKeyCols": 2,
            "numErrorsToReport": 5,
            "detailedErrors": True,
            "vars": VALIDATE_VARS,
            "tables": validate_tables(),
        },
        sort_keys=False,
    )


def _resolve(v: Any) -> Any:
    if isinstance(v, str) and v.startswith("$"):
        return RESOLVED_VARS[v[1:]]
    return v


def _sql_lit(v: Any) -> str:
    return f"'{v}'" if isinstance(v, str) else repr(v)


def _row_test(chk: dict[str, Any]) -> str | None:
    """DuckDB twin of a row-based check's failing-row predicate."""
    c, t = chk.get("column"), chk["type"]
    if t == "nullCheck":
        return f"{c} IS NULL"
    if t == "negativeCheck":
        return f"{c} < 0"
    if t == "rangeCheck":
        lo, hi = _resolve(chk.get("minValue")), _resolve(chk.get("maxValue"))
        lt, gt = ("<", ">") if chk.get("inclusive") else ("<=", ">=")
        return f"({c} {lt} {lo} OR {c} {gt} {hi})"
    if t == "stringLengthCheck":
        return f"(length({c}) < {chk['minLength']} OR length({c}) > {chk['maxLength']})"
    if t == "stringRegexCheck":
        rx = _resolve(chk["regex"])
        return f"(NOT regexp_matches({c}, {_sql_lit(rx)}) AND {c} IS NOT NULL)"
    return None


def validate_expected(data: str) -> list[list[dict[str, Any]]]:
    """Per table, per check: the numbers the report must carry. One
    DuckDB thread keeps float sums in one order, so a seed always gives
    the same answers."""
    import duckdb

    con = duckdb.connect(config={"threads": 1})
    out = []
    for tbl in validate_tables(data):
        path = tbl["parquetFile"]
        src = f"read_parquet('{path}/*.parquet')" if os.path.isdir(path) else f"read_parquet('{path}')"
        where = f"WHERE {tbl['condition']}" if tbl.get("condition") else ""
        rel = f"(SELECT * FROM {src} {where})"
        q = lambda s: con.execute(s).fetchone()  # noqa: E731
        exp = []
        for chk in tbl["checks"]:
            t, c = chk["type"], chk.get("column")
            test = _row_test(chk)
            if test is not None:
                exp.append({"errorCount": q(f"SELECT count(*) FILTER (WHERE {test}) FROM {rel}")[0]})
            elif t == "rowCount":
                exp.append({"rowCount": q(f"SELECT count(*) FROM {rel}")[0]})
            elif t == "columnMaxCheck":
                exp.append({"max": float(q(f"SELECT max({c}) FROM {rel}")[0])})
            elif t == "columnSumCheck":
                exp.append({"sum": float(q(f"SELECT sum({c}) FROM {rel}")[0])})
            elif t == "uniqueCheck":
                cols = ", ".join(chk["columns"])
                exp.append(
                    {
                        "duplicates": q(
                            f"SELECT count(*) FROM (SELECT {cols} FROM {rel} "
                            f"GROUP BY {cols} HAVING count(*) > 1)"
                        )[0]
                    }
                )
            elif t == "colstats":
                n, mean, lo, hi = q(
                    f"SELECT count({c}), avg(CAST({c} AS DOUBLE)), min(CAST({c} AS DOUBLE)), "
                    f"max(CAST({c} AS DOUBLE)) FROM {rel}"
                )
                exp.append({"count": n, "mean": mean, "min": lo, "max": hi})
        out.append(exp)
    con.close()
    return out


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))


def _counter(events: list[dict], name: str) -> int | None:
    for e in events:
        if e.get("type") == "counter" and e.get("name") == name:
            return int(e["value"])
    return None


def validate_problems(report: dict[str, Any], expected: list[list[dict]]) -> list[str]:
    """Compare one JSON report against the DuckDB answers; [] when
    every number matches. A check that reports FAIL is not a problem —
    the inputs carry seeded violations on purpose."""
    problems = []
    tables = report.get("tables", [])
    if len(tables) != len(expected):
        return [f"report has {len(tables)} tables, expected {len(expected)}"]
    for ti, (tbl, exp_checks) in enumerate(zip(tables, expected)):
        checks = tbl["checks"]
        if len(checks) != len(exp_checks):
            problems.append(f"table {ti}: {len(checks)} checks, expected {len(exp_checks)}")
            continue
        for ci, (got, exp) in enumerate(zip(checks, exp_checks)):
            ev = got.get("events", [])
            where = f"table {ti} check {ci} ({got.get('type')})"
            if "errorCount" in exp:
                actual = _counter(ev, "errorCount")
                if actual != exp["errorCount"]:
                    problems.append(f"{where}: errorCount {actual} != {exp['errorCount']}")
            elif "rowCount" in exp:
                actual = _counter(ev, "rowCount")
                if actual != exp["rowCount"]:
                    problems.append(f"{where}: rowCount {actual} != {exp['rowCount']}")
            elif got.get("type") in ("columnMaxCheck", "columnSumCheck"):
                key = "max" if "max" in exp else "sum"
                data = next((e["data"] for e in ev if e.get("type") == "columnBasedCheckEvent"), {})
                try:
                    ok = _close(float(data.get("actual")), exp[key])
                except (TypeError, ValueError):
                    ok = False
                if not ok:
                    problems.append(f"{where}: {key} {data.get('actual')} != {exp[key]}")
            elif "duplicates" in exp:
                actual = 0
                for e in ev:
                    m = re.match(r"(\d+) duplicates found!", e.get("msg", ""))
                    if m:
                        actual = int(m.group(1))
                if actual != exp["duplicates"]:
                    problems.append(f"{where}: duplicates {actual} != {exp['duplicates']}")
            else:
                if got.get("count") != exp["count"]:
                    problems.append(f"{where}: count {got.get('count')} != {exp['count']}")
                for k in ("mean", "min", "max"):
                    if got.get(k) is None or not _close(float(got[k]), exp[k]):
                        problems.append(f"{where}: {k} {got.get(k)} != {exp[k]}")
    return problems


# -- pipeline_registry: the corpus pipeline ----------------------------------------------------------

PIPELINE_LANGS = ["en", "de", "fr", "es"]


def pipeline_config(sink: str) -> dict[str, Any]:
    return {
        "pipeline": {
            "source": {"table": "documents"},
            "steps": [
                {"dedupExact": {}},
                {"qualityFilter": {"minScore": 0.8}},
                {"langFilter": {"langs": PIPELINE_LANGS}},
                {"split": {}},
                {"tokenCount": {}},
                {"piiScrub": {}},
            ],
            "sink": {"path": sink, "partitionBy": ["lang", "split"]},
        }
    }


def pipeline_problems(summary: dict[str, Any], sink: str) -> list[str]:
    """Invariants of the written sink, read back with DuckDB: rows match
    the summary, no duplicate text fingerprint, only allowed langs."""
    import duckdb

    con = duckdb.connect()
    try:
        n, distinct, bad_lang = con.execute(
            f"SELECT count(*), count(DISTINCT md5(text)), "
            f"count(*) FILTER (WHERE lang NOT IN ({', '.join(map(_sql_lit, PIPELINE_LANGS))})) "
            f"FROM read_parquet('{sink}/**/*.parquet', hive_partitioning = true)"
        ).fetchone()
    finally:
        con.close()
    problems = []
    if not summary.get("written") or summary.get("rows") != n:
        problems.append(f"summary {summary} but {n} rows read back")
    if n == 0:
        problems.append("pipeline kept no rows")
    if distinct != n:
        problems.append(f"{n - distinct} duplicate fingerprints in the sink")
    if bad_lang:
        problems.append(f"{bad_lang} rows with a language outside {PIPELINE_LANGS}")
    return problems


# -- pipeline_registry: the registry pass ------------------------------------------------------------

# rfm_segments reads the at-rest orders copy bucketed by customer (built
# by the first operation) and keeps its relation and segment bounds in
# session caches, so one query reaches both layers. More queries would
# mostly add cold-start time, which the run budget cannot carry.
REGISTRY_QUERIES = ["rfm_segments"]
ORACLE_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"]


def oracle_hashes(data: str) -> dict[str, list]:
    """[rows, sorted columns, canonical hash] of each registry query's
    DuckDB oracle, canonicalized exactly as tools/oracle_check.py does."""
    import duckdb

    from data_validator_spark.queries import build_registry
    from tools.oracle_check import canon, frame_hash

    oracles = build_registry()[1]
    con = duckdb.connect()
    for t in ORACLE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    out = {}
    for name in REGISTRY_QUERIES:
        pdf = con.execute(oracles[name]).df()
        out[name] = [len(pdf), sorted(pdf.columns), frame_hash(canon(pdf, "oracle"))]
    con.close()
    return out


def registry_problems(results: dict, expected: dict[str, list]) -> list[str]:
    """Each query's collected result against its oracle's hash."""
    from tools.oracle_check import canon, frame_hash

    problems = []
    for name in REGISTRY_QUERIES:
        pdf = results[name]
        got = [len(pdf), sorted(pdf.columns), frame_hash(canon(pdf, "spark"))]
        if got != expected[name]:
            problems.append(f"{name}: spark {got} != oracle {expected[name]}")
    return problems


# -- shared -------------------------------------------------------------------

WORKLOADS = {
    "validate_wide": {
        "gen": ["validate"],
        "imports": ["data_validator_spark.config", "data_validator_spark.runner", "data_validator_spark.report"],
    },
    "pipeline_registry": {
        "gen": ["docs", "tpch"],
        "imports": ["data_validator_spark.pipeline", "data_validator_spark.queries"],
    },
}
