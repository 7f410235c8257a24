"""Guards against the two representation classes that burned the r2
grading run: DuckDB HUGEINT sums (pandas renders them float64 while
Spark emits int64 — silent hash mismatch) and list/struct-typed output
columns (they crash pandas sort_values in the grading harness and
abort every query graded after them).

These checks are cheap: DESCRIBE binds the oracle SQL without
executing it, and the Spark side only inspects lazy schemas for
non-streaming queries (streaming entries execute on construction; the
comparator-facing shape of those is already scalar-only by code
review + tests/test_streaming.py).
"""

from __future__ import annotations

import duckdb
import pytest

from data_validator_spark.queries import TABLES

SF = "/root/testdata/sf0.001"

# DataFrame construction triggers execution for these (streaming runs
# to completion; dedup_clusters iterates) — schema is covered by their
# own tests instead.
EAGER_QUERIES = {
    "streaming_windowed", "streaming_validation", "streaming_sessionized",
    "streaming_dedup", "streaming_enriched", "dedup_clusters",
    # index build/refresh writes the bucketed table on construction
    "dedup_index_refresh",
}


@pytest.fixture(scope="module")
def registry():
    import __spark_entry__ as entry

    return entry.queries(), entry.oracle_sql()


def test_no_hugeint_or_nested_types_in_oracles(registry):
    _, oracles = registry
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    bad = {}
    for name, sql in oracles.items():
        desc = con.execute(f"DESCRIBE {sql}").fetchall()
        offending = {
            col: typ
            for col, typ, *_ in desc
            if typ in ("HUGEINT", "UHUGEINT")
            or "[]" in typ
            or typ.startswith(("STRUCT", "MAP", "LIST"))
        }
        if offending:
            bad[name] = offending
    assert not bad, (
        "oracle SQL emits driver-unsafe column types (CAST sums to "
        f"BIGINT; serialize lists with array_to_string): {bad}"
    )


def test_no_nested_types_in_registered_spark_outputs(spark, registry):
    qs, _ = registry
    bad = {}
    for name, fn in qs.items():
        if name in EAGER_QUERIES:
            continue
        df = fn(spark, SF)
        offending = {
            f.name: f.dataType.simpleString()
            for f in df.schema.fields
            if any(k in f.dataType.simpleString() for k in ("array", "struct", "map"))
        }
        if offending:
            bad[name] = offending
    assert not bad, (
        "registered queries emit nested-typed columns (crashes the "
        f"harness's pandas canonicalizer — serialize to string): {bad}"
    )
