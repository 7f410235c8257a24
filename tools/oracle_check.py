"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin
on DuckDB at the given SF, then compares row count, column names, and
an order-insensitive value hash.

CRITICAL: both result sets are pulled through *pandas* — Spark via
``toPandas()``, DuckDB via ``res.df()`` — because that is the driver's
path. Comparing python-native ``fetchall()`` values hides dtype drift
the driver will catch: DuckDB HUGEINT sums arrive in pandas as
float64 (``2.0``) while Spark bigint arrives as int64 (``2``), and a
list-typed column crashes pandas ``sort_values`` outright. The r2
grading run failed 7 queries and aborted on exactly those two classes
while this gate (then fetchall-based) reported all green.

Usage: python tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, ".")

def norm_cell(v) -> str:
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, (bytes, bytearray)):
        # Spark toPandas yields bytearray, DuckDB .df() yields bytes;
        # str() renders them differently — normalize via hex
        return bytes(v).hex()
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    if isinstance(v, (datetime.datetime, datetime.date)):
        if pd.isna(v):
            return "NULL"
        return v.isoformat()
    try:
        if pd.isna(v):
            return "NULL"
    except (TypeError, ValueError):
        pass
    return str(v)


def canon(df: pd.DataFrame, side: str) -> pd.DataFrame:
    """Mirror the driver: columns sorted by name, rows sorted by all
    columns via pandas sort_values. Raises on list/array cells — the
    same shape that crashes the driver's canonicalizer."""
    df = df[sorted(df.columns)]
    for c in df.columns:
        if df[c].dtype == object and df[c].map(
            lambda v: isinstance(v, (list, tuple, np.ndarray, dict))
        ).any():
            raise TypeError(
                f"{side} column {c!r} contains list/array-typed values — "
                "this crashes the driver's pandas sort; serialize to a "
                "string (concat_ws / array_to_string) instead"
            )
    if len(df):
        df = df.astype(object).sort_values(
            by=list(df.columns), kind="mergesort", key=lambda s: s.map(norm_cell)
        )
    return df.reset_index(drop=True)


def frame_hash(df: pd.DataFrame) -> str:
    h = hashlib.sha256()
    for row in df.itertuples(index=False):
        h.update("|".join(norm_cell(v) for v in row).encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from data_validator_spark.queries import TABLES
    from data_validator_spark.session import local_session

    spark = local_session("oracle_check")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()

    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            spdf = sdf.toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(
                f"ROWS-ONLY {name}: {len(spdf)} rows, "
                f"cols={list(spdf.columns)} ({time.time()-t0:.1f}s)"
            )
            continue
        try:
            opdf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        problems = []
        if len(spdf) != len(opdf):
            problems.append(f"rows {len(spdf)} vs {len(opdf)}")
        if sorted(spdf.columns) != sorted(opdf.columns):
            problems.append(
                f"cols {sorted(spdf.columns)} vs {sorted(opdf.columns)}"
            )
        if not problems:
            try:
                sc, oc = canon(spdf, "spark"), canon(opdf, "oracle")
            except TypeError as e:
                print(f"FAIL {name}: {e}")
                n_fail += 1
                continue
            sh, oh = frame_hash(sc), frame_hash(oc)
            if sh != oh:
                problems.append(f"hash {sh} vs {oh}")
                # dtypes from the PRE-canon frames: canon() casts to
                # object, so sc/oc dtypes are uniformly 'object' and
                # would never show int64-vs-float64 drift
                sd = dict(spdf[sorted(spdf.columns)].dtypes.astype(str))
                od = dict(opdf[sorted(opdf.columns)].dtypes.astype(str))
                for i in range(min(len(sc), len(oc))):
                    a = [norm_cell(v) for v in sc.iloc[i]]
                    b = [norm_cell(v) for v in oc.iloc[i]]
                    if a != b:
                        problems.append(f"  first diff row {i}: spark={a} duck={b}")
                        break
                if sd != od:
                    problems.append(f"  dtypes: spark={sd} duck={od}")
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            n_fail += 1
        else:
            print(f"PASS {name}: {len(spdf)} rows ({time.time()-t0:.1f}s)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
