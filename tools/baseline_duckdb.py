"""Measure the single-node native baseline: run every registry query's
DuckDB oracle SQL on the same parquet at the bench scale factor and
print one JSON line of best-of-2 per-query seconds.

This is the comparator recorded in BASELINE.md — identical queries,
identical data, a state-of-the-art single-node engine with no
job-scheduling overhead. Usage:

    python tools/baseline_duckdb.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

def main() -> int:
    import duckdb

    import __spark_entry__ as entry
    from data_validator_spark.queries import TABLES

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

    con = duckdb.connect()
    con.execute(f"PRAGMA threads={os.cpu_count()}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    times: dict[str, float] = {}
    # registry order; rows-only ops have no SQL twin
    for name, sql in entry.oracle_sql().items():
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            con.sql(sql).fetchall()
            best = min(best, time.time() - t0)
        times[name] = round(best, 3)

    print(
        json.dumps(
            {
                "metric": "duckdb_oracle_total",
                "value": round(sum(times.values()), 3),
                "unit": "sec",
                "queries": times,
                "sf_dir": sf_dir,
                "runs_per_query": 2,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
