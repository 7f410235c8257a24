"""bench.py's compact stdout line for a result set the size of the
whole registry. No Spark needed."""

from __future__ import annotations

import json

import bench
from data_validator_spark.queries import build_registry


def test_bench_stdout_line_fits_driver_capture_window():
    """Callers tail-capture the last 2000 chars of stdout, so the full
    queries dict must not ride the line. compact_line must stay under
    STDOUT_BUDGET for a registry-sized result set with worst-case
    timing widths. An errored query's -1.0 sentinel is counted in
    n_errors and left out of every sum, so omitted and errored stay
    distinguishable."""
    results = {name: 123.456 for name in build_registry()[0]}
    results[next(iter(results))] = -1.0
    out = {
        "metric": "headline_queries_total",
        "value": round(sum(v for v in results.values() if v > 0), 3),
        "unit": "sec",
        "queries": results,
        "sf": 0.1,
        "runs_per_query": 2,
        "cold_total_sec": 12345.678,
        "queries_cold": results,
        "cc_chain": {
            "propagation_sec": 7.772, "propagation_rounds": 32,
            "star_sec": 7.303, "star_rounds": 6,
        },
        "run_conditions": {"cpus": 4, "sf": 0.1, "git_head": "0" * 40, "tree_dirty": False},
    }
    line = bench.compact_line(out, "BENCH_FULL.json")
    assert len(line) <= bench.STDOUT_BUDGET
    parsed = json.loads(line)
    assert parsed["value"] == out["value"]
    assert parsed["queries"]  # at least some per-query detail survives
    assert "queries_cold" not in parsed
    assert parsed["queries_omitted"] + len(parsed["queries"]) == len(results)
    assert parsed["n_errors"] == 1
    assert parsed["cold_total_sec"] == out["cold_total_sec"]
    assert parsed["fast_queries_total_sec"] >= 0
