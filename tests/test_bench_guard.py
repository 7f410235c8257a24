"""bench.py's artifact contract: the compact stdout line stays within
its budget and the BENCH_FULL artifacts carry the run's conditions. No
Spark needed."""

from __future__ import annotations

import os


def test_compact_line_keeps_query_timings_after_a_contention_retry():
    """A retried run carries both whole passes (attempt1, retry_pass)
    in its artifact; they must not ride the compact line, which would
    blow the budget and leave `"queries": {}`."""
    import json

    from bench import STDOUT_BUDGET, compact_line

    queries = {f"query_{i:03d}": round(0.5 + i / 100, 3) for i in range(150)}
    full_pass = {
        "value": 99.0,
        "queries": queries,
        "runs_sec": {k: [v, v] for k, v in queries.items()},
        "query_start_epoch": {k: 1.7e9 + i for i, k in enumerate(queries)},
    }
    out = {
        "metric": "headline_queries_total",
        "value": 99.0,
        "unit": "sec",
        "queries": queries,
        "sf": 0.1,
        "runs_per_query": 2,
        "prime_pass_sec": 80.0,
        "attempt1": full_pass,
        "retry_pass": full_pass,
        "contended": False,
        "run_conditions": {"cpus": 4, "sf": 0.1, "git_head": "0" * 40, "tree_dirty": False},
    }
    line = compact_line(out, "BENCH_FULL.json")
    assert len(line) <= STDOUT_BUDGET
    parsed = json.loads(line)
    assert parsed["queries"]
    assert "attempt1" not in parsed and "retry_pass" not in parsed
    assert parsed["queries_omitted"] + len(parsed["queries"]) == len(queries)


def test_run_conditions_stamp_carries_code_identity():
    """r19 (r18 verdict item 4 / item 7): every bench artifact must
    carry the run's (cpus, sf) and the code identity it measured, so
    a low-core or stale-tree BENCH_FULL.json can never masquerade as
    the round's 32-core record."""
    from bench import _run_conditions

    cond = _run_conditions("8", 0.1)
    assert cond["cpus"] == 8 and cond["sf"] == 0.1
    assert len(cond.get("git_head", "")) == 40
    assert isinstance(cond.get("tree_dirty"), bool)


def test_tree_dirty_ignores_every_bench_full_artifact():
    """Each run rewrites BENCH_FULL.json AND its stamped
    BENCH_FULL_c{cpus}_sf{sf}.json copy; neither may mark the measured
    tree dirty, while any other changed file must."""
    from bench import _tree_dirty

    artifacts = ["BENCH_FULL.json", "BENCH_FULL_c8_sf0p1.json", "BENCH_FULL_c32_sf0p1.json", ""]
    assert _tree_dirty(artifacts) is False
    assert _tree_dirty([]) is False
    assert _tree_dirty(artifacts + ["bench.py"]) is True
    assert _tree_dirty(["BENCH_r19.json"]) is True


def test_bench_writes_stamped_artifact_copy():
    """Source pin: main() stamps run_conditions into the artifact and
    writes the BENCH_FULL_c{cpus}_sf{sf} copy alongside the canonical
    (overwritable) BENCH_FULL.json."""
    src = open(os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "bench.py")).read()
    assert 'out["run_conditions"] = _run_conditions(cpus, sf)' in src
    assert "BENCH_FULL_c{cpus}_sf" in src
