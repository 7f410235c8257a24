"""bench.py's contract: every query is timed cold (first run after
evicting the session caches) and warm (best of the other runs), bench
names no query of its own, the compact stdout line stays within its
budget, and the BENCH_FULL artifacts carry the run's conditions. No
Spark needed."""

from __future__ import annotations

import os
import types

import bench

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_compact_line_keeps_query_timings_after_a_contention_retry():
    """A retried run carries both whole passes (attempt1, retry_pass)
    in its artifact; they must not ride the compact line, which would
    blow the budget and leave `"queries": {}`."""
    import json

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
        "cold_total_sec": 80.0,
        "attempt1": full_pass,
        "retry_pass": full_pass,
        "run_conditions": {"cpus": 4, "sf": 0.1, "git_head": "0" * 40, "tree_dirty": False},
    }
    line = bench.compact_line(out, "BENCH_FULL.json")
    assert len(line) <= bench.STDOUT_BUDGET
    parsed = json.loads(line)
    assert parsed["queries"]
    assert "attempt1" not in parsed and "retry_pass" not in parsed
    assert parsed["queries_omitted"] + len(parsed["queries"]) == len(queries)
    assert parsed["n_errors"] == 0
    assert parsed["cold_total_sec"] == out["cold_total_sec"]


def test_bench_names_no_registry_query():
    """bench.py times build_registry() and nothing else: no string in
    it may name a registry query (an untimed prime list, a headline
    list or an ordering rule would)."""
    import ast

    from data_validator_spark.queries import build_registry

    with open(os.path.join(ROOT, "bench.py")) as f:
        tree = ast.parse(f.read())
    strings = {
        n.value for n in ast.walk(tree)
        if isinstance(n, ast.Constant) and isinstance(n.value, str)
    }
    named = sorted(strings & build_registry()[0].keys())
    assert not named, f"bench.py names registry queries: {named}"


def test_time_query_evicts_once_then_times_cold_and_warm(monkeypatch):
    """Evict runs once, before the first run; cold is the first run and
    warm the best of the others, even when the first run is the
    fastest; RUNS defaults to 3 and is never below 2."""
    clock = [0.0]
    events: list[str] = []
    monkeypatch.setattr(bench, "time", types.SimpleNamespace(time=lambda: clock[0]))

    def fake_query(durations):
        it = iter(durations)

        def run():
            events.append("run")
            clock[0] += next(it)

        return run

    cold, warm, times = bench.time_query(
        fake_query([5.0, 2.0, 1.0, 3.0]), lambda: events.append("evict"), 4
    )
    assert events == ["evict", "run", "run", "run", "run"]
    assert (cold, warm, times) == (5.0, 1.0, [5.0, 2.0, 1.0, 3.0])

    events.clear()
    cold, warm, _ = bench.time_query(
        fake_query([0.5, 2.0, 3.0]), lambda: events.append("evict"), 3
    )
    assert events == ["evict", "run", "run", "run"]
    assert (cold, warm) == (0.5, 2.0)

    # one cold run plus at least one warm run, whatever RUNS says
    monkeypatch.delenv("SPARK_GRAFT_BENCH_RUNS", raising=False)
    assert bench.runs_per_query() == 3
    for value, runs in (("0", 2), ("1", 2), ("2", 2), ("5", 5)):
        monkeypatch.setenv("SPARK_GRAFT_BENCH_RUNS", value)
        assert bench.runs_per_query() == runs


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
    src = open(os.path.join(ROOT, "bench.py")).read()
    assert 'out["run_conditions"] = _run_conditions(cpus, sf)' in src
    assert "BENCH_FULL_c{cpus}_sf" in src
