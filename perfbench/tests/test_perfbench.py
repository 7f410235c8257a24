"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The smoke tests start Spark (about a minute per run); the rest are
pure Python.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import worker  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _digest(path: str) -> dict[str, str]:
    out = {}
    for d, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, path)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


# -- inputs ------------------------------------------------------------------


@pytest.mark.parametrize("kind", sorted(gen.GENERATORS))
def test_generator_is_deterministic(tmp_path, kind):
    a, b, c = (str(tmp_path / x) for x in "abc")
    gen.generate(kind, a, seed=7, scale=0.02)
    gen.generate(kind, b, seed=7, scale=0.02)
    gen.generate(kind, c, seed=8, scale=0.02)
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)


def test_validate_expected_is_deterministic(tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    gen.generate("validate", a, seed=3, scale=0.05)
    gen.generate("validate", b, seed=3, scale=0.05)
    exp = workloads.validate_expected(a)
    assert exp == workloads.validate_expected(b)
    # every check of both tables gets an answer, and the seeded
    # violations and the lineitem key collisions are really there
    assert [len(t) for t in exp] == [len(workloads.WIDE_CHECKS), len(workloads.ORDERS_CHECKS)]
    assert exp[0][1]["errorCount"] > 0
    assert exp[0][13]["duplicates"] > 0


# -- output checks -------------------------------------------------------------


def _report_for(expected):
    """A JSON report that carries exactly the expected numbers."""
    tables = []
    for tbl, exp_checks in zip(workloads.validate_tables("d"), expected):
        checks = []
        for chk, exp in zip(tbl["checks"], exp_checks):
            ev = []
            if "errorCount" in exp:
                ev.append({"type": "counter", "name": "errorCount", "value": exp["errorCount"]})
            elif "rowCount" in exp:
                ev.append({"type": "counter", "name": "rowCount", "value": exp["rowCount"]})
            elif "max" in exp and chk["type"] == "columnMaxCheck":
                ev.append({"type": "columnBasedCheckEvent", "data": {"actual": str(exp["max"])}})
            elif "sum" in exp:
                ev.append({"type": "columnBasedCheckEvent", "data": {"actual": str(exp["sum"])}})
            elif "duplicates" in exp:
                ev.append({"type": "error", "msg": f"{exp['duplicates']} duplicates found!"})
            checks.append({"type": chk["type"], "events": ev, **({} if ev else exp)})
        tables.append({"checks": checks})
    return {"tables": tables}


def test_validate_check_catches_a_wrong_count(tmp_path):
    gen.generate("validate", str(tmp_path), seed=5, scale=0.05)
    expected = workloads.validate_expected(str(tmp_path))
    report = _report_for(expected)
    assert workloads.validate_problems(report, expected) == []
    wrong = json.loads(json.dumps(expected))
    wrong[0][1]["errorCount"] += 1
    assert workloads.validate_problems(report, wrong)


def test_attribute_rolls_children_into_parents():
    spans_ = [
        {"id": 0, "parent": None, "group": "g0"},
        {"id": 1, "parent": 0, "group": "g1"},
    ]
    jobs = [
        {"jobId": 0, "jobGroup": "g0", "stageIds": [0]},
        {"jobId": 1, "jobGroup": "g1", "stageIds": [1, 0]},
        {"jobId": 2, "jobGroup": "other", "stageIds": [2]},
    ]
    stage = {"status": "COMPLETE", "attemptId": 0, "numCompleteTasks": 2, "executorRunTime": 1000}
    stages = [{**stage, "stageId": i} for i in range(3)]
    sql = [
        {
            "successJobIds": [1],
            "nodes": [
                {"metrics": [{"name": "size of files read", "value": "2.0 MiB"}]},
                {"metrics": [{"name": "number of written files", "value": "3"}]},
            ],
        }
    ]
    incl = spans.attribute(spans_, jobs, stages, sql)
    assert incl[1]["tasks"] == 2 and incl[1]["jobs"] == 1  # stage 0 already counted
    assert incl[1]["input_mb"] == 2.0 and incl[1]["scans"] == 1 and incl[1]["files_written"] == 3
    assert incl[0]["tasks"] == 4 and incl[0]["jobs"] == 2 and incl[0]["input_mb"] == 2.0


# -- the metric tables match BENCHMARK.json ---------------------------------------


def test_metric_tables_match_benchmark_json():
    assert [(m["name"], m["unit"]) for m in SPEC["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in SPEC["per_layer"]] == layers.PER_LAYER
    assert sorted(w["name"] for w in SPEC["workloads"]) == sorted(workloads.WORKLOADS)


# -- end to end -------------------------------------------------------------------


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_smoke_prints_every_metric(workload, trace):
    proc = _bench("--workload", workload, "--seed", "1", "--seconds", "0",
                  "--trace", str(trace), "--scale", "0.02")
    res = _result(proc)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 2
    table = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {m["name"]: m["unit"] for m in table}
    assert not os.path.exists(os.path.join(ROOT, run.WORK_DIR))
    # the cold operation, then the untimed warm-up, then the timed ones
    ops = json.loads(proc.stdout.strip().splitlines()[-2])["detail"]["ops"]
    assert [o["warmup"] for o in ops[: worker.WARMUP + 1]] == [False] + [True] * worker.WARMUP
    assert not any(o["warmup"] for o in ops[worker.WARMUP + 1 :])
    assert len(ops) - 1 - worker.WARMUP >= worker.MIN_WARM


def test_wrong_expected_count_raises_error_rate():
    res = _result(
        _bench("--workload", "validate_wide", "--seed", "1", "--seconds", "0",
               "--trace", "1", "--scale", "0.02", "--corrupt-expected")
    )
    assert not res["correct"]
    assert res["failed"] == res["attempted"]
    assert res["metrics"]["error_rate"]["value"] == 1.0


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = _bench("--workload", "validate_wide", "--seed", "1", "--seconds", "1", "--trace", "0",
                  cwd=str(tmp_path))
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
