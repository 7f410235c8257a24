"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One run:

1. generates the workload's inputs from ``--seed`` under
   ``.perfbench_work/`` (time logged to stderr, kept out of every
   metric) and, for validate_wide, the DuckDB answers to compare with;
2. starts the measured process (perfbench/worker.py) in a fresh
   interpreter: it builds the session the way the program's entry
   points do (set-up time is measured from the spawn to the ready
   session), runs one operation cold, the workload's untimed warm-up
   operations, then timed warm operations for ``--seconds`` (at least
   three), and checks every output;
3. prints one detail line, then the result line
   ``{"correct", "attempted", "failed", "metrics"}`` as the last line:
   the end-to-end metrics when untraced, the per-layer metrics when
   traced (``--trace 1``);
4. deletes everything it wrote and waits for every process it started.

``--scale`` shrinks the inputs (tests only); ``--corrupt-expected``
perturbs one expected answer so the output check must fail.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from worker import MIN_WARM, WARMUP, steal_s  # noqa: E402

RUN_BUDGET_S = 170.0  # the whole run ends within this
STOP_MARGIN_S = 40.0  # no operation starts later than this before the budget ends
WORK_DIR = ".perfbench_work"

# The median warm wall time is printed in the detail line but carries no
# bound: a warm operation is ~20 small Spark jobs, latency-bound, and
# hypervisor steal on a shared host stretches it 1.5-2x, so its spread
# over ten seeds exceeds any bound the benchmark may set. CPU per warm
# operation moves far less under steal and stands in for it. It is the
# mean CPU of the warm-up and the first MIN_WARM timed operations, a
# count every run reaches: the JIT compiles in the background and its
# work lands on whichever operation it overlaps, so a per-operation
# median swings with that timing while the total does not.
END_TO_END = [
    ("setup_s", "s"),
    ("first_run_s", "s"),
    ("warm_cpu_s", "s"),
    ("peak_rss_mb", "MB"),
]


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _group_alive(pgid: int) -> bool:
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def end_group(pgid: int, grace_s: float) -> None:
    """Give the process group ``grace_s`` to exit, then kill what is
    left and wait until every member has ended."""
    stop = time.time() + grace_s
    while _group_alive(pgid) and time.time() < stop:
        time.sleep(0.1)
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    while _group_alive(pgid):
        time.sleep(0.05)


def spawn(args, work: str, data: str, env: dict, deadline: float) -> dict | None:
    """Run worker.py in its own process group; returns its result, or
    None when it failed or ran out of time. Every process of the group
    (the interpreter and the JVM it launched) has ended on return."""
    out = os.path.join(work, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--work", work, "--data", data,
        "--seconds", str(args.seconds), "--trace", str(args.trace), "--out", out,
        "--stop-at", repr(deadline - STOP_MARGIN_S),
    ]
    with open(os.path.join(work, "worker.log"), "a") as logf:
        spawn_ts = time.time()
        proc = subprocess.Popen(
            cmd + ["--spawn-ts", repr(spawn_ts)],
            env=env, stdout=logf, stderr=subprocess.STDOUT, start_new_session=True,
        )
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            log("worker ran out of time; killing it")
            rc = None
        except BaseException:  # interrupted or terminated: take the worker down too
            end_group(proc.pid, grace_s=0)
            raise
    # the JVM exits on its own once the interpreter is gone
    end_group(proc.pid, grace_s=15)
    log(f"worker ended after {time.time() - spawn_ts:.1f}s")
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(work, "worker.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        log(f"worker exited with {rc}")
        return None
    with open(out) as f:
        result = json.load(f)
    os.remove(out)
    return result


def run_conditions(root: str, steal0: float) -> dict:
    """cpus, git head, whether the tree differs from it, and the steal
    time accrued during the run. The benchmark's own scratch directory
    is never counted as a change."""
    cond = {
        "cpus": len(os.sched_getaffinity(0)),
        "git_head": None,
        "dirty": None,
        "steal_s": steal_s() - steal0,
    }
    try:
        head = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True, timeout=10
        )
        if head.returncode == 0:
            cond["git_head"] = head.stdout.strip()
            st = subprocess.run(
                ["git", "status", "--porcelain", "--untracked-files=all"],
                cwd=root, capture_output=True, text=True, timeout=10,
            )
            changed = [
                line for line in st.stdout.splitlines() if not line[3:].startswith(WORK_DIR + "/")
            ]
            cond["dirty"] = bool(changed)
    except (OSError, subprocess.SubprocessError):
        pass
    return cond


def summary(values: list[float]) -> dict:
    """Median, sample count, extremes, and the highest percentile that
    still has ten samples above it (only from 11 samples on)."""
    n = len(values)
    d = {"n": n, "median": statistics.median(values), "min": min(values), "max": max(values)}
    if n > 10:
        p = int(100 * (1 - 10 / n))
        d[f"p{p}"] = statistics.quantiles(values, n=100)[p - 1]
    return d


def main(argv=None) -> int:
    import gen
    import workloads

    p = argparse.ArgumentParser(prog="perfbench")
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0)
    p.add_argument("--corrupt-expected", action="store_true")
    args = p.parse_args(argv)
    # a terminated run still stops its worker and deletes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))

    t_begin, steal0 = time.time(), steal_s()
    deadline = t_begin + RUN_BUDGET_S
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "data_validator_spark", "__init__.py")):
        log(f"no data_validator_spark package under {root}; run from the repository root")
        return 2
    sys.path.insert(0, root)
    os.makedirs(os.path.join(root, WORK_DIR), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(root, WORK_DIR))
    try:
        spec = workloads.WORKLOADS[args.workload]
        data = os.path.join(work, "data")
        for kind in spec["gen"]:
            gen.generate(kind, data, args.seed, args.scale)
        if args.workload == "validate_wide":
            expected = workloads.validate_expected(data)
            if args.corrupt_expected:
                expected[0][1]["errorCount"] += 1
        else:
            expected = workloads.oracle_hashes(data)
        with open(os.path.join(work, "expected.json"), "w") as f:
            json.dump(expected, f)
        log(f"inputs for seed {args.seed} generated in {time.time() - t_begin:.2f}s")
        for d in ("local", "tmp"):
            os.makedirs(os.path.join(work, d))
        env = dict(
            os.environ,
            SPARK_LOCAL_DIRS=os.path.join(work, "local"),
            TMPDIR=os.path.join(work, "tmp"),
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            PERFBENCH_DATA_DIR=data,
            PYTHONDONTWRITEBYTECODE="1",
        )
        res = spawn(args, work, data, env, deadline)
        if res is None:
            return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(root, WORK_DIR))
        except OSError:
            pass

    ops = res["ops"]
    warm = [o for o in ops[1:] if not o["warmup"]]
    if not warm:
        log("no warm operation finished within the run budget")
        return 1
    attempted, failed = len(ops), sum(1 for o in ops if not o["ok"])
    for msg in res["problems"]:
        log(f"output check: {msg}")
    if args.trace:
        values = dict(res["layers"])
        values["session.build_s"] = res["session_build_s"]
        values["error_rate"] = failed / attempted
        from layers import UNITS

        metrics = {k: {"value": values[k], "unit": u} for k, u in UNITS.items()}
    else:
        values = {
            "setup_s": res["setup_s"],
            "first_run_s": ops[0]["wall"],
            "warm_cpu_s": statistics.fmean(o["cpu"] for o in ops[1 : 1 + WARMUP + MIN_WARM]),
            "peak_rss_mb": res["peak_rss_mb"],
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END}
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "run_conditions": run_conditions(root, steal0),
        "warm_run_s": summary([o["wall"] for o in warm]),
        "ops": ops,
        "unwrapped": res.get("unwrapped"),
        "self_s": res.get("self_s"),
        "spans": res.get("spans"),
    }
    print(json.dumps({"detail": detail}))
    print(
        json.dumps(
            {
                "correct": failed == 0 and not res["problems"],
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
