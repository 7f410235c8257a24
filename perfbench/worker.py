"""One benchmark process: build the session the way the program's
entry points do, then run one workload as a closed loop with a single
client (the next operation starts when the previous one returned).

    python3 perfbench/worker.py --workload W --work DIR --data DIR \
        --spawn-ts T --seconds S --trace 0|1 --out FILE [--stop-at T]

The result is written as JSON to ``--out``; run.py turns it into
metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib
import json
import os
import shutil
import sys
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

# After the cold operation the JIT keeps compiling for a few more
# operations (each runs 15-25% faster than the one before); WARMUP of
# them are run and checked but not timed, and --seconds starts after
# them.
WARMUP = 2
MIN_WARM = 3  # timed warm operations run even when --seconds has passed
# A traced run traces the cold operation, leaves the warm-up untraced,
# then alternates T U U T, so the overhead estimate is not skewed by
# drift within the run.
MIN_WARM_TRACED = 4


# -- /proc accounting of this process and its children (the JVM) -----------


def _tree(pid: int) -> list[int]:
    out = [pid]
    for p in out:
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def cpu_s() -> float:
    """user+sys CPU seconds of this process and its live descendants."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in _tree(os.getpid()):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += int(fields[11]) + int(fields[12])
        except OSError:
            pass
    return total / tick


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests (all cpus, seconds):
    its growth over a run or an operation shows host contention."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def peak_rss_mb() -> float:
    """Sum of the peak resident sets (VmHWM) of the process tree."""
    kb = 0
    for p in _tree(os.getpid()):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024


def du(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for d, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


# -- session ---------------------------------------------------------------------


def build_session(workload: str, warehouse: str):
    """The CLI's builder (cli.py): AQE on, engine confs applied on the
    builder and again on the live session. The pipeline entry point
    also pins the session time zone, so its workload does too."""
    from pyspark.sql import SparkSession

    from data_validator_spark.session import apply_engine_confs, ensure_engine_confs

    builder = (
        SparkSession.builder.master(f"local[{len(os.sched_getaffinity(0))}]")
        .appName(f"perfbench-{workload}")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.warehouse.dir", warehouse)
    )
    if workload == "pipeline_registry":
        builder = builder.config("spark.sql.session.timeZone", "UTC")
    spark = apply_engine_confs(builder).getOrCreate()
    ensure_engine_confs(spark)
    return spark


# -- workloads: op(i) -> output, check(output) -> problems ---------------------


class Workload:
    def __init__(self, spark, args) -> None:
        self.spark = spark
        self.args = args
        self.tracer = None  # set while an operation is traced
        self.info: dict[str, object] = {}

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()


class ValidateWide(Workload):
    def __init__(self, *a) -> None:
        super().__init__(*a)
        import workloads

        self.cfg = os.path.join(self.args.work, "validate.yaml")
        with open(self.cfg, "w") as f:
            f.write(workloads.validate_config_text())
        with open(os.path.join(self.args.work, "expected.json")) as f:
            self.expected = json.load(f)
        self.source_bytes = du(os.path.join(self.args.data, "lineitem")) + du(
            os.path.join(self.args.data, "orders.parquet")
        )

    def op(self, i: int):
        from data_validator_spark import config, report, runner

        cfg = config.load_config(self.cfg, self.spark, {})
        for out in cfg.outputs:
            report.check_output_target(out, self.spark)
        rep = runner.run_config(self.spark, cfg)
        path = os.path.join(self.args.work, f"report-{i}.json")
        with self.span("report.write"):
            with open(path, "w") as f:
                f.write(report.report_json(rep))
        return path

    def check(self, path) -> list[str]:
        import workloads

        self.info["report_kb"] = os.path.getsize(path) / 1024
        with open(path) as f:
            rep = json.load(f)
        os.remove(path)
        return workloads.validate_problems(rep, self.expected)


class PipelineRegistry(Workload):
    """The corpus pipeline into a fresh partitioned sink, then one pass
    over the registry queries, each collected into pandas as the
    oracle check reads it. The at-rest bucketed copies and session
    caches they read are built by the first operation and reused by
    the later ones."""

    def __init__(self, *a) -> None:
        super().__init__(*a)
        self.source_bytes = du(os.path.join(self.args.data, "documents.parquet"))
        with open(os.path.join(self.args.work, "expected.json")) as f:
            self.expected = json.load(f)
        self.queries = None

    def op(self, i: int):
        import yaml

        import workloads
        from data_validator_spark import pipeline
        from data_validator_spark.queries import build_registry

        sink = os.path.join(self.args.work, "sink", f"op{i}")
        parsed = pipeline.parse_pipeline(yaml.safe_dump(workloads.pipeline_config(sink)))
        summary = pipeline.run_pipeline(self.spark, parsed, self.args.data)
        results = {}
        with self.span("queries.pass"):
            if self.queries is None:
                self.queries = build_registry()[0]
            for name in workloads.REGISTRY_QUERIES:
                with self.span(f"queries.{name}"):
                    results[name] = self.queries[name](self.spark, self.args.data).toPandas()
        return summary, sink, results

    def check(self, out) -> list[str]:
        import workloads

        summary, sink, results = out
        self.info["rows_out"] = summary.get("rows", 0)
        self.info["sink_bytes"] = du(sink)
        problems = workloads.pipeline_problems(summary, sink)
        shutil.rmtree(sink, ignore_errors=True)
        return problems + workloads.registry_problems(results, self.expected)


WORKLOADS = {
    "validate_wide": ValidateWide,
    "pipeline_registry": PipelineRegistry,
}


# -- the loop ----------------------------------------------------------------------


def run(spark, args) -> dict:
    from spans import SparkRest, Tracer

    wl = WORKLOADS[args.workload](spark, args)
    tracer = Tracer(spark) if args.trace else None
    rest = SparkRest(spark) if args.trace else None
    ops: list[dict] = []
    problems: list[str] = []
    deadline = None
    i = 0
    min_warm = MIN_WARM_TRACED if args.trace else MIN_WARM
    while True:
        timed = len(ops) - 1 - WARMUP
        if (i > 0 and time.time() > args.stop_at) or (
            deadline is not None and time.perf_counter() >= deadline and timed >= min_warm
        ):
            break
        warmup = 0 < i <= WARMUP
        traced = bool(args.trace) and (i == 0 or (timed >= 0 and timed % 4 in (0, 3)))
        if traced:
            tracer.run_id = i
            tracer.install()
            wl.tracer = tracer
        c0, s0, t0 = cpu_s(), steal_s(), time.perf_counter()
        try:
            out = wl.op(i)
            err = None
        except Exception as e:  # a failed operation is counted, the loop goes on
            out, err = None, f"op {i} raised {type(e).__name__}: {e}"
        wall, cpu, steal = time.perf_counter() - t0, cpu_s() - c0, steal_s() - s0
        if traced:
            wl.tracer = None
            tracer.uninstall()
        try:
            op_problems = [err] if err else wl.check(out)
        except Exception as e:  # an output that cannot be checked is a failed one
            op_problems = [f"op {i} output check raised {type(e).__name__}: {e}"]
        rec = {
            "i": i, "wall": wall, "cpu": cpu, "steal": steal,
            "warmup": warmup, "traced": traced, "ok": not op_problems,
        }
        rec.update(wl.info)
        if traced:
            rec["spark"] = rest.snapshot()
        ops.append(rec)
        problems.extend(op_problems)
        if deadline is None and i == WARMUP:
            deadline = time.perf_counter() + args.seconds
        i += 1
    result = {
        "ops": [{k: v for k, v in r.items() if k != "spark"} for r in ops],
        "problems": problems[:20],
        "peak_rss_mb": peak_rss_mb(),
    }
    if args.trace:
        import layers

        wh_bytes = du(os.path.join(args.work, "warehouse"))
        result["layers"] = layers.layer_metrics(wl, tracer, ops, wh_bytes)
        result["unwrapped"] = tracer.missing
        result["self_s"] = layers.self_times(tracer, ops)
        result["spans"] = [{k: v for k, v in s.items() if k != "group"} for s in tracer.spans]
    return result


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--work", required=True)
    p.add_argument("--data", required=True)
    p.add_argument("--spawn-ts", type=float, required=True)
    p.add_argument("--seconds", type=float, default=5.0)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--out", required=True)
    p.add_argument(
        "--stop-at", type=float, default=T_START + 120, help="epoch after which no operation starts"
    )
    args = p.parse_args(argv)

    import workloads

    for mod in workloads.WORKLOADS[args.workload]["imports"]:
        importlib.import_module(mod)
    t_build = time.perf_counter()
    spark = build_session(args.workload, os.path.join(args.work, "warehouse"))
    result = {
        "setup_s": time.time() - args.spawn_ts,
        "session_build_s": time.perf_counter() - t_build,
    }
    try:
        result.update(run(spark, args))
    finally:
        spark.stop()
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
