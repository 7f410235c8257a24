"""Per-layer metrics of a traced run, computed from the spans and the
Spark jobs/stages attributed to them.

Every workload's traced run prints every metric in ``PER_LAYER``; a
layer the workload does not reach reads 0. A metric about the cold
start comes from the first operation, every other one is the median
over the traced warm operations (the first operation when none ran).
"""

from __future__ import annotations

import os
import statistics

from spans import STAGE_FIELDS, attribute, self_time
from workloads import REGISTRY_QUERIES

SPARK_SPANS = ["runner.quick_checks", "runner.costly_checks", "pipeline.run", "queries.pass"]
SPARK_METRICS = {
    "tasks": "count",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "gc_s": "s",
    "input_mb": "MB",
    "shuffle_write_mb": "MB",
    "shuffle_read_mb": "MB",
    "spill_mb": "MB",
    "busy_ratio": "ratio",
}

# (name, unit, better) — "better" is only a reading aid for per-layer
# metrics; they carry no bound.
PER_LAYER = [
    ("session.build_s", "s", "lower"),
    ("config.load_s", "s", "lower"),
    ("substitution.build_dict_s", "s", "lower"),
    ("sources.open_s", "s", "lower"),
    ("sources.open_calls", "count", "lower"),
    ("runner.config_check_s", "s", "lower"),
    ("runner.quick_checks_s", "s", "lower"),
    ("runner.scans_per_table", "count", "lower"),
    ("runner.read_amplification", "ratio", "lower"),
    ("runner.spark_jobs", "count", "lower"),
    ("validators.unique_check_s", "s", "lower"),
    ("validators.unique_check.shuffle_write_mb", "MB", "lower"),
    ("report.build_s", "s", "lower"),
    ("report.write_s", "s", "lower"),
    ("report.json_kb", "KB", "lower"),
    ("pipeline.build_s", "s", "lower"),
    ("pipeline.run_s", "s", "lower"),
    ("pipeline.recount_s", "s", "lower"),
    ("pipeline.rows_out", "count", "higher"),
    ("sinks.write_s", "s", "lower"),
    ("sinks.files_written", "count", "lower"),
    ("sinks.bytes_per_input_byte", "ratio", "lower"),
    ("bucketing.copies_built", "count", "lower"),
    ("bucketing.build_s", "s", "lower"),
    ("bucketing.warehouse_mb", "MB", "lower"),
    ("queries.session_cache_entries", "count", "higher"),
    *[(f"queries.first_s.{q}", "s", "lower") for q in REGISTRY_QUERIES],
    *[(f"queries.warm_s.{q}", "s", "lower") for q in REGISTRY_QUERIES],
    *[
        (f"{span}.spark.{m}", unit, "higher" if m == "busy_ratio" else "lower")
        for span in SPARK_SPANS
        for m, unit in SPARK_METRICS.items()
    ],
    ("trace.overhead_ratio", "ratio", "lower"),
    ("trace.unattributed_s", "s", "lower"),
    ("trace.coverage_first", "ratio", "higher"),
    ("trace.coverage_warm", "ratio", "higher"),
    ("error_rate", "ratio", "lower"),
]
UNITS = {name: unit for name, unit, _ in PER_LAYER}


def _op_metrics(wl, tracer, rec: dict, cores: int) -> dict[str, float]:
    spans = tracer.op_spans(rec["i"])
    incl = attribute(spans, *rec["spark"])

    def named(name):
        return [s for s in spans if s["name"] == name]

    def total(name):
        return sum(s["end"] - s["start"] for s in named(name))

    def spark(name, key):
        return sum(incl[s["id"]][key] for s in named(name))

    m = {
        "config.load_s": total("config.load"),
        "substitution.build_dict_s": total("substitution.build_dict"),
        "sources.open_s": total("sources.open"),
        "sources.open_calls": float(len(named("sources.open"))),
        "runner.config_check_s": total("runner.config_check"),
        "runner.quick_checks_s": total("runner.quick_checks"),
        "runner.spark_jobs": spark("runner.run_config", "jobs"),
        "validators.unique_check_s": total("validators.unique_check"),
        "validators.unique_check.shuffle_write_mb": spark("validators.unique_check", "shuffle_write_mb"),
        "report.build_s": total("report.build"),
        "report.write_s": total("report.write"),
        "report.json_kb": float(rec.get("report_kb", 0.0)),
        "pipeline.build_s": total("pipeline.build"),
        "pipeline.run_s": total("pipeline.run"),
        "pipeline.rows_out": float(rec.get("rows_out", 0)),
        "sinks.write_s": total("sinks.write"),
        "bucketing.copies_built": float(len(named("bucketing.build"))),
        "bucketing.build_s": total("bucketing.build"),
    }
    n_tables = len(named("runner.config_check"))
    source_bytes = getattr(wl, "source_bytes", 0)
    m["runner.scans_per_table"] = spark("runner.run_config", "scans") / n_tables if n_tables else 0.0
    m["runner.read_amplification"] = (
        spark("runner.run_config", "input_mb") * 2**20 / source_bytes
        if n_tables and source_bytes
        else 0.0
    )
    m["pipeline.recount_s"] = (
        m["pipeline.run_s"] - m["sinks.write_s"] - m["pipeline.build_s"] if named("pipeline.run") else 0.0
    )
    m["sinks.files_written"] = spark("sinks.write", "files_written")
    m["sinks.bytes_per_input_byte"] = (
        rec.get("sink_bytes", 0) / source_bytes if named("sinks.write") and source_bytes else 0.0
    )
    for q in REGISTRY_QUERIES:
        m[f"queries.s.{q}"] = total(f"queries.{q}")
    for name in SPARK_SPANS:
        for key in (*STAGE_FIELDS, "input_mb"):
            m[f"{name}.spark.{key}"] = spark(name, key)
        wall = total(name)
        run_s = m[f"{name}.spark.executor_run_s"]
        m[f"{name}.spark.busy_ratio"] = run_s / (wall * cores) if wall else 0.0
    top = sum(s["end"] - s["start"] for s in spans if s["parent"] is None)
    m["trace.unattributed_s"] = max(0.0, rec["wall"] - top)
    m["trace.coverage"] = min(1.0, top / rec["wall"]) if rec["wall"] else 0.0
    return m


def layer_metrics(wl, tracer, ops: list[dict], warehouse_bytes: int) -> dict[str, float]:
    from data_validator_spark import queries

    cores = len(os.sched_getaffinity(0))
    per_op = {rec["i"]: _op_metrics(wl, tracer, rec, cores) for rec in ops if rec["traced"]}
    first = per_op[0]
    warm = [per_op[i] for i in sorted(per_op) if i > 0] or [first]

    def med(key):
        return statistics.median(m[key] for m in warm)

    out = {name: med(name) for name in first if name in UNITS}
    for key in ("bucketing.copies_built", "bucketing.build_s"):
        out[key] = first[key]
    for q in REGISTRY_QUERIES:
        out[f"queries.first_s.{q}"] = first[f"queries.s.{q}"]
        out[f"queries.warm_s.{q}"] = med(f"queries.s.{q}")
    out["trace.coverage_first"] = first["trace.coverage"]
    out["trace.coverage_warm"] = med("trace.coverage")
    out["bucketing.warehouse_mb"] = warehouse_bytes / 2**20
    caches = getattr(queries, "_SESSION_CACHES", [])  # 0 once the registry is gone
    out["queries.session_cache_entries"] = float(sum(len(c) for c in caches))
    out["trace.overhead_ratio"] = overhead_ratio(ops)
    return out


def self_times(tracer, ops: list[dict]) -> dict[str, float]:
    """Median self time per span name over the traced warm operations
    (the first operation when none ran): a layer's own time, without
    the layers it called."""
    runs = [r["i"] for r in ops if r["traced"] and r["i"] > 0] or [0]
    per_name: dict[str, list[float]] = {}
    for i in runs:
        spans = tracer.op_spans(i)
        totals: dict[str, float] = {}
        for s in spans:
            totals[s["name"]] = totals.get(s["name"], 0.0) + self_time(spans, s)
        for name, t in totals.items():
            per_name.setdefault(name, []).append(t)
    return {name: statistics.median(v) for name, v in sorted(per_name.items())}


def overhead_ratio(ops: list[dict]) -> float:
    """Median traced ÷ median untraced timed warm operation."""
    warm = [r for r in ops if r["i"] > 0 and not r["warmup"]]
    traced = [r["wall"] for r in warm if r["traced"]]
    untraced = [r["wall"] for r in warm if not r["traced"]]
    return statistics.median(traced) / statistics.median(untraced) if traced and untraced else 1.0
