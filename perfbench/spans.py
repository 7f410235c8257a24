"""Span recorder for the traced run, wrapped around the program's layer
boundaries from outside.

``Tracer.install()`` replaces the public functions and methods listed
in ``LAYER_WRAPS`` with wrappers that open a span around each call;
``uninstall()`` puts the originals back, so untraced operations in the
same process run the program unmodified. Spans carry a name, start,
end, parent and the operation (run id) they belong to, and stay in
memory until the run writes its result.

Each span also sets a Spark job group, so after an operation the jobs
and stages it caused are read back from the Spark UI's REST API and
attributed to the innermost span that was open when they ran.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import re
import time
import urllib.request
from typing import Any, Callable

# (module, attribute path, span name). A function that the program
# imports by name (config.build_dict, pipeline.write_partitioned) is
# wrapped at the binding its caller looks up.
LAYER_WRAPS = [
    ("data_validator_spark.config", "load_config", "config.load"),
    ("data_validator_spark.config", "build_dict", "substitution.build_dict"),
    ("data_validator_spark.sources", "TableSource.open", "sources.open"),
    ("data_validator_spark.runner", "run_config", "runner.run_config"),
    ("data_validator_spark.runner", "ValidatorTableRunner.config_check", "runner.config_check"),
    ("data_validator_spark.runner", "ValidatorTableRunner.quick_checks", "runner.quick_checks"),
    ("data_validator_spark.runner", "ValidatorTableRunner.costly_checks", "runner.costly_checks"),
    ("data_validator_spark.validators.unique", "UniqueCheck.costly_check", "validators.unique_check"),
    ("data_validator_spark.report", "build_report", "report.build"),
    ("data_validator_spark.pipeline", "run_pipeline", "pipeline.run"),
    ("data_validator_spark.pipeline", "build_pipeline", "pipeline.build"),
    ("data_validator_spark.pipeline", "write_partitioned", "sinks.write"),
    ("data_validator_spark.operators.bucketing", "ensure_bucketed_fact", "bucketing.ensure"),
    ("data_validator_spark.operators.bucketing", "write_bucketed", "bucketing.build"),
]


class Tracer:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.spans: list[dict[str, Any]] = []
        self._stack: list[dict[str, Any]] = []
        self._saved: list[tuple[Any, str, Any]] = []
        self.missing: list[str] = []
        self.run_id = 0
        self.t0 = time.perf_counter()

    # -- spans -----------------------------------------------------------
    def _set_group(self, span: dict | None) -> None:
        sc = self.spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", span["group"] if span else None)
        sc.setLocalProperty("spark.job.description", span["name"] if span else None)

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "run": self.run_id,
            "group": f"perfbench-{self.run_id}-{len(self.spans)}",
            "start": time.perf_counter() - self.t0,
            "end": None,
        }
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            self._stack.pop()
            s["end"] = time.perf_counter() - self.t0
            self._set_group(parent)

    def wrap(self, fn: Callable, name: str) -> Callable:
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    # -- patching --------------------------------------------------------
    def install(self) -> None:
        """Wrap every target that exists. A target a refactor removed or
        renamed is listed in ``missing`` and its layer reads 0."""
        self.missing = []
        for mod_name, path, span_name in LAYER_WRAPS:
            try:
                owner = importlib.import_module(mod_name)
                *parents, attr = path.split(".")
                for p in parents:
                    owner = getattr(owner, p)
                orig = owner.__dict__[attr]
            except (ImportError, AttributeError, KeyError):
                self.missing.append(f"{mod_name}.{path}")
                continue
            self._saved.append((owner, attr, orig))
            setattr(owner, attr, self.wrap(orig, span_name))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()

    # -- spans of one operation -------------------------------------------
    def op_spans(self, run_id: int) -> list[dict[str, Any]]:
        return [s for s in self.spans if s["run"] == run_id]


def self_time(spans: list[dict[str, Any]], span: dict[str, Any]) -> float:
    """Span duration minus the part its direct children cover."""
    kids = sum(s["end"] - s["start"] for s in spans if s["parent"] == span["id"])
    return (span["end"] - span["start"]) - kids


# -- Spark attribution --------------------------------------------------------


class SparkRest:
    """Jobs, stages and SQL executions of this application, read from
    the Spark UI's REST API on localhost."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.sc = sc
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str) -> Any:
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def settle(self) -> None:
        """Wait until the status store has seen every finished job."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def snapshot(self) -> tuple[list, list, list]:
        self.settle()
        return (
            self._get("/jobs"),
            self._get("/stages"),
            self._get("/sql?details=true&planDescription=false&offset=0&length=100000"),
        )


STAGE_FIELDS = {
    "tasks": ("numCompleteTasks", 1.0),
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_write_mb": ("shuffleWriteBytes", 1 / 2**20),
    "shuffle_read_mb": ("shuffleReadBytes", 1 / 2**20),
    "spill_mb": ("diskBytesSpilled", 1 / 2**20),
}
# From the SQL plan nodes rather than the stages: a stage's inputBytes
# undercounts parquet reads (it can read a few KB for a whole-file
# scan), while a file scan node's "size of files read" is the bytes of
# the files it opened.
SQL_FIELDS = ("input_mb", "scans", "files_written")
_SIZE = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)")
_UNIT = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def _mb(text: str) -> float:
    m = _SIZE.search(str(text))
    return float(m.group(1).replace(",", "")) * _UNIT[m.group(2)] / 2**20 if m else 0.0


def attribute(
    spans: list[dict], jobs: list[dict], stages: list[dict], sql: list[dict]
) -> dict[int, dict[str, float]]:
    """Per span id: the totals of the jobs that ran under its job group
    plus every descendant's (inclusive). Stage metrics come from each
    job's completed stages (a stage shared by two jobs counts once); the
    SQL metrics of an execution go to the span of its first job."""
    by_group = {s["group"]: s["id"] for s in spans}
    latest: dict[int, tuple[int, dict]] = {}
    for st in stages:
        sid, att = st["stageId"], st["attemptId"]
        if st.get("status") == "COMPLETE" and att >= latest.get(sid, (-1, None))[0]:
            latest[sid] = (att, st)
    own: dict[int, dict[str, float]] = {s["id"]: _zero() for s in spans}
    job_span: dict[int, int] = {}
    seen: set[int] = set()
    for job in jobs:
        sid = by_group.get(job.get("jobGroup"))
        if sid is None:
            continue
        job_span[job["jobId"]] = sid
        own[sid]["jobs"] += 1
        for stage_id in job.get("stageIds", []):
            if stage_id in seen or stage_id not in latest:
                continue
            seen.add(stage_id)
            st = latest[stage_id][1]
            for key, (field, mul) in STAGE_FIELDS.items():
                own[sid][key] += st.get(field, 0) * mul
    for ex in sql:
        ids = sorted(j for j in ex.get("successJobIds", []) + ex.get("failedJobIds", []) if j in job_span)
        if not ids:
            continue
        acc = own[job_span[ids[0]]]
        for node in ex.get("nodes", []):
            metrics = {m["name"]: m["value"] for m in node.get("metrics", [])}
            if "size of files read" in metrics:
                acc["scans"] += 1
                acc["input_mb"] += _mb(metrics["size of files read"])
            if "number of written files" in metrics:
                acc["files_written"] += int(str(metrics["number of written files"]).replace(",", ""))
    incl = {k: dict(v) for k, v in own.items()}
    for s in sorted(spans, key=lambda s: -s["id"]):
        if s["parent"] is not None and s["parent"] in incl:
            for k, v in incl[s["id"]].items():
                incl[s["parent"]][k] += v
    return incl


def _zero() -> dict[str, float]:
    return {**{k: 0.0 for k in STAGE_FIELDS}, **{k: 0.0 for k in SQL_FIELDS}, "jobs": 0.0}
