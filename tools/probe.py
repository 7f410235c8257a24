"""Per-query probe: best-of-N noop-sink timings plus per-stage
attribution from the local UI REST API (guide §1/§7).

Usage:
    python tools/probe.py <sf_dir> <runs> <query> [<query> ...]

Boots the bench's session (session.local_session), then times each
named query as best-of-N noop writes and prints, for the LAST run of
each query, the stages that executed with their executorRunTime /
shuffle bytes / task counts.
Pure measurement tooling — never touches query results.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request


def _rest(spark, path: str):
    ui = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{ui}/api/v1/applications/{app}{path}") as r:
        return json.loads(r.read())


def node_metrics(node: dict) -> dict:
    """The time/rows/spill metrics of one SQL-plan node from the REST
    API, by name (a node may carry any number of metrics, or none)."""
    mets = {m["name"]: m["value"] for m in node.get("metrics", [])}
    return {k: v for k, v in mets.items() if any(t in k for t in ("time", "rows", "spill"))}


def main() -> int:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sf_dir = sys.argv[1]
    runs = int(sys.argv[2])
    names = sys.argv[3:]

    from data_validator_spark.session import local_session

    spark = local_session("probe")

    from data_validator_spark.queries import build_registry

    queries, _ = build_registry()

    for name in names:
        fn = queries[name]
        times = []
        run_stage_ids: list[set] = []
        for i in range(runs):
            before = {s["stageId"] for s in _rest(spark, "/stages")}
            spark.sparkContext.setJobDescription(f"probe: {name} run{i}")
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            times.append(round(time.time() - t0, 3))
            after = {s["stageId"] for s in _rest(spark, "/stages")}
            run_stage_ids.append(after - before)
        print(f"\n== {name}: runs {times} best {min(times)}")
        # attribute the LAST run's stages
        stages = {s["stageId"]: s for s in _rest(spark, "/stages")}
        for sid in sorted(run_stage_ids[-1]):
            s = stages.get(sid)
            if not s or s.get("status") == "SKIPPED":
                continue
            print(
                f"  stage {sid:4d} tasks={s['numCompleteTasks']:4d} "
                f"runTime={s['executorRunTime']/1000.0:8.2f}s "
                f"cpuTime={s.get('executorCpuTime', 0)/1e9:8.2f}s "
                f"shufR={s['shuffleReadBytes']>>20:5d}MB "
                f"shufW={s['shuffleWriteBytes']>>20:5d}MB "
                f"input={s['inputBytes']>>20:5d}MB  {s['name'][:70]}"
            )
        if os.environ.get("SPARK_GRAFT_PROBE_SQL", "0") == "1":
            execs = _rest(spark, "/sql?length=200")
            last = max(execs, key=lambda e: e["id"])
            for node in last.get("nodes", []):
                keep = node_metrics(node)
                print(f"  node {node['nodeId']:3d} {node['nodeName'][:45]:45s} {keep}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
