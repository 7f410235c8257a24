"""Benchmark harness: times every registry query at $SPARK_GRAFT_SF_DIR
(default: the sf0.1 testdata directory) on the tools' session
(session.local_session: local[$SPARK_GRAFT_CPUS or the cores this
process may use]).

Each query is materialized with the noop sink (full computation, no
driver-side collect overhead) $SPARK_GRAFT_BENCH_RUNS times (default 3,
at least 2), right after evicting every session cache built for the
dataset. The first run is the query's COLD time: it pays whatever
session-cached relation, persisted copy or index it reads and no
earlier query left behind for it. The best of the other runs is its
WARM time. No query runs untimed, and none depends on another having
run first.

Writes the full per-query record to BENCH_FULL.json and to a copy
stamped with the core count and scale factor
(BENCH_FULL_c{cpus}_sf{sf}.json), then prints ONE compact JSON line:
  {"metric": "headline_queries_total", "value": <warm sec>, "unit": "sec",
   "cold_total_sec": <sec>, "queries": {...slowest warm sec that fit...},
   "copy_buckets": <bucket count of the dataset's at-rest copies>,
   "n_errors": <n>, ...}

Exits 1 when any query errored (its time is the -1.0 sentinel), else 0.

Usage: SPARK_GRAFT_SF_DIR=<scale-factor dir> python bench.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _tree_dirty(changed: list[str]) -> bool:
    """Whether any changed tracked file is more than a bench artifact:
    every run rewrites BENCH_FULL.json and its stamped
    BENCH_FULL_c{cpus}_sf{sf}.json copy, so those never count."""
    import fnmatch

    return any(f and not fnmatch.fnmatch(f, "BENCH_FULL*.json") for f in changed)


def _run_conditions(cpus: int, sf: float) -> dict:
    """Provenance stamp for a bench artifact: the run's core count, SF,
    and the code identity it measured — git HEAD plus a dirty flag. A
    reader can reject a BENCH_FULL.json whose conditions don't match
    the record it is being compared to, instead of discovering the
    mismatch from implausible numbers. It also names the class archive
    the session's JVM was started with (path and size, or null): a cold
    total from a JVM that loaded Spark's classes from jars is not
    comparable with one that mapped them."""
    import subprocess

    from data_validator_spark.class_archive import started_with

    cond = {"cpus": int(cpus), "sf": sf, "class_archive": started_with()}
    repo = os.path.dirname(os.path.abspath(__file__))
    try:
        head = subprocess.run(
            ["git", "-C", repo, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=15,
        )
        if head.returncode == 0:
            cond["git_head"] = head.stdout.strip()
        dirty = subprocess.run(
            ["git", "-C", repo, "diff", "--name-only", "HEAD"],
            capture_output=True, text=True, timeout=15,
        )
        if dirty.returncode == 0:
            cond["tree_dirty"] = _tree_dirty(dirty.stdout.split("\n"))
    except (OSError, subprocess.SubprocessError):
        pass
    return cond


def runs_per_query() -> int:
    """$SPARK_GRAFT_BENCH_RUNS (default 3), at least 2: one cold run
    plus at least one warm run."""
    return max(2, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))


def time_query(run, evict, runs: int) -> tuple[float, float, list[float]]:
    """Time one query cold and warm: `evict()` once, then `run()`
    `runs` times. Returns (cold, warm, every run's seconds): cold is
    the first run, warm the best of the rest."""
    evict()
    times = []
    for _ in range(runs):
        t0 = time.time()
        run()
        times.append(time.time() - t0)
    return times[0], min(times[1:]), times


def _total(results: dict[str, float]) -> float:
    """Sum of the timings, leaving out the -1.0 error sentinels."""
    return round(sum(v for v in results.values() if v >= 0), 3)


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = 0.0

    from data_validator_spark.session import local_cpus, local_session

    cpus = local_cpus()
    spark = local_session("bench")

    from data_validator_spark.operators.bucketing import dataset_buckets
    from data_validator_spark.queries import build_registry, evict_session_caches

    queries, _ = build_registry()

    # streaming progress tap: record per-micro-batch recentProgress into
    # BENCH_FULL, so a slow streaming entry shows which batch paid
    from pyspark.sql.streaming import StreamingQueryListener

    class _ProgressTap(StreamingQueryListener):
        def __init__(self):
            self.events: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            try:
                # the listener bus delivers ASYNC — often after
                # q.stop(), sometimes after the NEXT query started — so
                # attribution must use the trigger's own start stamp
                # (p.timestamp, UTC ISO), not arrival order/time
                try:
                    from datetime import datetime

                    # fromisoformat handles BOTH ISO-8601 forms Spark
                    # emits: with fractional seconds and without (the
                    # fraction is omitted when it is zero)
                    t = datetime.fromisoformat(
                        p.timestamp.replace("Z", "+00:00")
                    ).timestamp()
                except Exception:
                    t = time.time()
                self.events.append(
                    {
                        "_t": t,
                        "batch_id": p.batchId,
                        "input_rows": p.numInputRows,
                        "duration_ms": dict(p.durationMs or {}),
                        "state_rows_total": sum(
                            s.numRowsTotal for s in (p.stateOperators or [])
                        ),
                    }
                )
            except Exception:
                pass  # a malformed event must never kill the bench

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    tap = _ProgressTap()
    try:
        spark.streams.addListener(tap)
    except Exception as e:
        print(f"bench: progress tap unavailable ({e})", file=sys.stderr)

    # tiny fixed mapInPandas probe — run untimed before and after the
    # timed loop. If a run shows a slow multimodal stage while both
    # probes stay ~100ms, the Python worker pool is warm and the cause
    # is elsewhere; a slow second probe means the pool went cold
    # mid-run (idle reaping / memory kill).
    def py_worker_probe() -> float:
        def _ident(it):
            for b in it:
                yield b

        t0 = time.time()
        (
            spark.range(cpus, numPartitions=cpus)
            .mapInPandas(_ident, "id long")
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        return round(time.time() - t0, 3)

    runs = runs_per_query()
    probe_before_timed = py_worker_probe()

    results: dict[str, float] = {}
    results_cold: dict[str, float] = {}
    runs_detail: dict[str, list[float]] = {}
    query_t0: dict[str, float] = {}
    streaming_progress: dict[str, list[dict]] = {}
    stream_windows: list[tuple[float, str]] = []
    for name, fn in queries.items():
        query_t0[name] = round(time.time(), 3)
        if name.startswith("streaming_"):
            stream_windows.append((time.time(), name))
        try:
            cold, warm, all_runs = time_query(
                lambda: fn(spark, sf_dir).write.format("noop").mode("overwrite").save(),
                lambda: evict_session_caches(sf_dir),
                runs,
            )
            results_cold[name], results[name] = round(cold, 3), round(warm, 3)
            runs_detail[name] = [round(t, 3) for t in all_runs]
        except Exception as e:  # keep the bench line parseable on partial failure
            results[name] = results_cold[name] = -1.0
            print(f"bench error in {name}: {e}", file=sys.stderr)
    probe_after_timed = py_worker_probe()
    # attribute the async progress events: only streaming queries
    # emit them, so every event belongs to the newest streaming
    # query that had STARTED by the event's arrival (a short drain
    # wait catches the tail the listener bus delivers after the
    # last q.stop())
    if stream_windows:
        time.sleep(1.5)
        import bisect

        starts = [t for t, _ in stream_windows]
        for ev in tap.events:
            i = bisect.bisect_right(starts, ev.get("_t", 0.0)) - 1
            if i >= 0:
                owner = stream_windows[i][1]
                ev = {k: v for k, v in ev.items() if k != "_t"}
                streaming_progress.setdefault(owner, []).append(ev)

    out = {
        "metric": "headline_queries_total",
        "value": _total(results),
        "unit": "sec",
        "queries": results,
        "cold_total_sec": _total(results_cold),
        "queries_cold": results_cold,
        "sf": sf,
        # the bucket count of every at-rest copy of the dataset: which
        # layout the copy-reading queries measured
        "copy_buckets": dataset_buckets(spark, sf_dir),
        "runs_per_query": runs,
        # diagnostics (BENCH_FULL only — compact_line drops them):
        # every run's wall time (codegen-vs-steady-state visible per
        # query), the Python-worker pool probes bracketing the timed
        # loop, and per-micro-batch streaming progress
        "runs_sec": runs_detail,
        # per-query start stamps + the loadavg after the loop: a
        # systemic mid-run slowdown (a contiguous window where every
        # query ran slow while the worker probes were normal) is
        # attributable from the artifact by correlating slow entries'
        # wall-clock window, without re-running anything
        "query_start_epoch": query_t0,
        "load_after": [round(x, 2) for x in os.getloadavg()],
        "py_worker_probe_sec": {
            "before_timed": probe_before_timed,
            "after_timed": probe_after_timed,
        },
        "streaming_progress": streaming_progress,
    }
    # A BENCH_FULL.json is only comparable at matching (cpus, sf,
    # code): stamp the run conditions and code identity into the
    # artifact, and also write a copy whose filename carries them, so
    # the canonical name can be overwritten freely without losing any
    # run's record.
    out["run_conditions"] = _run_conditions(cpus, sf)

    # the full per-query detail goes to a file; the stdout line stays
    # under a 2000-char tail-capture window (compact_line)
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    full_path = os.path.join(repo_dir, "BENCH_FULL.json")
    with open(full_path, "w") as f:
        json.dump(out, f, indent=1)
    stamped = os.path.join(
        repo_dir,
        f"BENCH_FULL_c{cpus}_sf{str(sf).replace('.', 'p')}.json",
    )
    with open(stamped, "w") as f:
        json.dump(out, f, indent=1)
    print(compact_line(out, "BENCH_FULL.json"))
    # nonzero rc when any query errored (after emitting the artifact,
    # so a failed run is still parseable)
    return 1 if any(v < 0 for v in results.values()) else 0


STDOUT_BUDGET = 1800  # chars; callers tail-capture the last 2000
# headline keys compact_line carries; everything else stays in the
# detail file
COMPACT_KEYS = (
    "metric",
    "value",
    "unit",
    "sf",
    "copy_buckets",
    "runs_per_query",
    "cold_total_sec",
    "run_conditions",
)


def compact_line(out: dict, detail_file: str) -> str:
    """One JSON line under STDOUT_BUDGET chars: headline totals plus as
    many per-query timings as fit, slowest first (the informative
    tail); the rest are summarized so the total stays reconstructable
    (fast_queries_total_sec + queries_omitted)."""
    results: dict = out["queries"]
    # an allowlist, so a new diagnostic key never crowds the per-query
    # timings out of the budget
    base = {k: out[k] for k in COMPACT_KEYS if k in out}
    base["detail_file"] = detail_file
    base["n_queries"] = len(results)
    # -1.0 sentinels mark errored/missing entries; they are excluded
    # from every timing sum, so report them explicitly — otherwise an
    # omitted-but-errored entry is indistinguishable from a fast one
    # and shown + fast no longer reconstructs `value`.
    base["n_errors"] = sum(1 for v in results.values() if v < 0)
    ordered = sorted(results.items(), key=lambda kv: -kv[1])
    shown: dict = {}
    line = ""
    for name, sec in ordered:
        shown[name] = sec
        kept = {
            **base,
            "queries": shown,
            "queries_omitted": len(results) - len(shown),
            "fast_queries_total_sec": round(
                sum(v for k, v in results.items() if k not in shown and v > 0), 3
            ),
        }
        candidate = json.dumps(kept)
        if len(candidate) > STDOUT_BUDGET:
            del shown[name]
            break
        line = candidate
    if not line:  # degenerate: even one entry overflows — totals only
        line = json.dumps({**base, "queries": {}, "queries_omitted": len(results)})
    return line


if __name__ == "__main__":
    raise SystemExit(main())
