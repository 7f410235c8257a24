"""Benchmark harness: times every registry query at $SPARK_GRAFT_SF_DIR
(default: the sf0.1 testdata directory) on the tools' session
(session.local_session: local[$SPARK_GRAFT_CPUS or the cores this
process may use]).

Each query is materialized with the noop sink (full computation, no
driver-side collect overhead) and timed as the best of
$SPARK_GRAFT_BENCH_RUNS runs (default 2), after an untimed warmup and
an untimed prime pass over the session-cache builders.

Writes the full per-query record to BENCH_FULL.json and to a copy
stamped with the core count and scale factor
(BENCH_FULL_c{cpus}_sf{sf}.json), then prints ONE compact JSON line:
  {"metric": "headline_queries_total", "value": <sec>, "unit": "sec",
   "queries": {...slowest per-query sec that fit...}, "n_errors": <n>, ...}

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
    mismatch from implausible numbers."""
    import subprocess

    cond = {"cpus": int(cpus), "sf": sf}
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


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = 0.0

    from data_validator_spark.session import local_cpus, local_session

    cpus = local_cpus()
    spark = local_session("bench")

    from data_validator_spark.queries import TABLES, build_registry, load, spread

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

    # tiny fixed mapInPandas probe — run untimed after the prime and
    # again after the timed loop. If a run shows a slow
    # multimodal stage while both probes stay ~100ms, the Python worker
    # pool is warm and the cause is elsewhere; a slow second probe
    # means the pool went cold mid-run (idle reaping / memory kill).
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

    # warmup: touch every table so listing/footer IO is out of the
    # timings (spread() also primes its split-count cache here, so no
    # timed query pays the cold RDD probe), and spawn the Arrow Python
    # workers once so the first pandas_udf query doesn't pay startup
    for t in TABLES:
        spread(load(spark, sf_dir, t)).count()
    from pyspark.sql import functions as F

    _warm = F.pandas_udf(lambda s: s, "long")
    spark.range(1000).select(_warm("id")).write.format("noop").mode("overwrite").save()
    # untimed agg+join+window pass: JVM JIT + whole-stage-codegen
    # compilation otherwise lands on the FIRST timed query (observed
    # as a 1-2s swing on combined_single_pass between runs)
    _li = load(spark, sf_dir, "lineitem")
    _or = load(spark, sf_dir, "orders")
    (
        _li.join(_or, _li.l_orderkey == _or.o_orderkey)
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity"), F.countDistinct("o_custkey"))
        .write.format("noop").mode("overwrite").save()
    )

    # Each query is timed as the best of RUNS executions (default 2):
    # the first execution pays one-time whole-stage-codegen compilation
    # (~1-4s per distinct plan shape), a fixed cost that amortizes to
    # zero over a real 100 TB job, so steady-state is the honest
    # throughput number. RUNS is recorded in the output line.
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2")))

    # Prime pass (cold-cache accounting): several
    # queries share session-persisted relations (trigram model, gopher/
    # entropy signals, derived TPC-H relations, dup-pair candidates —
    # the queries.SessionCache instances). Without priming, whichever
    # consumer the bench happens to reach first is charged the one-time
    # build (observed: 15.1s trigram build landing on ccnet_buckets,
    # 7.6s Python-worker spin-up landing on multimodal_meta). One untimed execution of each cache-building query
    # materializes every shared relation; the cost is reported
    # separately as prime_pass_sec instead of polluting a victim
    # query's row. (A full-registry prime was measured at ~194s — 3×
    # the cache cost for no extra warm coverage — so the list is the
    # declared cache builders plus one mapInPandas query to spin the
    # Python-worker pool.)
    PRIME = [
        # Layout finalization FIRST: the full-content-watermark
        # validators drop and rebuild a copy whose sidecar lacks the
        # full-content signature (stat builders never record it), so
        # they must reach their steady-state layout BEFORE any cache
        # builder persists a relation over the copy's file listing —
        # otherwise the first timed unique_check run drops the very
        # files pagerank/copurchase's primed caches are frozen onto
        # (observed: both -1 with FAILED_READ_FILE on the pre-rebuild
        # lineitem parts in a fresh-warehouse bench run).
        "unique_check",           # lineitem l_orderkey, full-content-watermark
        "reconciliation_check",   # + orders o_orderkey, full-content-watermark
        # SessionCache builders, one consumer per cache
        "trigram_lm_score",       # corpus_ops._TRIGRAM_MODEL_CACHE
        "dsir_importance",        # corpus_ops._DSIR_CACHE
        "gopher_quality",         # mining_ops._GOPHER_CACHE
        "char_entropy",           # mining_ops._ENTROPY_CACHE
        "copurchase_similarity",  # mining_ops._BASKET_CACHE
        "pagerank_bipartite",     # graph_ops._GRAPH_CACHE
        "dedup_minhash_lsh",      # dedup._HS_CACHE
        "dedup_ngram_jaccard",    # dedup._PAIRS_CACHE
        "dedup_incremental",      # dedup._INC_INDEX_CACHE
        # the incremental minhash screen reads the PERSISTED band
        # index; the refresh builds it (plus the delta append), so the
        # screen's timed runs measure screening, not table creation
        # (and fills dedup._BINDEX_MAX_CACHE)
        "dedup_band_index_refresh",
        "quality_ensemble",       # quality_ops._ENSEMBLE_DOCS_CACHE
        "ngram_contamination",    # quality_ops._CONTAM_TRAIN_CACHE
        "kmeans_embeddings",      # corpus_ops._KMEANS_CENTROIDS_CACHE
        "similarity_ann_ivf",     # similarity._ASSIGNED_CACHE
        "ann_recall_eval",        # similarity._ANN_EVAL_CACHE
        # tpch_ext._EXT_CACHE is keyed per derived relation
        "q2_min_cost_supplier", "q9_product_profit", "q11_important_stock",
        "q12_shipmode_priority", "q16_parts_supplier",
        "q19_discounted_revenue", "q20_potential_promotion",
        "q21_waiting_orders",
        # the events user_id-bucketed copy (ensure_bucketed_fact)
        # serves the behavioral family — build it untimed once
        "events_sessionized",
        # the o_custkey/c_custkey at-rest copies serve the
        # per-customer family — rfm_segments builds the orders copy
        # (plus warehouse_ops._RFM_CACHE/_RFM_BOUNDS_CACHE),
        # cdc_upsert the customer copy, token_count the doc_id
        # documents copy
        "rfm_segments",
        "cdc_upsert",
        "token_count",
        # …and q17 builds the l_partkey lineitem + p_partkey part
        # copies (q14/fd_check share them)
        "q17_small_quantity_revenue",
        # mapInPandas worker pool (pandas_udf warm-up above uses a
        # different eval type; spin the mapInPandas path too)
        "multimodal_meta",
        # grouped-map (applyInPandas) worker pool — semdedup's
        # blocked kernel is the only batch consumer of that eval type
        "semdedup",
    ]
    prime_sec = 0.0
    if os.environ.get("SPARK_GRAFT_BENCH_PRIME", "1") != "0":
        t0 = time.time()
        for name in PRIME:
            fn = queries.get(name)
            if fn is None:
                continue
            try:
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            except Exception as e:
                print(f"prime error in {name}: {e}", file=sys.stderr)
        prime_sec = round(time.time() - t0, 3)
    probe_after_prime = py_worker_probe()

    results: dict[str, float] = {}
    runs_detail: dict[str, list[float]] = {}
    query_t0: dict[str, float] = {}
    streaming_progress: dict[str, list[dict]] = {}
    stream_windows: list[tuple[float, str]] = []
    total = 0.0
    for name, fn in queries.items():
        try:
            query_t0[name] = round(time.time(), 3)
            if name.startswith("streaming_"):
                stream_windows.append((time.time(), name))
            best = None
            all_runs: list[float] = []
            for _ in range(runs):
                t0 = time.time()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                dt = time.time() - t0
                all_runs.append(round(dt, 3))
                best = dt if best is None else min(best, dt)
            results[name] = round(best, 3)
            runs_detail[name] = all_runs
            total += best
        except Exception as e:  # keep the bench line parseable on partial failure
            results[name] = -1.0
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
        "value": round(total, 3),
        "unit": "sec",
        "queries": results,
        "sf": sf,
        "runs_per_query": runs,
        "prime_pass_sec": prime_sec,
        # diagnostics (BENCH_FULL only — compact_line drops them):
        # every run's wall time (codegen-vs-steady-state visible per
        # query), the Python-worker pool probes bracketing the timed
        # loop, and per-micro-batch streaming progress
        "runs_sec": runs_detail,
        # per-query start stamps + the loadavg after the loop: a
        # systemic mid-run slowdown (a contiguous window where every
        # query ran slow while the prime and worker probes were
        # normal) is attributable from the artifact by correlating
        # slow entries' wall-clock window, without re-running anything
        "query_start_epoch": query_t0,
        "load_after": [round(x, 2) for x in os.getloadavg()],
        "py_worker_probe_sec": {
            "after_prime": probe_after_prime,
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
    if os.environ.get("SPARK_GRAFT_CC_BENCH", "1") != "0":
        try:
            out["cc_chain"] = bench_cc_chain(spark)
        except Exception as e:
            print(f"bench error in cc_chain: {e}", file=sys.stderr)

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
    "runs_per_query",
    "prime_pass_sec",
    "run_conditions",
    "cc_chain",
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


CC_CHAIN_N = 32


def bench_cc_chain(spark) -> dict:
    """Deep-chain connected-components micro-benchmark backing
    SCALE.md's O(log n) star claim with measured numbers: a permuted
    32-node chain (diameter 31) forces min-label propagation to its
    O(diameter) worst case — 31 label rounds — while the alternating
    large-star/small-star rewrite converges in O(log n) rounds. The
    LSH dup graphs in the headline bench are shallow, so only an
    adversarial fixture exposes this; at 100 TB a single deep
    component would put the propagation loop hundreds of rounds deep.

    Labels from both algorithms are asserted equal before reporting.
    """
    import time as _time

    from data_validator_spark.operators.cc_star import connected_components
    from data_validator_spark.queries.dedup import propagation_components

    n = CC_CHAIN_N
    # decreasing ids put the component min at the FAR end of the chain:
    # min-label propagation must carry it across all n-1 hops — the
    # true O(diameter) worst case
    perm = [(n - i) * 1000003 for i in range(n)]
    pairs = spark.createDataFrame(
        [(perm[i], perm[i + 1]) for i in range(n - 1)], "doc_a long, doc_b long"
    ).coalesce(4)
    out: dict[str, float | int] = {}
    results = {}
    # 31 edges across 32 shuffle partitions is per-round scheduling
    # noise, not measurement — size partitions to the data (restored
    # after), the same rate-sizing rule as the streaming state stores
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        for name, fn in (
            ("propagation", propagation_components),
            ("star", connected_components),
        ):
            stats: dict = {}
            t0 = _time.time()
            labels = fn(pairs, max_iter=4 * n, stats=stats)
            results[name] = {(r["node"], r["label"]) for r in labels.collect()}
            out[f"{name}_sec"] = round(_time.time() - t0, 3)
            out[f"{name}_rounds"] = stats["rounds"]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert results["propagation"] == results["star"], "CC algorithms disagree"
    return out


if __name__ == "__main__":
    raise SystemExit(main())
