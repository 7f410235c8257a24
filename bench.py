"""Benchmark harness: times the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "headline_queries_total", "value": <sec>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": <sf>}

Each query is materialized with the noop sink (full computation, no
driver-side collect overhead). A small warmup reads every table once
so file-listing/footer costs don't pollute the first query's number.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "combined_single_pass",
    "row_count",
    "null_check",
    "negative_check",
    "range_check",
    "string_length_check",
    "string_regex_check",
    "column_max_check",
    "column_sum_check",
    "col_stats_histogram",
    "detailed_errors",
    "unique_check",
    "col_stats",
    "col_quantiles",
    "profile_table",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q4_order_priority",
    "q5_local_supplier",
    "q6_forecast_revenue",
    "q7_volume_shipping",
    "q8_market_share",
    "q10_returned_items",
    "q13_customer_distribution",
    "q14_promo_revenue",
    "q15_top_supplier",
    "q17_small_quantity_revenue",
    "q18_large_volume",
    "q22_prospective_customers",
    "q2_min_cost_supplier",
    "q9_product_profit",
    "q11_important_stock",
    "q12_shipmode_priority",
    "q16_parts_supplier",
    "q19_discounted_revenue",
    "q20_potential_promotion",
    "q21_waiting_orders",
    "events_windowed",
    "events_sessionized",
    "events_asof_join",
    "events_range_join",
    "events_rollup",
    "salted_aggregation",
    "events_pivot",
    "events_funnel",
    "events_retention",
    "text_quality",
    "lang_id",
    "token_count",
    "doc_fingerprint",
    "doc_split_sample",
    "token_frequencies",
    "corpus_train_filter",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dedup_clusters",
    "dedup_incremental",
    "dedup_incremental_minhash",
    "dedup_index_refresh",
    "dedup_band_index_refresh",
    "source_overlap",
    "ngram_novelty",
    "quality_calibration",
    "pii_scrub",
    "stratified_sample",
    "sequence_pack",
    "dedup_keep_best",
    "embedding_norm_quant",
    "split_contamination",
    "minhash_containment",
    "events_json_extract",
    "events_anomaly",
    "drift_psi",
    "fk_integrity",
    "benford_check",
    "reconciliation_check",
    "ngram_contamination",
    "drift_ks",
    "quality_ensemble",
    "ccnet_buckets",
    "doc_chunk",
    "dsir_importance",
    "ann_recall_eval",
    "fd_check",
    "mad_outliers",
    "key_skew_audit",
    "corr_matrix",
    "event_transitions",
    "conversion_lag",
    "weighted_sample",
    "global_shuffle",
    "repetition_strip",
    "bm25_topk",
    "kmeans_embeddings",
    "trigram_lm_score",
    "substring_dedup",
    "quantile_shard",
    "domain_mix_sample",
    "k_anonymity",
    "heavy_hitters_cms",
    "cdc_upsert",
    "scd2_intervals",
    "pagerank_bipartite",
    "triangle_count",
    "copurchase_similarity",
    "hll_distinct",
    "gopher_quality",
    "tfidf_topk",
    "pmi_collocations",
    "inverted_index",
    "events_gap_fill",
    "bloom_filter_semijoin",
    "pareto_skyline",
    "events_rolling",
    "events_time_weighted",
    "char_entropy",
    "rrf_fusion",
    "ivm_agg",
    "similarity_topk",
    "similarity_ann_lsh",
    "similarity_ann_ivf",
    "dedup_embedding_cosine",
    "semdedup",
    "embedding_outliers",
    "cluster_purity",
    "knn_label_noise",
    "embedding_rp_jl",
    "vocab_growth",
    "domain_diversity",
    "lang_id_confusion",
    "rfm_segments",
    "event_seasonality",
    "tokenizer_fertility",
    "user_activity_gini",
    "boilerplate_prefix",
    "streaming_seasonality",
    "orders_cohort_retention",
    "events_user_cap",
    "l_diversity",
    "multimodal_meta",
    "multimodal_resize",
    "multimodal_frame_sample",
    "multimodal_features",
    "streaming_windowed",
    "streaming_validation",
    "streaming_sessionized",
    "streaming_dedup",
    "streaming_enriched",
    "streaming_join",
    "streaming_drift",
    "streaming_incremental_dedup",
]


def _latest_round(prefix: str, suffix: str, files) -> tuple[int, str | None]:
    """(round, filename) of the newest round-numbered artifact, e.g.
    BENCH_r10.json / ORACLE_LOCAL_r9.txt (zero-padding tolerated);
    (-1, None) when none exist."""
    import re

    best, best_name = -1, None
    pat = re.compile(re.escape(prefix) + r"r(\d+)" + re.escape(suffix) + r"$")
    for f in files:
        m = pat.fullmatch(f)
        if m and int(m.group(1)) > best:
            best, best_name = int(m.group(1)), f
    return best, best_name


def check_guards(repo: str | None = None) -> list[str]:
    """Round-hygiene guard (r10 verdict item 6): the r10 round shipped
    a green-looking bench while the evidence artifacts (ORACLE_LOCAL,
    BASELINE.md, PLANS.md) were a round stale — nothing failed loudly.
    This makes bench.py the tripwire, since it runs every round:

    1. dirty tree — modified TRACKED files mean the bench would
       measure code that no commit records (BENCH_FULL.json, which
       bench itself rewrites, is exempt; untracked files are exempt
       because the driver stages round artifacts before committing);
    2. evidence freshness — BASELINE.md, PLANS.md, and the newest
       ORACLE_LOCAL_r{N}.txt must each have a commit AFTER the newest
       committed BENCH_r{N}.json (the driver commits that at round
       close, so "after" means refreshed THIS round), and the oracle
       sweep's round number must not lag the bench round. Evidence
       landing in the SAME commit as the round-close bench is fresh
       (same-hash exemption, ADVICE r11), and an evidence artifact
       with NO commit at all is flagged, not skipped — an untracked
       sweep used to satisfy the guard silently;
    3. sweep-vs-source ordering (r11 verdict item 3) — the newest
       ORACLE_LOCAL / ORACLE_SFSWEEP must not predate the last commit
       touching the code that determines oracle results
       (data_validator_spark/, __spark_entry__.py,
       tools/oracle_check.py): the r11 sweeps were committed one
       commit BEFORE a final query change, silently breaking the
       "full registry re-proven on FINAL code" invariant. Same-commit
       counts as fresh here too.

    Failures are returned (and reported in the bench JSON + a nonzero
    exit) rather than raised, so a guarded run still emits a parseable
    artifact. SPARK_GRAFT_BENCH_FORCE=1 skips the guard for mid-round
    local measurement runs; outside a git checkout the guard is N/A.
    """
    import subprocess

    if os.environ.get("SPARK_GRAFT_BENCH_FORCE", "0") == "1":
        return []
    repo = repo or os.path.dirname(os.path.abspath(__file__))

    def git(*args) -> subprocess.CompletedProcess:
        return subprocess.run(
            ["git", "-C", repo, *args], capture_output=True, text=True, timeout=30
        )

    try:
        if git("rev-parse", "--is-inside-work-tree").returncode != 0:
            return []
    except (OSError, subprocess.SubprocessError):
        return []
    fails: list[str] = []
    dirty = [
        f
        for f in git("diff", "--name-only", "HEAD").stdout.split("\n")
        if f and f != "BENCH_FULL.json"
    ]
    if dirty:
        fails.append(
            f"dirty tree: uncommitted tracked changes ({', '.join(dirty[:5])}"
            + (", ..." if len(dirty) > 5 else "")
            + ") — commit before benching"
        )
    files = os.listdir(repo)
    bench_r, bench_name = _latest_round("BENCH_", ".json", files)
    oracle_r, oracle_name = _latest_round("ORACLE_LOCAL_", ".txt", files)
    if bench_r < 0:
        return fails  # first-ever bench: nothing to be stale against
    if oracle_r < bench_r:
        fails.append(
            f"stale evidence: newest full-registry oracle sweep is "
            f"ORACLE_LOCAL_r{oracle_r} but the bench round is r{bench_r} — "
            "run tools/oracle_check.py and commit the sweep"
        )

    def last_commit(*paths: str) -> tuple[str, int] | None:
        """(hash, committer-ts) of the newest commit touching any of
        ``paths``; None when no commit does (e.g. untracked file)."""
        out = git("log", "-1", "--format=%H %ct", "--", *paths).stdout.split()
        return (out[0], int(out[1])) if len(out) == 2 and out[1].isdigit() else None

    def is_stale(name: str, ref: tuple[str, int]) -> bool | str | None:
        """False = fresh; True = committed strictly before ``ref``
        (same commit is fresh); None = never committed (caller flags
        that — an untracked artifact must not pass as fresh);
        "missing" = has a commit but is gone from the working tree (a
        once-committed-then-deleted artifact must not pass either).
        Ordering is decided by commit ancestry (git merge-base
        --is-ancestor), falling back to committer timestamps only when
        the two commits are unrelated — same-second scripted commits
        made the pure-timestamp compare flag genuinely-after evidence
        as stale (ADVICE r12)."""
        c = last_commit(name)
        if c is None:
            return None
        if not os.path.exists(os.path.join(repo, name)):
            return "missing"
        if c[0] == ref[0]:
            return False
        # ref an ancestor of evidence commit => evidence is after => fresh
        if git("merge-base", "--is-ancestor", ref[0], c[0]).returncode == 0:
            return False
        if git("merge-base", "--is-ancestor", c[0], ref[0]).returncode == 0:
            return True
        return c[1] <= ref[1]

    # Freshness reference: the newest COMMITTED bench artifact. If the
    # newest on-disk BENCH_r{N}.json is untracked (driver hasn't staged
    # it yet), falling through to "no reference, skip check 2" would
    # let stale evidence pass silently (ADVICE r12) — walk back to the
    # newest bench that does have a commit.
    import re as _re

    bench_c, bench_ref_name, bench_ref_r = None, None, None
    _pat = _re.compile(r"BENCH_r(\d+)\.json$")
    for cand_r, cand in sorted(
        ((int(m.group(1)), f) for f in files if (m := _pat.fullmatch(f))),
        reverse=True,
    ):
        bench_c = last_commit(cand)
        if bench_c is not None:
            bench_ref_name, bench_ref_r = cand, cand_r
            break
    if bench_c is not None:
        stale, uncommitted, missing = [], [], []
        for name in ("BASELINE.md", "PLANS.md", oracle_name):
            if name is None:
                continue
            s = is_stale(name, bench_c)
            if s is None:
                uncommitted.append(name)
            elif s == "missing":
                missing.append(name)
            elif s:
                stale.append(name)
        if stale:
            fails.append(
                f"stale evidence: {', '.join(stale)} last committed before "
                f"{bench_ref_name} closed round r{bench_ref_r} — regenerate and "
                "commit (tools/baseline_duckdb.py + baseline_md.py, "
                "tools/plan_audit.py)"
            )
        if uncommitted:
            fails.append(
                f"uncommitted evidence: {', '.join(uncommitted)} exists but has "
                "no commit — an artifact only counts once it is committed"
            )
        if missing:
            fails.append(
                f"missing evidence: {', '.join(missing)} has a commit but is "
                "absent from the working tree — restore or regenerate it"
            )
    # sweep-vs-source ordering: the sweeps must re-prove the FINAL code
    src_c = last_commit(
        "data_validator_spark", "__spark_entry__.py", "tools/oracle_check.py"
    )
    if src_c is not None:
        _, sweep_name = _latest_round("ORACLE_SFSWEEP_", ".txt", files)
        for name in (oracle_name, sweep_name):
            if name is None:
                continue
            s = is_stale(name, src_c)
            if s is None:
                fails.append(
                    f"uncommitted sweep: {name} exists but has no commit — "
                    "commit it (on final code) before benching"
                )
            elif s == "missing":
                fails.append(
                    f"missing sweep: {name} has a commit but is absent from "
                    "the working tree — restore or regenerate it"
                )
            elif s:
                fails.append(
                    f"stale sweep: {name} committed before the last source "
                    "commit — re-run tools/oracle_check.py on the final code "
                    "and commit the sweep"
                )
    return fails


def _judge_retry(attempt1: dict, retry: dict) -> tuple[bool, dict]:
    """(retry_quiet, published) for a contention-flagged run's retry.

    The flag clears ONLY if the retry genuinely ran faster (<0.9x) on
    the same successful query set — two equally slow passes stay
    flagged (a persistent competitor, or a real regression the
    prime-ratio canary caught). Publication is separate (ADVICE r17 /
    r17 verdict item 5): of two COMPLETE same-query-set passes the
    FASTER total is published — contention arriving during the retry
    window must not make the worse pass the round's record. A pass
    with errored queries (v < 0 sentinels) never displaces a complete
    one on "speed": its total is shrunken, not faster."""
    ok1 = {k for k, v in attempt1["queries"].items() if v >= 0}
    ok2 = {k for k, v in retry["queries"].items() if v >= 0}
    retry_quiet = (
        ok1 == ok2
        and attempt1["value"] > 0
        and retry["value"] < 0.9 * attempt1["value"]
    )
    published = retry
    if not retry_quiet and ok1 == ok2 and 0 < attempt1["value"] < retry["value"]:
        published = attempt1
    return retry_quiet, published


def _loadavg_now() -> tuple:
    try:
        return os.getloadavg()
    except OSError:
        return ()


def _tree_dirty(changed: list[str]) -> bool:
    """Whether any changed tracked file is more than a bench artifact:
    every run rewrites BENCH_FULL.json and its stamped
    BENCH_FULL_c{cpus}_sf{sf}.json copy, so those never count."""
    import fnmatch

    return any(f and not fnmatch.fnmatch(f, "BENCH_FULL*.json") for f in changed)


def _run_conditions(cpus: str, sf: float) -> dict:
    """Provenance stamp for a bench artifact (r19, verdict item 7):
    the run's core count, SF, and the code identity it measured —
    git HEAD plus a dirty flag. A reader (or the guard test) can now
    reject a BENCH_FULL.json whose conditions don't match the record
    it is being compared to, instead of discovering the mismatch from
    implausible numbers."""
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
    try:
        load_before = os.getloadavg()  # BEFORE any Spark work
    except OSError:
        load_before = ()
    guard_failures = check_guards()
    for g in guard_failures:
        print(f"bench guard: {g}", file=sys.stderr)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = 0.0

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("bench")
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # pinned explicitly (r16): the r15 driver-env run showed the
        # Python stages at 5-10x their local numbers with both of a
        # query's runs slow — the signature of a per-run worker
        # respawn. reuse defaults to true, but pin it so an
        # environment override can't silently disable the pool; the
        # py_worker_probe_sec bracket in BENCH_FULL decides the
        # question either way.
        .config("spark.python.worker.reuse", "true")
        .getOrCreate()
    )
    # Engine-required confs (sorted-bucket-scan recognition — rationale
    # in data_validator_spark/session.py, where r19 homed them per the
    # r18 verdict item 1; in r18 this was a bench-only .config(),
    # leaving production cli/pipeline sessions paying the per-task SMJ
    # Sorts the one-file-per-bucket layout exists to avoid).
    from data_validator_spark.session import ensure_engine_confs

    ensure_engine_confs(spark)
    spark.sparkContext.setLogLevel("ERROR")

    from data_validator_spark.queries import TABLES, build_registry, load, spread

    queries, _ = build_registry()

    # one-time warehouse hygiene (ADVICE r15): drop at-rest copies
    # orphaned by the r15 key-in-name rename — bench touches every
    # per-round warehouse, so running the sweep here migrates them all
    from data_validator_spark.operators.bucket_sweep import drop_legacy_copies

    swept = drop_legacy_copies(spark)
    if swept:
        print(f"bench sweep: dropped legacy copies {swept}", file=sys.stderr)

    # streaming progress tap (r15 verdict items 1/8): BENCH_r15 showed
    # streaming_windowed at 12.2s driver-side vs 1.9s here with no way
    # to tell WHICH micro-batch paid it — record per-batch
    # recentProgress into BENCH_FULL so the next divergence is
    # diagnosable from artifacts alone
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
                    # fraction is omitted when it is zero — ADVICE r16;
                    # the old strptime '%...%fZ' pattern threw on the
                    # whole-second form and fell back to arrival time,
                    # which the async bus can deliver after the NEXT
                    # query started, misattributing the batch)
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
    # again after the timed loop. If a driver-env run shows a slow
    # multimodal stage while both probes stay ~100ms, the Python worker
    # pool is warm and the cause is elsewhere; a slow second probe
    # means the pool went cold mid-run (idle reaping / memory kill).
    def py_worker_probe() -> float:
        import pandas as _pd

        def _ident(it):
            for b in it:
                yield b

        t0 = time.time()
        (
            spark.range(int(cpus), numPartitions=int(cpus))
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
    import pandas as pd
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

    # Prime pass (r6 verdict item: cold-cache accounting): several
    # queries share session-persisted relations (trigram model, gopher/
    # entropy signals, derived TPC-H relations, dup-pair candidates —
    # the queries.SessionCache instances). Without priming, whichever
    # consumer the bench happens to reach first is charged the one-time
    # build (observed: 15.1s trigram build landing on ccnet_buckets,
    # 7.6s Python-worker spin-up landing on multimodal_meta in the r6
    # driver run). One untimed execution of each cache-building query
    # materializes every shared relation; the cost is reported
    # separately as prime_pass_sec instead of polluting a victim
    # query's row. (A full-HEADLINE prime was measured at ~194s — 3×
    # the cache cost for no extra warm coverage — so the list is the
    # declared cache builders plus one mapInPandas query to spin the
    # Python-worker pool.)
    PRIME = [
        # Layout finalization FIRST (r18): the full-content-watermark
        # validators drop and rebuild a copy whose sidecar lacks the
        # full-content signature (stat builders never record it), so
        # they must reach their steady-state layout BEFORE any cache
        # builder persists a relation over the copy's file listing —
        # otherwise the first timed unique_check run drops the very
        # files pagerank/copurchase's primed caches are frozen onto
        # (observed: both -1 with FAILED_READ_FILE on the pre-rebuild
        # lineitem parts in the first r18 fresh-warehouse bench run).
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
        # r13: the incremental minhash screen reads the PERSISTED band
        # index; the refresh builds it (plus the delta append), so the
        # screen's timed runs measure screening, not table creation
        # (and fills dedup._BINDEX_MAX_CACHE)
        "dedup_band_index_refresh",
        "quality_ensemble",       # quality_ops._ENSEMBLE_DOCS_CACHE
        "ngram_contamination",    # quality_ops._CONTAM_TRAIN_CACHE (r16)
        "kmeans_embeddings",      # corpus_ops._KMEANS_CENTROIDS_CACHE (r16)
        "similarity_ann_ivf",     # similarity._ASSIGNED_CACHE
        "ann_recall_eval",        # similarity._ANN_EVAL_CACHE (r18)
        # tpch_ext._EXT_CACHE is keyed per derived relation
        "q2_min_cost_supplier", "q9_product_profit", "q11_important_stock",
        "q12_shipmode_priority", "q16_parts_supplier",
        "q19_discounted_revenue", "q20_potential_promotion",
        "q21_waiting_orders",
        # r14: the events user_id-bucketed copy (ensure_bucketed_fact)
        # serves the behavioral family — build it untimed once
        "events_sessionized",
        # r15: the o_custkey/c_custkey at-rest copies serve the
        # per-customer family — rfm_segments builds the orders copy
        # (plus warehouse_ops._RFM_CACHE/_RFM_BOUNDS_CACHE),
        # cdc_upsert the customer copy, token_count the doc_id
        # documents copy (graded doc family)
        "rfm_segments",
        "cdc_upsert",
        "token_count",
        # …and q17 builds the l_partkey lineitem + p_partkey part
        # copies (q14/fd_check share them)
        "q17_small_quantity_revenue",
        # mapInPandas worker pool (pandas_udf warm-up above uses a
        # different eval type; spin the mapInPandas path too)
        "multimodal_meta",
        # grouped-map (applyInPandas) worker pool — semdedup's r7
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

    def timed_pass() -> dict:
        """One full best-of-RUNS pass over HEADLINE, with per-query
        start stamps and streaming-progress attribution. Isolated so a
        contention-flagged first pass can be retried (r16 verdict item
        4) with identical protocol."""
        if tap is not None:
            tap.events = []
        results: dict[str, float] = {}
        runs_detail: dict[str, list[float]] = {}
        query_t0: dict[str, float] = {}
        streaming_progress: dict[str, list[dict]] = {}
        stream_windows: list[tuple[float, str]] = []
        total = 0.0
        for name in HEADLINE:
            fn = queries.get(name)
            if fn is None:
                # visible in the artifact, not a silent shrink of the total
                results[name] = -1.0
                print(f"bench error in {name}: not in registry", file=sys.stderr)
                continue
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
        return {
            "value": round(total, 3),
            "queries": results,
            "runs_sec": runs_detail,
            "query_start_epoch": query_t0,
            "load_after": [round(x, 2) for x in _loadavg_now()],
            "py_worker_probe_after_timed": probe_after_timed,
            "streaming_progress": streaming_progress,
        }

    published = timed_pass()
    probe = contention_probe(
        load_before, prime_sec, sf, os.path.dirname(os.path.abspath(__file__))
    )
    attempt1 = None
    if probe["contended"]:
        print(f"bench contention: {'; '.join(probe['signals'])}", file=sys.stderr)
    # self-heal (r16 verdict item 4): a contention-flagged first pass
    # is RETRIED once before publishing — the r16 driver artifact was
    # poisoned by a transient window the detector correctly flagged,
    # yet the flagged numbers still became the round's record. Both
    # attempts land in BENCH_FULL; the FASTER complete pass publishes
    # and the flag clears only per _judge_retry (the ratio alone
    # decides: loadavg right after our OWN first pass is always hot
    # on 32 cores — the probe's documented own-tail blindness — so it
    # cannot gate the clear).
    if probe["contended"] and os.environ.get("SPARK_GRAFT_BENCH_RETRY", "1") != "0":
        print("bench contention: retrying the timed loop once", file=sys.stderr)
        load_retry = _loadavg_now()
        retry = timed_pass()
        attempt1 = published
        retry_quiet, published = _judge_retry(attempt1, retry)
        probe = dict(
            probe,
            retried=True,
            retry_load_before=[round(x, 2) for x in load_retry],
            attempt1_total=attempt1["value"],
            retry_total=retry["value"],
            published_pass="attempt1" if published is attempt1 else "retry",
            contended=not retry_quiet,
        )
        if probe["contended"]:
            print(
                "bench contention: retry did not clear the flag "
                f"(attempt1 {attempt1['value']}s, retry {retry['value']}s)",
                file=sys.stderr,
            )

    out = {
        "metric": "headline_queries_total",
        "value": published["value"],
        "unit": "sec",
        "queries": published["queries"],
        "sf": sf,
        "runs_per_query": runs,
        "prime_pass_sec": prime_sec,
        # diagnostics (BENCH_FULL only — compact_line drops them):
        # every run's wall time (codegen-vs-steady-state visible per
        # query), the Python-worker pool probes bracketing the timed
        # loop, and per-micro-batch streaming progress (r15 items 1/8)
        "runs_sec": published["runs_sec"],
        # per-query start stamps + the loadavg AFTER the loop: a
        # systemic mid-run slowdown (observed r16: a contiguous
        # window where EVERY query ran 3-10x slow while the prime and
        # worker probes were normal — transient host contention the
        # prime-ratio canary cannot see because it starts later) is
        # attributable from the artifact by correlating slow entries'
        # wall-clock window, without re-running anything
        "query_start_epoch": published["query_start_epoch"],
        "load_after": published["load_after"],
        "py_worker_probe_sec": {
            "after_prime": probe_after_prime,
            "after_timed": published["py_worker_probe_after_timed"],
        },
        "streaming_progress": published["streaming_progress"],
    }
    if attempt1 is not None:
        # carry BOTH attempts in full (r16 verdict item 4). Usually
        # the published fields above are the retry's and attempt1
        # rides here; when the faster-pass rule published attempt1
        # instead (ADVICE r17), the retry rides under its own key so
        # neither complete pass is ever lost from the artifact.
        out["attempt1"] = attempt1
        if published is attempt1:
            out["retry_pass"] = retry
    out["contended"] = probe["contended"]
    out["contention"] = probe
    # Artifact provenance stamp (r18 verdict item 4 / r19 item 7): a
    # BENCH_FULL.json is only comparable at matching (cpus, sf, code);
    # the r18 round twice mistook a stale or low-core overwrite for the
    # round's 32-core record. Stamp the run conditions + code identity
    # INTO the artifact, and ALSO write a run-stamped copy whose
    # filename carries them, so the canonical name can be overwritten
    # freely without losing any run's record.
    out["run_conditions"] = _run_conditions(cpus, sf)
    if guard_failures:
        out["guard_failures"] = guard_failures
    if os.environ.get("SPARK_GRAFT_CC_BENCH", "1") != "0":
        try:
            out["cc_chain"] = bench_cc_chain(spark)
        except Exception as e:
            print(f"bench error in cc_chain: {e}", file=sys.stderr)

    # FULL per-query detail goes to a file; the stdout line must stay
    # under the driver's 2000-char tail-capture window or its `parsed`
    # field comes back null (BENCH_r06/r08 both lost structured
    # timings this way — r8 verdict item 4). The repo-root file is
    # committed each round, so nothing is lost by compacting stdout.
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
    # nonzero rc on guard failure (AFTER emitting the artifact, so a
    # guarded run is still parseable — the failure is also in the JSON)
    return 1 if guard_failures else 0


STDOUT_BUDGET = 1800  # chars; driver tail-captures the last 2000
# headline keys compact_line carries; everything else stays in the
# detail file
COMPACT_KEYS = (
    "metric",
    "value",
    "unit",
    "sf",
    "runs_per_query",
    "prime_pass_sec",
    "contended",
    "run_conditions",
    "guard_failures",
    "cc_chain",
)


LOADAVG_CONTENDED = 8.0  # 1-min loadavg before the run, 32-core box
PRIME_RATIO_CONTENDED = 1.5  # prime pass vs newest committed bench


def contention_probe(load_before, prime_sec: float, sf: float, repo_dir: str) -> dict:
    """Self-identify a contended host (r13 verdict item 4 — three
    rounds were burned re-measuring 'regressions' that were other
    processes). Two independent signals, either one suffices:

    1. this run's prime pass vs the newest recorded BENCH_r{N}.json
       at the same SF — the prime list is a fixed workload, so a
       ratio >PRIME_RATIO_CONTENDED is the same-host same-work
       canary, independent of what the other process is doing to
       loadavg NOW (it may have exited mid-run);
    2. the 1-minute loadavg sampled BEFORE any Spark work — a quiet
       box shows <2 on 32 cores (SCALE.md r13 measured 0.88–1.41
       during isolated probes); ≥LOADAVG_CONTENDED means something
       is already using a quarter of the machine.

    When a same-SF prime reference exists and the prime ran, the
    PRIME RATIO decides `contended` and loadavg is recorded as
    advisory only: loadavg cannot distinguish a competitor from the
    decaying tail of our OWN previous run, so the second of two
    back-to-back evidence runs would always false-flag (observed the
    first time this probe ran — load 8.25 from run 1's tail, prime
    ratio 1.43 correctly quiet). A competitor present at the loadavg
    sample also slows the prime, which runs right after, so the
    ratio subsumes the snapshot. Loadavg decides only when no
    comparable reference exists (first bench at an SF, or prime
    disabled).

    The flag is diagnostic, not a guard failure: a contended bench
    still emits (the numbers are real, just dirty) — but the round
    record says so, and the next-round forensic re-measure starts
    from the flag instead of a guess."""
    import re

    probe: dict = {
        "load_before": [round(x, 2) for x in load_before],
        "prime_ref_name": None,
        "prime_ref_sec": None,
        "prime_ratio": None,
        "signals": [],
    }
    if os.environ.get("SPARK_GRAFT_BENCH_FORCE_CONTENDED") == "1":
        # test hook: exercise the retry path deterministically
        probe["signals"].append("forced via SPARK_GRAFT_BENCH_FORCE_CONTENDED")
        probe["contended"] = True
        return probe
    load_hot = bool(load_before) and load_before[0] >= LOADAVG_CONTENDED
    load_signal = (
        f"loadavg_1m {load_before[0]:.2f} >= {LOADAVG_CONTENDED} before the run"
        if load_hot
        else None
    )
    pat = re.compile(r"BENCH_r(\d+)\.json$")
    cands = sorted(
        ((int(m.group(1)), f) for f in os.listdir(repo_dir) if (m := pat.fullmatch(f))),
        reverse=True,
    )
    for _, fname in cands:
        try:
            with open(os.path.join(repo_dir, fname)) as fh:
                d = json.load(fh)
        except (OSError, ValueError):
            continue
        rec = d.get("parsed") or d  # driver wrapper vs raw bench output
        if not isinstance(rec, dict):
            continue
        ref = rec.get("prime_pass_sec")
        if not ref or rec.get("sf") != sf:
            continue
        probe["prime_ref_name"] = fname
        probe["prime_ref_sec"] = ref
        if prime_sec > 0:
            ratio = round(prime_sec / ref, 3)
            probe["prime_ratio"] = ratio
            if ratio > PRIME_RATIO_CONTENDED:
                probe["signals"].append(
                    f"prime pass {prime_sec}s is {ratio}x the {fname} prime "
                    f"({ref}s) at the same sf"
                )
        break
    if probe["prime_ratio"] is not None:
        # prime ratio decides; a hot loadavg is advisory detail only
        if load_signal:
            probe["load_advisory"] = load_signal
    elif load_signal:
        probe["signals"].append(load_signal)
    probe["contended"] = bool(probe["signals"])
    return probe


def compact_line(out: dict, detail_file: str) -> str:
    """One JSON line under STDOUT_BUDGET chars: headline totals plus as
    many per-query timings as fit, slowest first (the informative
    tail); the rest are summarized so the total stays reconstructable
    (fast_queries_total_sec + queries_omitted). The full contention
    probe stays in the detail file; only the boolean rides the line."""
    results: dict = out["queries"]
    # an allowlist, so a new diagnostic key (a contention retry's
    # attempt1/retry_pass, each a whole pass) never crowds the
    # per-query timings out of the budget
    base = {k: out[k] for k in COMPACT_KEYS if k in out}
    base["detail_file"] = detail_file
    base["n_queries"] = len(results)
    # -1.0 sentinels mark errored/missing entries; they are excluded
    # from every timing sum, so report them explicitly — otherwise an
    # omitted-but-errored entry is indistinguishable from a fast one
    # and shown + fast no longer reconstructs `value` (ADVICE r9).
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
