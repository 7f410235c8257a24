"""Streaming registry entries (SURVEY §2 streaming rows).

Each entry runs an analysis as an ACTUAL Structured Streaming query
(file source → stateful operator → memory sink) and returns the
final table. Where a batch registry entry computes the same answer,
the streaming twin applies the batch kernel to the stream and shares
its oracle (or the oracle's fragments): ``streaming_windowed`` is
``events_windowed``'s kernel, ``streaming_seasonality`` is
``event_seasonality``'s, ``streaming_drift`` ends in ``drift_psi``'s
PSI assembly, and ``streaming_validation`` runs the batch runner's
fused validator scan per micro-batch. Matching the batch oracle is
what proves the streaming plan computes identical answers.
"""

from __future__ import annotations

import tempfile
import uuid

from pyspark.sql import functions as F

from data_validator_spark.functions.text import doc_fingerprint
from data_validator_spark.queries import dsum, load, normalize_events_ts, sql_dsum
from data_validator_spark.queries.analytics import (
    SQL_EVENTS_WINDOWED,
    SQL_SESSION_SEQ_CTES,
    hourly_event_counts,
)
from data_validator_spark.queries.dedup import (
    SQL_INCREMENTAL_SPLIT,
    _incremental_index,
    _incremental_pivot,
)
from data_validator_spark.queries.mining_ops import (
    SQL_EVENT_SEASONALITY,
    seasonality_cells,
    seasonality_shares,
)
from data_validator_spark.queries.quality_ops import (
    PSI_BUCKETS,
    PSI_CENTS,
    PSI_PIVOT,
    SQL_DRIFT_PSI_BASE,
    SQL_PSI_TERMS,
    psi_terms,
)


_SCRATCH_DIRS: list[str] = []


def _scratch_dir(prefix: str) -> str:
    """mkdtemp tracked for end-of-process cleanup (repeated bench/test
    sessions otherwise accumulate unbounded /tmp entries)."""
    import atexit
    import shutil

    d = tempfile.mkdtemp(prefix=prefix)
    if not _SCRATCH_DIRS:
        atexit.register(
            lambda: [shutil.rmtree(x, ignore_errors=True) for x in _SCRATCH_DIRS]
        )
    _SCRATCH_DIRS.append(d)
    return d


def _stream_reader(spark, sf, name, copies: int = 1):
    """readStream twin of queries.load (schema from a batch read; events
    ns-timestamps truncated to µs exactly like the batch loader).

    The file source requires a DIRECTORY; the synthetic tables are
    single files, so link each into a scratch dir (zero-copy).
    ``copies`` links the file N times — the at-least-once-redelivery
    feed the streaming-dedup query consumes."""
    import os

    load(spark, sf, name)  # sets UTC + nanosAsLong session confs
    src = os.path.abspath(f"{sf}/{name}.parquet")
    # raw on-disk schema (pre ns→µs conversion: events.ts is int64)
    raw_schema = spark.read.parquet(src).schema
    d = _scratch_dir(f"dv_stream_{name}_")
    for i in range(copies):
        os.symlink(src, os.path.join(d, f"{name}_{i}.parquet"))
    df = spark.readStream.schema(raw_schema).format("parquet").load(d)
    if name == "events":
        df = normalize_events_ts(df)
    return df


class _stream_partitions:
    """Scope spark.sql.shuffle.partitions down for a micro-batch run.

    For STREAMING queries this conf is the stateful-operator partition
    count, fixed at query start and persisted in the checkpoint: every
    micro-batch pays one state-store task per partition regardless of
    rows. Size it to the stream RATE — 32 stores for a few-MB bench
    feed is pure per-batch overhead (measured ~2× on the stream-stream
    join), while a production firehose would run hundreds. Batch plans
    in the same session are untouched: the previous value is restored
    on exit."""

    N = 8

    def __init__(self, spark, n: int | None = None):
        self.spark = spark
        self.n = self.N if n is None else n

    def __enter__(self):
        self.prev = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", str(self.n))

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.prev)


def _run_to_memory(
    stream_df, agg_builder, output_mode: str = "complete", partitions: int | None = None
):
    """Run a bounded stream to completion into a memory sink; return
    the final table. ``output_mode``: "complete" for aggregations,
    "append" for joins/stateful emit-on-close operators.
    ``partitions`` overrides the _stream_partitions default for
    operators whose state-task overhead differs (stream-stream join)."""
    import shutil

    name = f"dv_stream_{uuid.uuid4().hex[:12]}"
    ckpt = tempfile.mkdtemp(prefix="dv_ckpt_")
    spark = stream_df.sparkSession
    with _stream_partitions(spark, partitions):
        q = (
            agg_builder(stream_df)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    # materialize the (small) final table off the memory sink so the
    # sink table and checkpoint can be released immediately — repeated
    # runs otherwise accumulate driver-memory tables and /tmp state
    out = spark.table(name).localCheckpoint()
    spark.catalog.dropTempView(name)
    shutil.rmtree(ckpt, ignore_errors=True)
    return out


def q_streaming_windowed(spark, sf):
    ev = _stream_reader(spark, sf, "events")
    return _run_to_memory(ev, hourly_event_counts).orderBy("window_start", "event_type")


def q_streaming_validation(spark, sf):
    """Streaming validation full cycle: readStream → foreachBatch
    running the SAME fused validator scan the batch runner uses.

    Registered output is the stream TOTAL, not the per-batch rows:
    micro-batch boundaries are an execution detail of the file source
    (chunking can legally differ run to run), so per-batch rows have
    no stable hash — but their SUMS are batch-boundary-independent,
    which is what lets this entry carry a real DuckDB oracle (the
    plain batch aggregate over the same table). Per-batch structure
    stays pinned in pytest (test_streaming)."""
    from data_validator_spark.streaming import StreamingValidator
    from data_validator_spark.validators.row_based import NegativeCheck, NullCheck

    sv = StreamingValidator(
        lambda: [NullCheck("l_returnflag"), NegativeCheck("l_quantity")]
    )
    stream = _stream_reader(spark, sf, "lineitem")
    ckpt = _scratch_dir("dv_ckpt_")
    q = sv.start(stream, checkpointLocation=ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    total_rows = sum(b["rowCount"] for b in sv.batches)
    errs = {"nullCheck": 0, "negativeCheck": 0}
    for b in sv.batches:
        for c in b["checks"]:
            for e in c["events"]:
                if e.get("type") == "counter" and e.get("name") == "errorCount":
                    errs[c["type"]] += int(e["value"])
    any_failed = any(b["failed"] for b in sv.batches)
    rows = [(total_rows, errs["nullCheck"], errs["negativeCheck"], any_failed)]
    return spark.createDataFrame(
        rows,
        "total_rows bigint, null_errors bigint, negative_errors bigint, "
        "any_failed boolean",
    )


# Zero-threshold checks: a batch fails iff it saw any error, so
# any-batch-failed ≡ total errors > 0 — the equivalence that makes the
# stream total oracle-checkable.
SQL_STREAMING_VALIDATION = """
SELECT CAST(count(*) AS BIGINT) AS total_rows,
       COALESCE(CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END)
                AS BIGINT), 0) AS null_errors,
       COALESCE(CAST(SUM(CASE WHEN l_quantity < 0 THEN 1 ELSE 0 END)
                AS BIGINT), 0) AS negative_errors,
       COALESCE((SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END)
        + SUM(CASE WHEN l_quantity < 0 THEN 1 ELSE 0 END)) > 0, FALSE)
         AS any_failed
FROM lineitem
"""


def q_streaming_sessionized(spark, sf):
    """Stateful sessionization (applyInPandasWithState) over the events
    stream. Hash-checked against a batch oracle that models the
    emission rule exactly: a session is emitted iff it was closed by
    evidence (a later same-user event beyond the gap — i.e. it is not
    the user's last session) OR closed by silence (its event-time
    timeout `end + gap`, in floor-ms, fell strictly below the final
    watermark `max(ts) - gap`). Open tails stay in state and are NOT
    emitted — the oracle replicates that cutoff instead of pretending
    the stream saw the end of time.

    session_value is intentionally not part of the checked output: the
    stateful kernel accumulates doubles in arrival order, which no
    batch engine reproduces bit-for-bit (boundaries and counts ARE the
    sessionization semantics; per-session value is oracle-checked on
    the batch twin events_sessionized via decimal sums)."""
    from data_validator_spark.streaming.sessionize import sessionize_stream

    ev = _stream_reader(spark, sf, "events")
    # SIXTEEN partitions, not _stream_partitions' 8: this operator is
    # bound by the PYTHON stateful workers (applyInPandasWithState),
    # so partitions = parallel pandas kernels, and the optimum sits
    # between the JVM-state ops' 8 and the session's 32 (r8 A/B on the
    # vectorized kernel at sf0.1: 32→3.8s, 16→2.8s, 8→3.2s, 4→4.3s —
    # per-worker spin-up/overhead dominates above 16, kernel
    # serialization below it).
    sessions = _run_to_memory(
        ev.select("user_id", "ts", "value"),
        lambda s: sessionize_stream(s, gap_minutes=30),
        output_mode="append",
        partitions=16,
    )
    return sessions.select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        "n_events",
    )


# The emission-rule twin of the stream: the batch twin's gap-split
# sessions, then keep non-last sessions plus last sessions whose
# floor-ms timeout passed the final watermark. All boundary arithmetic
# in integer ms exactly as Spark's event-time watermark machinery
# computes it.
SQL_STREAMING_SESSIONIZED = f"""
WITH {SQL_SESSION_SEQ_CTES},
agg AS (
  SELECT user_id, session_seq, min(ts) AS t_start, max(ts) AS t_end,
         count(*) AS n_events
  FROM s GROUP BY 1, 2),
last AS (SELECT user_id, max(session_seq) AS last_seq FROM agg GROUP BY 1),
wm AS (SELECT (epoch_us(max(ts)) // 1000) - 1800000 AS wm_ms FROM events)
SELECT user_id,
       strftime(t_start, '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(t_end, '%Y-%m-%d %H:%M:%S') AS session_end,
       n_events
FROM agg JOIN last USING (user_id), wm
WHERE session_seq < last_seq
   OR (epoch_us(t_end) // 1000 + 1800000) < wm_ms
ORDER BY user_id, session_start
"""


def q_streaming_dedup(spark, sf):
    """Exactly-once dedup of an at-least-once stream.

    Every event is delivered TWICE (two file-source copies of the same
    parquet), then ``dropDuplicatesWithinWatermark`` on event_id
    collapses redelivery inside the watermark horizon — the
    scale-correct streaming dedup: state is bounded by the watermark
    instead of growing forever like plain dropDuplicates. The deduped
    per-type aggregate hash-matches the batch oracle over the
    single-copy table, which only holds if dedup removed exactly the
    duplicate delivery."""
    df = _stream_reader(spark, sf, "events", copies=2)

    deduped = _run_to_memory(
        df,
        lambda s: s.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(
            ["event_id"]
        ),
        output_mode="append",
    )
    return (
        deduped.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum(F.col("value"), "sum_value"))
        .orderBy("event_type")
    )


SQL_STREAMING_DEDUP = f"""
SELECT event_type, count(*) AS n_events, {sql_dsum('value', 'sum_value')}
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def q_streaming_enriched(spark, sf):
    """Stream-static enrichment: the events stream joins the static
    customer dimension (broadcast — re-read per micro-batch, never
    shuffled) and aggregates value by market segment. The canonical
    'enrich a firehose with a dimension table' shape; the final table
    hash-matches the batch join's oracle, proving the stream-static
    path computes identical answers."""
    ev = _stream_reader(spark, sf, "events")
    cust = load(spark, sf, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )

    def agg(df):
        return (
            df.join(F.broadcast(cust), "user_id")
            .groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n_events"), dsum(F.col("value"), "sum_value"))
        )

    return _run_to_memory(ev, agg).orderBy("c_mktsegment")


SQL_STREAMING_ENRICHED = f"""
SELECT c_mktsegment, count(*) AS n_events, {sql_dsum('value', 'sum_value')}
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


def q_streaming_join(spark, sf):
    """Stream-stream interval join: click-before-purchase attribution.
    Two live streams over the events feed (purchases, clicks) joined
    on user with the click constrained to the hour before the
    purchase — the canonical Structured Streaming stream-stream join:
    both sides carry watermarks, the time-interval predicate bounds
    the state each side must buffer (clicks older than the interval +
    watermark are evicted), and matches emit in append mode as they
    form. Aggregated per purchase after the stream completes; the
    DuckDB oracle runs the identical interval join in batch.

    At 100 TB-rate streams this state-bounding is the difference
    between a runnable join and an OOM: state size is
    O(rate x (interval + watermark)), independent of stream length."""
    purchases = (
        _stream_reader(spark, sf, "events")
        .where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    clicks = (
        _stream_reader(spark, sf, "events")
        .where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("value").alias("c_value"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    # a stream-stream join keeps TWO state stores per partition (one
    # per side), so its per-batch state-task overhead runs at twice
    # the single-operator rate — the r8 A/B puts its optimum at 4
    # partitions (2.25s) vs the shared default 8 (2.63s) / 16 (3.5s)
    pairs = _run_to_memory(
        purchases,
        lambda p: p.join(
            clicks,
            (F.col("user_id") == F.col("c_user"))
            & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
            & (F.col("c_ts") <= F.col("p_ts")),
            "inner",
        ),
        output_mode="append",
        partitions=4,
    )
    return (
        pairs.groupBy("purchase_id", "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_prior_clicks"),
            dsum(F.col("c_value"), "sum_click_value"),
        )
    )


SQL_STREAMING_JOIN = f"""
SELECT p.event_id AS purchase_id,
       p.user_id AS user_id,
       count(*) AS n_prior_clicks,
       {sql_dsum('c.value', 'sum_click_value')}
FROM events p JOIN events c
  ON p.event_type = 'purchase' AND c.event_type = 'click'
 AND p.user_id = c.user_id
 AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
GROUP BY 1, 2 ORDER BY purchase_id
"""


# -- streaming_drift -------------------------------------------------------
def q_streaming_drift(spark, sf):
    """Streaming PSI drift monitor: the 'current' lineitem population
    (shipped on/after the pivot) arrives as a live stream and
    accumulates into drift buckets fixed from the STATIC reference
    snapshot — the production shape of `drift_psi`, where the
    reference histogram is computed once and the live feed is scored
    against it. Bucket boundaries come from the reference min/max
    (broadcast into the stream as a stream-static join; out-of-range
    live values clamp to the edge buckets), per-bucket counts
    accumulate in complete mode, and the PSI assembly joins the
    final accumulated state against the static reference relation.

    Scale shape: per micro-batch the stream does one broadcast join
    against a single-row stats relation plus a map-side-combined
    groupBy to ≤10 running buckets — state is O(buckets), not
    O(rows), at any rate.

    Determinism: identical integer-cents bucketing to drift_psi
    (clamped BEFORE the division so no negative numerator meets the
    engines' differing integer-division conventions); the oracle
    recomputes the same ref-bucketed PSI in DuckDB.
    """
    li = load(spark, sf, "lineitem")
    cents = F.expr(PSI_CENTS)
    ref = li.where(F.col("l_shipdate") < F.lit(PSI_PIVOT)).select(
        cents.alias("cents")
    )
    # the static side of a stream-static join is re-evaluated per
    # micro-batch — localCheckpoint materializes the 1-row stats
    # relation once so each batch broadcasts a constant instead of
    # re-scanning the reference table
    stats = ref.agg(
        F.min("cents").alias("minc"),
        F.max("cents").alias("maxc"),
        F.count(F.lit(1)).alias("ref_tot"),
    ).localCheckpoint()
    clamped = F.expr(
        f"least({PSI_BUCKETS - 1}, "
        f"((least(maxc, greatest(minc, cents)) - minc) * {PSI_BUCKETS}) "
        f"div (maxc - minc + 1))"
    )
    ref_counts = (
        ref.crossJoin(F.broadcast(stats))
        .groupBy(clamped.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("ref_cnt"))
        .localCheckpoint()
    )
    stats1 = stats.withColumn("one", F.lit(1))

    stream = _stream_reader(spark, sf, "lineitem")
    cur_stream = (
        stream.where(F.col("l_shipdate") >= F.lit(PSI_PIVOT))
        .select(cents.alias("cents"), F.lit(1).alias("one"))
    )

    def agg(df):
        return (
            df.join(F.broadcast(stats1), "one")
            .groupBy(clamped.alias("bucket"))
            .agg(F.count(F.lit(1)).alias("cur_cnt"))
        )

    cur = _run_to_memory(cur_stream, agg)
    totals = stats.select(F.col("ref_tot").alias("rt")).crossJoin(
        cur.agg(F.coalesce(F.sum("cur_cnt"), F.lit(0)).alias("ct"))
    )
    return psi_terms(spark, totals, ref_counts, cur)


# drift_psi's oracle with the stream's bucketing: bounds from the
# reference rows only, every value clamped into them.
SQL_STREAMING_DRIFT = f"""
WITH {SQL_DRIFT_PSI_BASE},
stats AS (
  SELECT MIN(cents) FILTER (WHERE is_ref) AS minc,
         MAX(cents) FILTER (WHERE is_ref) AS maxc,
         CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS ref_tot,
         CAST(SUM(CASE WHEN is_ref = false THEN 1 ELSE 0 END) AS BIGINT) AS cur_tot
  FROM base),
counts AS (
  SELECT LEAST({PSI_BUCKETS - 1},
               ((LEAST(maxc, GREATEST(minc, cents)) - minc) * {PSI_BUCKETS})
               // (maxc - minc + 1)) AS bucket,
         CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS ref_cnt,
         CAST(SUM(CASE WHEN is_ref = false THEN 1 ELSE 0 END) AS BIGINT) AS cur_cnt
  FROM base, stats GROUP BY 1),
{SQL_PSI_TERMS}"""


# -- streaming_seasonality ----------------------------------------------------
def q_streaming_seasonality(spark, sf):
    """Hour-of-week seasonality census maintained over the LIVE stream
    — the streaming twin of mining_ops.event_seasonality (the batch
    entry), for dashboards that watch traffic shape drift in real
    time. The aggregation state is ≤ 7×24 cells in complete mode —
    CONSTANT state regardless of stream volume or uptime, the
    cheapest stateful operator in the registry.

    The registered output hash-matches the batch twin's DuckDB oracle
    (same dow/hour bridging, same dsum terms, same micro-unit
    shares), proving the streaming plan computes the identical
    census; micro-batch structure itself is pinned in pytest."""
    ev = _stream_reader(spark, sf, "events")
    return seasonality_shares(_run_to_memory(ev, seasonality_cells))


# -- streaming_incremental_dedup ---------------------------------------------
def q_streaming_incremental_dedup(spark, sf):
    """Streaming ingest dedup against the persisted corpus fingerprint
    index — the LIVE twin of batch ``dedup_incremental`` (dedup.py):
    the append delta arrives as a stream (a Kafka-shaped ingest,
    modeled by the file source with the same literal doc_id pivot
    pushed into the stream scan); every micro-batch fingerprints its
    documents IN-STREAM (pure map — the md5 normalization chain) and
    stream-static joins the session-persisted distinct-fingerprint
    index to split arrivals into corpus-dups vs novel docs, with the
    running census accumulating in complete mode.

    Scale shape: per micro-batch one map stage + one join against the
    static index relation (fingerprint-width, session-persisted — the
    'index build' is paid once, NEVER per batch) + a map-side-combined
    aggregate to a SINGLE running row. State is O(1). Within-delta
    duplicates are deliberately out of scope here (they'd need
    cross-batch keyed state — dropDuplicatesWithinWatermark territory);
    the batch twin flags them, and the oracle scopes to corpus-dups.

    Determinism: pure integer counts over exact md5-equality — the
    lowest-drift-risk class in the registry; micro-batch boundaries
    can't move a count because the census is batch-additive."""
    index, _bits = _incremental_index(spark, sf)
    pivot = _incremental_pivot(spark, sf)
    marked = index.withColumn("in_corpus", F.lit(1))
    stream = _stream_reader(spark, sf, "documents")

    def agg(df):
        fp = df.where(F.col("doc_id") >= F.lit(pivot)).select(
            "doc_id", doc_fingerprint(F.col("text")).alias("fingerprint")
        )
        joined = fp.join(marked, "fingerprint", "left")
        return joined.agg(
            F.count(F.lit(1)).alias("n_delta"),
            F.coalesce(F.sum("in_corpus"), F.lit(0)).cast("long").alias("n_dup_corpus"),
            (
                F.count(F.lit(1)) - F.coalesce(F.sum("in_corpus"), F.lit(0))
            ).cast("long").alias("n_novel"),
        )

    return _run_to_memory(stream, agg, output_mode="complete")


SQL_STREAMING_INCREMENTAL = f"""
WITH {SQL_INCREMENTAL_SPLIT}
SELECT count(*) AS n_delta,
       CAST(COALESCE(SUM(CASE WHEN c.fingerprint IS NOT NULL THEN 1 END), 0)
            AS BIGINT) AS n_dup_corpus,
       CAST(count(*) - COALESCE(SUM(CASE WHEN c.fingerprint IS NOT NULL THEN 1 END), 0)
            AS BIGINT) AS n_novel
FROM delta d LEFT JOIN corpus c ON d.fingerprint = c.fingerprint
"""


QUERIES = {
    "streaming_drift": q_streaming_drift,
    "streaming_windowed": q_streaming_windowed,
    "streaming_validation": q_streaming_validation,
    "streaming_sessionized": q_streaming_sessionized,
    "streaming_dedup": q_streaming_dedup,
    "streaming_enriched": q_streaming_enriched,
    "streaming_join": q_streaming_join,
    "streaming_seasonality": q_streaming_seasonality,
    "streaming_incremental_dedup": q_streaming_incremental_dedup,
}

ORACLES = {
    "streaming_validation": SQL_STREAMING_VALIDATION,
    "streaming_drift": SQL_STREAMING_DRIFT,
    "streaming_windowed": SQL_EVENTS_WINDOWED,
    "streaming_sessionized": SQL_STREAMING_SESSIONIZED,
    "streaming_dedup": SQL_STREAMING_DEDUP,
    "streaming_enriched": SQL_STREAMING_ENRICHED,
    "streaming_join": SQL_STREAMING_JOIN,
    "streaming_seasonality": SQL_EVENT_SEASONALITY,
    "streaming_incremental_dedup": SQL_STREAMING_INCREMENTAL,
}
