"""Structured Streaming: per-micro-batch validation via foreachBatch
and windowed aggregation with watermark (SURVEY §2 streaming rows,
pytest-verified)."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from data_validator_spark.queries.analytics import hourly_event_counts
from data_validator_spark.streaming import StreamingValidator
from data_validator_spark.validators.row_based import (
    NegativeCheck,
    NullCheck,
    RangeCheck,
    StringRegexCheck,
)

SCHEMA = "id int, v double, s string"


def _write_batch(spark, path, rows):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(path)


def test_streaming_validation_per_micro_batch(spark, tmp_path):
    src = str(tmp_path / "stream_src")
    ckpt = str(tmp_path / "ckpt")
    _write_batch(spark, src, [(1, 1.0, "a"), (2, -2.0, "b")])

    sv = StreamingValidator(lambda: [NullCheck("s"), NegativeCheck("v")])
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = sv.start(stream, checkpointLocation=ckpt)
    try:
        q.processAllAvailable()
        n1 = len(sv.batches)
        assert n1 >= 1
        # batch 1: one negative v -> negativeCheck failed, nullCheck passed
        assert sv.batches[0]["failed"] is True
        by_type = {c["type"]: c for c in sv.batches[0]["checks"]}
        assert by_type["negativeCheck"]["failed"] is True
        assert by_type["nullCheck"]["failed"] is False

        # second micro-batch: clean data -> passes
        _write_batch(spark, src, [(3, 3.0, "c")])
        q.processAllAvailable()
        assert len(sv.batches) > n1
        assert sv.batches[-1]["failed"] is False
        assert sv.batches[-1]["rowCount"] == 1
    finally:
        q.stop()


def test_streaming_validator_config_checks_before_start(spark, tmp_path):
    """A bad check config (a range with no bounds, a missing column, a
    regex Java cannot compile) fails start() from the stream's schema,
    before any query runs: no micro-batch ever sees it."""
    src = str(tmp_path / "stream_src")
    _write_batch(spark, src, [(1, 1.0, "a")])
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    active = len(spark.streams.active)

    for bad, message in [
        (lambda: RangeCheck("v"), "Must defined minValue or maxValue or both"),
        (lambda: NullCheck("missing"), "Column: 'missing' not found in schema"),
        (lambda: StringRegexCheck("s", "[a-"), r"Invalid regex '\[a-': Illegal character range"),
    ]:
        sv = StreamingValidator(lambda: [NegativeCheck("v"), bad()])
        with pytest.raises(ValueError, match=message):
            sv.start(stream, checkpointLocation=str(tmp_path / "ckpt")).stop()
        assert len(spark.streams.active) == active
        assert sv.batches == []


def has_watermark(frame):
    return "EventTimeWatermark" in frame._jdf.queryExecution().analyzed().toString()


def test_streaming_windowed_counts_with_watermark(spark, tmp_path):
    """The events_windowed kernel on a stream: 1-hour windows under a
    watermark."""
    src = str(tmp_path / "ev_src")
    ckpt = str(tmp_path / "ev_ckpt")
    rows = [
        ("2024-01-01 00:00:10", "click", 1.0),
        ("2024-01-01 00:59:50", "click", 2.0),
        ("2024-01-01 01:00:10", "view", 3.0),
    ]
    df = spark.createDataFrame(rows, "ts_s string, event_type string, value double").select(
        F.col("ts_s").cast("timestamp").alias("ts"), "event_type", "value"
    )
    df.coalesce(1).write.parquet(src)

    stream = spark.readStream.schema("ts timestamp, event_type string, value double").parquet(src)
    agg = hourly_event_counts(stream)
    assert has_watermark(agg)
    q = (
        agg.writeStream.format("memory")
        .queryName("win_test")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        out = {
            (r["window_start"], r["event_type"]): (r["n_events"], float(r["sum_value"]))
            for r in spark.table("win_test").collect()
        }
    finally:
        q.stop()
    assert out == {
        ("2024-01-01 00:00:00", "click"): (2, 3.0),
        ("2024-01-01 01:00:00", "view"): (1, 3.0),
    }


def test_windowed_event_counts_batch_analog(spark):
    """The same kernel on a batch frame adds no watermark."""
    rows = [
        ("2024-01-01 00:00:10", "click", 1.0),
        ("2024-01-01 00:00:20", "click", 1.5),
    ]
    df = spark.createDataFrame(rows, "ts_s string, event_type string, value double").select(
        F.col("ts_s").cast("timestamp").alias("ts"), "event_type", "value"
    )
    batch = hourly_event_counts(df)
    assert not has_watermark(batch)
    out = batch.collect()
    assert len(out) == 1 and out[0]["n_events"] == 2
    assert float(out[0]["sum_value"]) == 2.5


def test_multimodal_decode_plumbing(spark, monkeypatch, tmp_path):
    """mapInPandas decode stub: schema, batch iteration, output shape."""
    import data_validator_spark.queries.multimodal as mm

    docs = spark.createDataFrame(
        [(1, "hello", "en", "web", 5), (2, "worlds!", "fr", "book", 7)],
        "doc_id bigint, text string, lang string, source string, n_chars int",
    )
    p = str(tmp_path / "documents.parquet")
    docs.write.parquet(p)
    # sort here: the query output carries no orderBy (corpus-sized
    # relation; the driver hash is order-insensitive)
    out = sorted(
        mm.q_multimodal_meta(spark, str(tmp_path)).collect(),
        key=lambda r: r["doc_id"],
    )
    assert [r["doc_id"] for r in out] == [1, 2]
    assert out[0]["n_bytes"] == 5 and out[1]["n_bytes"] == 7
    assert out[0]["fake_width"] == 6 and out[0]["fake_height"] == 6  # len 5 -> (6,6)
    assert out[0]["media_type"] == "text/fake-image"


def test_stateful_sessionization_applyinpandaswithstate(spark, tmp_path):
    """Sessions close by evidence (later event past the gap) and by
    silence (event-time watermark passes last_event + gap)."""
    from data_validator_spark.streaming.sessionize import sessionize_stream

    src = str(tmp_path / "sess_src")
    ckpt = str(tmp_path / "sess_ckpt")

    def write(rows):
        spark.createDataFrame(rows, "ts_s string, user_id bigint, value double").select(
            F.col("ts_s").cast("timestamp").alias("ts"), "user_id", "value"
        ).coalesce(1).write.mode("append").parquet(src)

    # batch 1 — user 7: 2 events, 2h gap, 1 more (first session closes
    # by evidence); user 8: single event at 09:00 (stays open for now)
    write(
        [
            ("2024-01-01 08:00:00", 7, 1.0),
            ("2024-01-01 08:05:00", 7, 2.0),
            ("2024-01-01 10:05:00", 7, 4.0),
            ("2024-01-01 09:00:00", 8, 8.0),
        ]
    )

    stream = (
        spark.readStream.schema("ts timestamp, user_id bigint, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        sessionize_stream(stream, gap_minutes=30)
        .writeStream.format("memory")
        .queryName("sess_test")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        out = {r["user_id"]: r for r in spark.table("sess_test").collect()}
        # by evidence: user 7's first session closed by its 2h gap
        assert out[7]["n_events"] == 2 and out[7]["session_value"] == 3.0
        assert out[7]["session_start"].isoformat() == "2024-01-01T08:00:00"
        assert out[7]["session_end"].isoformat() == "2024-01-01T08:05:00"
        # by silence: the follow-up batch moves the watermark to
        # 10:05 - 30min = 09:35, past user 8's timeout (09:00 + 30min)
        assert out[8]["n_events"] == 1 and out[8]["session_value"] == 8.0
        # user 7's open tail (10:05, timeout 10:35 > 09:35) is NOT closed
        assert out[7]["session_end"].isoformat() != "2024-01-01T10:05:00"

        # batch 2 (event at 12:00) moves the watermark to 11:30 —
        # past user 7's tail timeout → closed by silence too
        write([("2024-01-01 12:00:00", 9, 1.0)])
        q.processAllAvailable()
        sessions = {
            (r["user_id"], r["session_start"].isoformat(), r["session_end"].isoformat())
            for r in spark.table("sess_test").collect()
        }
        assert (7, "2024-01-01T10:05:00", "2024-01-01T10:05:00") in sessions
        # user 9's session is still open (nothing past its timeout yet)
        assert not any(u == 9 for u, _, _ in sessions)
    finally:
        q.stop()


def test_streaming_dedup_within_watermark_collapses_redelivery(spark, tmp_path):
    """At-least-once delivery (same rows in two source files) collapses
    to exactly-once via dropDuplicatesWithinWatermark on the key."""
    src = str(tmp_path / "dup_src")
    ckpt = str(tmp_path / "dup_ckpt")
    ev_schema = "event_id bigint, ts timestamp, kind string"
    rows = [
        (1, "2024-01-01 10:00:00", "a"),
        (2, "2024-01-01 10:05:00", "b"),
        (3, "2024-01-01 10:10:00", "a"),
    ]
    df = spark.createDataFrame(
        [(i, t, k) for i, t, k in rows], "event_id bigint, ts string, kind string"
    ).select("event_id", F.col("ts").cast("timestamp").alias("ts"), "kind")
    # two identical deliveries
    df.coalesce(1).write.mode("append").parquet(src)
    df.coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(ev_schema).parquet(src)
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(["event_id"])
    name = "dv_test_dedup_sink"
    q = (
        deduped.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.table(name).collect()
    assert sorted(r["event_id"] for r in out) == [1, 2, 3]


def test_stateful_sessionization_matches_batch_twin(spark):
    """Every session CLOSED by the stream must equal its batch-computed
    twin (user, start, end, event count). On sf0.001 the stream closes
    945 of 946 sessions (one open tail stays in state) with zero
    mismatches. Value-sum semantics are pinned on the raw operator in
    test_stateful_sessionization_applyinpandaswithstate; the registry
    projection intentionally omits session_value (float accumulation
    order is engine-private — see q_streaming_sessionized)."""
    from data_validator_spark.queries import analytics
    from data_validator_spark.queries import streaming_queries as sq

    sf = "/root/testdata/sf0.001"
    batch = {
        (r["user_id"], r["session_start"]): (r["session_end"], r["n_events"])
        for r in analytics.events_sessionized(spark, sf).collect()
    }
    stream_rows = sq.q_streaming_sessionized(spark, sf).collect()
    assert len(stream_rows) >= len(batch) - 1  # at most the open tail missing
    for r in stream_rows:
        key = (r["user_id"], r["session_start"])
        assert batch[key] == (r["session_end"], r["n_events"])


def test_streaming_join_matches_batch_interval_join(spark):
    """The stream-stream interval join must emit exactly the pairs the
    batch interval join finds (once all data is processed)."""
    from data_validator_spark.queries import load
    from data_validator_spark.queries.streaming_queries import q_streaming_join
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    got = {
        (r["purchase_id"], r["user_id"]): (r["n_prior_clicks"], r["sum_click_value"])
        for r in q_streaming_join(spark, sf).collect()
    }
    ev = load(spark, sf, "events")
    p = ev.where("event_type = 'purchase'").select(
        "user_id", F.col("ts").alias("p_ts"), F.col("event_id").alias("purchase_id")
    )
    c = ev.where("event_type = 'click'").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"),
        F.col("value").alias("c_value"),
    )
    want_rows = (
        p.join(
            c,
            (F.col("user_id") == F.col("c_user"))
            & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
            & (F.col("c_ts") <= F.col("p_ts")),
        )
        .groupBy("purchase_id", "user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("c_value"), 6).alias("s"))
        .collect()
    )
    want = {
        (r["purchase_id"], r["user_id"]): (r["n"], round(r["s"], 6))
        for r in want_rows
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0]
        assert abs(got[k][1] - want[k][1]) < 1e-6


def test_streaming_drift_matches_batch_psi_accounting(spark):
    """The streamed PSI monitor must account for every 'current' row
    exactly once in the reference-derived buckets, and its ref side
    must equal the batch-computed reference histogram."""
    from data_validator_spark.queries import load
    from data_validator_spark.queries.quality_ops import PSI_BUCKETS, PSI_PIVOT
    from data_validator_spark.queries.streaming_queries import q_streaming_drift
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    rows = q_streaming_drift(spark, sf).collect()
    assert len(rows) == PSI_BUCKETS
    li = load(spark, sf, "lineitem")
    n_ref = li.where(F.col("l_shipdate") < F.lit(PSI_PIVOT)).count()
    n_cur = li.where(F.col("l_shipdate") >= F.lit(PSI_PIVOT)).count()
    assert sum(r["ref_cnt"] for r in rows) == n_ref
    assert sum(r["cur_cnt"] for r in rows) == n_cur
    # smoothed shares each sum to 1; PSI terms are non-negative
    assert abs(sum(r["ref_share"] for r in rows) - 1.0) < 1e-4
    assert abs(sum(r["cur_share"] for r in rows) - 1.0) < 1e-4
    assert all(r["psi_term"] >= -1e-6 for r in rows)


def test_streaming_seasonality_matches_batch_twin(spark):
    """The live-stream hour-of-week census must equal the batch
    event_seasonality entry row for row (same dow/hour bridge, same
    dsum terms, same micro-unit shares)."""
    from data_validator_spark.queries.mining_ops import q_event_seasonality
    from data_validator_spark.queries.streaming_queries import q_streaming_seasonality

    sf = "/root/testdata/sf0.001"
    batch = q_event_seasonality(spark, sf).collect()
    stream = q_streaming_seasonality(spark, sf).collect()
    assert [tuple(r) for r in stream] == [tuple(r) for r in batch]


def test_streaming_sessionized_leaves_no_sink_table(spark):
    """A bounded streaming run releases its memory sink: two runs add
    no dv_-prefixed table to the catalog."""
    from data_validator_spark.queries.streaming_queries import q_streaming_sessionized

    def dv_tables():
        return {t.name for t in spark.catalog.listTables() if t.name.startswith("dv_")}

    sf = "/root/testdata/sf0.001"
    before = dv_tables()
    for _ in range(2):
        q_streaming_sessionized(spark, sf).collect()
    assert dv_tables() - before == set()


def test_streaming_oracles_are_their_batch_twins():
    """Each streaming twin checks against its batch twin's oracle, or
    composes its oracle from the batch oracle's fragments."""
    from data_validator_spark.queries import analytics, dedup, mining_ops, quality_ops
    from data_validator_spark.queries.streaming_queries import ORACLES

    assert ORACLES["streaming_windowed"] is analytics.SQL_EVENTS_WINDOWED
    assert ORACLES["streaming_seasonality"] is mining_ops.SQL_EVENT_SEASONALITY
    pairs = [
        ("streaming_sessionized", analytics.SQL_EVENTS_SESSIONIZED, analytics.SQL_SESSION_SEQ_CTES),
        ("streaming_drift", quality_ops.SQL_DRIFT_PSI, quality_ops.SQL_PSI_TERMS),
        ("streaming_drift", quality_ops.SQL_DRIFT_PSI, quality_ops.SQL_DRIFT_PSI_BASE),
        (
            "streaming_incremental_dedup",
            dedup._sql_dedup_incremental(),
            dedup.SQL_INCREMENTAL_SPLIT,
        ),
    ]
    for name, batch_sql, fragment in pairs:
        assert fragment in batch_sql and fragment in ORACLES[name], name
