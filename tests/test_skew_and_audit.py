"""Salted (skew-resistant) aggregations + plan audit helpers."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_validator_spark.operators.skew import salted_count_by_key
from data_validator_spark.plans import audit as pa


@pytest.fixture(scope="module")
def skewed(spark):
    # key 0 holds 90% of rows; keys 1..10 tiny
    rows = [(0, i) for i in range(900)] + [(k, i) for k in range(1, 11) for i in range(10)]
    return spark.createDataFrame(rows, "k int, v int")


def test_salted_count_matches_direct_groupby(spark, skewed):
    direct = {r["k"]: r["count"] for r in skewed.groupBy("k").count().collect()}
    salted = {r["k"]: r["count"] for r in salted_count_by_key(skewed, ["k"]).collect()}
    assert salted == direct


def test_salted_count_is_two_stage(spark, skewed):
    df = salted_count_by_key(skewed, ["k"])
    # two shuffles: (k, salt) partial agg, then k merge
    assert pa.exchange_count(df) >= 2


def test_audit_reports_plan_shape(spark, skewed):
    a = pa.audit(skewed.groupBy("k").count())
    assert a["exchanges"] >= 1 and a["cartesian"] is False


def test_execute_to_final_plan_is_actually_final(spark, skewed):
    """ADVICE r11: a noop-sink write plans under a NEW QueryExecution,
    so the audited plan stayed isFinalPlan=false — the helper must
    drive the df's OWN QueryExecution and return the finalized AQE
    plan, trimmed to the final-plan section."""
    df = skewed.groupBy("k").count()
    # the un-executed plan is NOT final under AQE
    assert "isFinalPlan=false" in pa.plan_string(df)
    plan = pa.execute_to_final_plan(df)
    assert "isFinalPlan=true" in plan
    assert "== Initial Plan ==" not in plan
    # and the noop-write variant really does leave it unfinalized
    df2 = skewed.groupBy("k").count()
    df2.write.format("noop").mode("overwrite").save()
    assert "isFinalPlan=false" in pa.plan_string(df2)


# -- hot-user skew, end to end (r14 verdict stretch item 6) ------------------
def _skewed_events(spark, tmp_path, hot_n=20_000, cold_users=200, cold_n=20):
    """events.parquet with one bot-grade user (hot_n events) against a
    long tail — the profile that melts per-user windows at 100 TB."""
    import pandas as pd

    rows = []
    eid = 0
    base = pd.Timestamp("2024-03-01 00:00:00")
    for u in range(1, cold_users + 1):
        for i in range(cold_n):
            rows.append((eid, base + pd.Timedelta(minutes=45 * i), u,
                         "click" if i % 3 else "purchase", float(i)))
            eid += 1
    for i in range(hot_n):  # user 0: one event/min, sessions break hourly
        gap = 70 if (i % 60 == 59) else 1
        rows.append((eid, base + pd.Timedelta(minutes=i + (i // 60) * gap), 0,
                     "click" if i % 5 else "error", 1.0))
        eid += 1
    pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id", "event_type", "value"])
    pdf["props"] = "{}"
    df = spark.createDataFrame(pdf)
    out = str(tmp_path / "events.parquet")
    df.write.mode("overwrite").parquet(out)
    return pdf


def _drop_events_copy(spark, sf):
    import re
    import shutil

    from data_validator_spark.queries import evict_session_caches

    tag = re.sub(r"[^0-9a-zA-Z]+", "_", str(sf)).strip("_").lower()
    wh = re.sub(r"^file:/*", "/", spark.conf.get("spark.sql.warehouse.dir"))
    t = f"dv_bkt_events_user_id_{tag}"
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
    evict_session_caches(str(sf))


def test_hot_user_skew_cap_and_sessionize_end_to_end(spark, tmp_path, fact_buckets_at_cap):
    """Drive a bot-grade hot user (20k events vs a 20-event long tail)
    through the behavioral family's skew story: the bucketed-copy scan
    REALLY holds a hot partition (recorded), key-skew detection sees
    it, events_user_cap bounds its contribution to USER_CAP, and
    events_sessionized still matches the DuckDB oracle bit-for-bit on
    the same skewed files (windows need whole per-user partitions, so
    the cap — not AQE splitting — is the mitigation; key_skew_audit's
    ratio is the signal that says when to apply it). The events copy is
    laid out at the cap (fact_buckets_at_cap): a hot bucket needs other
    buckets to stand out from."""
    import duckdb

    from data_validator_spark.queries import build_registry, load_events_by_user
    from data_validator_spark.queries.mining_ops import USER_CAP

    pdf = _skewed_events(spark, tmp_path)
    sf = str(tmp_path)
    q, oracles = build_registry()
    try:
        # 1. the skew is real at the physical layer: partition row
        #    counts of the bucketed scan are dominated by one bucket
        sizes = sorted(
            load_events_by_user(spark, sf)
            .rdd.mapPartitions(lambda it: [sum(1 for _ in it)])
            .collect()
        )
        assert sizes[-1] >= 20_000  # the hot user's bucket
        assert sizes[-1] >= 10 * (sizes[len(sizes) // 2] or 1)  # vs median
        # 2. detection: the per-key census flags user 0 at 20000/20
        counts = {r.user_id: r.n for r in (
            load_events_by_user(spark, sf).groupBy("user_id").count()
            .select("user_id", F.col("count").alias("n")).collect()
        )}
        assert counts[0] == 20_000 and max(v for k, v in counts.items() if k) == 20
        # 3. mitigation: the cap bounds every user's contribution
        cap = {r.event_type: r for r in q["events_user_cap"](spark, sf).collect()}
        total_kept = sum(r.n_kept for r in cap.values())
        expected_kept = sum(
            min(n, USER_CAP) for n in pdf.groupby("user_id").size()
        )
        assert total_kept == expected_kept
        assert sum(r.n_dropped for r in cap.values()) == 20_000 - USER_CAP
        # 4. correctness under skew: sessionized output == DuckDB oracle
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM '{sf}/events.parquet/*.parquet'"
        )
        want = con.sql(oracles["events_sessionized"]).df()
        got = (
            q["events_sessionized"](spark, sf)
            .orderBy("user_id", "session_seq")
            .toPandas()
        )
        want = want.sort_values(["user_id", "session_seq"]).reset_index(drop=True)
        got = got.sort_values(["user_id", "session_seq"]).reset_index(drop=True)
        assert len(got) == len(want)
        assert (got["n_events"].values == want["n_events"].values).all()
        assert (got["session_start"].values == want["session_start"].values).all()
        assert abs(got["session_value"].values - want["session_value"].values).max() < 1e-9
    finally:
        _drop_events_copy(spark, sf)
