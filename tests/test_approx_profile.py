"""Scale path for the profiling queries (VERDICT r2 item 5): with
spark.data_validator.approx_profile=true, col_quantiles uses
percentile_approx and profile_table uses approx_count_distinct —
bounded-memory sketches whose plans drop the exact modes' sort
buffers / Expand. Exact remains the default (oracle-checkable)."""

from __future__ import annotations

import pytest

from data_validator_spark.queries.validator_queries import (
    APPROX_PROFILE_CONF,
    q_col_quantiles,
    q_profile_table,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture
def approx(spark):
    spark.conf.set(APPROX_PROFILE_CONF, "true")
    yield spark
    spark.conf.unset(APPROX_PROFILE_CONF)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_quantiles_approx_close_to_exact(approx):
    spark = approx
    ap = {r["column_name"]: r for r in q_col_quantiles(spark, SF).collect()}
    spark.conf.unset(APPROX_PROFILE_CONF)
    ex = {r["column_name"]: r for r in q_col_quantiles(spark, SF).collect()}
    assert set(ap) == set(ex)
    for c in ex:
        for q in ("p25", "p50", "p75", "p95"):
            lo, hi = sorted((ex[c]["p25"], ex[c]["p95"]))
            spread = max(hi - lo, 1e-9)
            assert abs(ap[c][q] - ex[c][q]) <= 0.25 * spread, (c, q)


def test_quantiles_schemas_identical_between_modes(approx):
    spark = approx
    s_ap = q_col_quantiles(spark, SF).schema
    spark.conf.unset(APPROX_PROFILE_CONF)
    assert q_col_quantiles(spark, SF).schema == s_ap


def test_profile_approx_plan_has_no_expand(approx):
    plan = _plan(q_profile_table(approx, SF))
    assert "Expand" not in plan
    assert "approx_count_distinct" in plan


def test_profile_exact_plan_pair_collapse_no_expand(spark):
    """r8: the exact census fans out to (column, value) pairs and
    aggregates twice instead of the countDistinct Expand rewrite —
    the plan must show the in-row Generate and NO Expand."""
    spark.conf.unset(APPROX_PROFILE_CONF)
    plan = _plan(q_profile_table(spark, SF))
    assert "Expand" not in plan
    assert "Generate explode" in plan


def test_mad_outliers_approx_plan_and_values(approx):
    """r6: mad_outliers routes BOTH chained percentile passes through
    the flag — the sketch must reach the physical plan, and the approx
    median/MAD must sit near the exact ones."""
    from data_validator_spark.queries.quality_ops import q_mad_outliers

    spark = approx
    plan = _plan(q_mad_outliers(spark, SF))
    assert "percentile_approx" in plan
    ap = q_mad_outliers(spark, SF).collect()[0]
    spark.conf.unset(APPROX_PROFILE_CONF)
    plan_exact = _plan(q_mad_outliers(spark, SF))
    assert "percentile_approx" not in plan_exact
    ex = q_mad_outliers(spark, SF).collect()[0]
    assert ap.__fields__ == ex.__fields__
    assert ap["n_rows"] == ex["n_rows"]
    for c in ("median", "mad"):
        assert abs(ap[c] - ex[c]) <= 0.05 * max(abs(ex[c]), 1.0), (c, ap[c], ex[c])


def test_conversion_lag_approx_plan_and_values(approx):
    from data_validator_spark.queries.analytics import q_conversion_lag

    spark = approx
    plan = _plan(q_conversion_lag(spark, SF))
    assert "percentile_approx" in plan
    ap = q_conversion_lag(spark, SF).collect()[0]
    spark.conf.unset(APPROX_PROFILE_CONF)
    assert "percentile_approx" not in _plan(q_conversion_lag(spark, SF))
    ex = q_conversion_lag(spark, SF).collect()[0]
    assert ap.__fields__ == ex.__fields__
    assert ap["n_signup_users"] == ex["n_signup_users"]
    assert ap["n_converted"] == ex["n_converted"]
    assert ap["conversion_pct"] == ex["conversion_pct"]
    for c in ("p50_lag_s", "p90_lag_s"):
        assert abs(ap[c] - ex[c]) <= 0.10 * max(abs(ex[c]), 1.0), (c, ap[c], ex[c])


def test_profile_approx_counts_within_tolerance(approx):
    spark = approx
    ap = {r["column_name"]: r for r in q_profile_table(spark, SF).collect()}
    spark.conf.unset(APPROX_PROFILE_CONF)
    ex = {r["column_name"]: r for r in q_profile_table(spark, SF).collect()}
    for c in ex:
        assert ap[c]["n_rows"] == ex[c]["n_rows"]
        assert ap[c]["n_nulls"] == ex[c]["n_nulls"]
        assert ap[c]["min_val"] == ex[c]["min_val"]
        assert ap[c]["max_val"] == ex[c]["max_val"]
        rel = abs(ap[c]["n_distinct"] - ex[c]["n_distinct"]) / max(ex[c]["n_distinct"], 1)
        assert rel <= 0.05, (c, ap[c]["n_distinct"], ex[c]["n_distinct"])


def test_ccnet_size_gate_defaults_to_histogram_above_threshold(spark, monkeypatch):
    """r9: WITHOUT the approx flag, a corpus above the size gate must
    take the histogram tertile path by default (no corpus-scale
    single-partition ntile window at 100 TB); below the gate the
    exact ntile spelling stays the oracle default."""
    from data_validator_spark.queries import quality_ops

    spark.conf.unset(APPROX_PROFILE_CONF)
    # default gate (1M docs) -> exact ntile at every test SF
    exact = quality_ops.q_ccnet_buckets(spark, SF)
    assert "ntile" in _plan(exact)
    ex = {r["bucket"]: r for r in exact.collect()}
    # gate below the test corpus size -> histogram path without the flag
    monkeypatch.setattr(quality_ops, "CCNET_EXACT_MAX_DOCS", 10)
    gated = quality_ops.q_ccnet_buckets(spark, SF)
    assert "ntile" not in _plan(gated)
    ap = {r["bucket"]: r for r in gated.collect()}
    assert set(ap) == set(ex) == {"head", "middle", "tail"}
    assert sum(r["n_docs"] for r in ap.values()) == sum(
        r["n_docs"] for r in ex.values()
    )


def test_ccnet_histogram_arm_matches_gated_oracle(spark, monkeypatch):
    """r10 (ADVICE r9): the oracle SQL now mirrors the size gate — a
    corpus above CCNET_EXACT_MAX_DOCS must take the histogram-tertile
    arm on BOTH engines. Force the gate below the test corpus on both
    sides and assert exact row equality (the driver-hash contract)."""
    import duckdb

    from data_validator_spark.queries import quality_ops

    spark.conf.unset(APPROX_PROFILE_CONF)
    default = quality_ops.CCNET_EXACT_MAX_DOCS
    # the default-gate SQL keeps the exact arm live below the gate
    default_sql = quality_ops._sql_ccnet()
    assert f"<= {default}" in default_sql and f"> {default}" in default_sql
    monkeypatch.setattr(quality_ops, "CCNET_EXACT_MAX_DOCS", 10)
    sql = quality_ops._sql_ccnet()
    got = [tuple(r) for r in quality_ops.q_ccnet_buckets(spark, SF).collect()]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * "
        f"FROM read_parquet('{SF}/documents.parquet')"
    )
    want = [tuple(r) for r in con.execute(sql).fetchall()]
    con.close()
    assert got == want


def test_ccnet_buckets_approx_plan_and_values(approx):
    """r7: under the flag the tertile boundaries come from the score
    histogram (quantile_shard method) — ntile must leave the physical
    plan (no corpus-scale single-partition window), while bucket
    composition stays close to the rank-exact default."""
    from data_validator_spark.queries.quality_ops import q_ccnet_buckets

    spark = approx
    plan = _plan(q_ccnet_buckets(spark, SF))
    assert "ntile" not in plan
    ap = {r["bucket"]: r for r in q_ccnet_buckets(spark, SF).collect()}
    spark.conf.unset(APPROX_PROFILE_CONF)
    plan_exact = _plan(q_ccnet_buckets(spark, SF))
    assert "ntile" in plan_exact
    ex = {r["bucket"]: r for r in q_ccnet_buckets(spark, SF).collect()}
    assert set(ap) == set(ex) == {"head", "middle", "tail"}
    assert sum(r["n_docs"] for r in ap.values()) == sum(
        r["n_docs"] for r in ex.values()
    )
    for b in ex:
        # a 1e-4 score bin straddling a boundary moves at most that
        # bin's docs between adjacent buckets
        assert abs(ap[b]["n_docs"] - ex[b]["n_docs"]) <= max(
            5, 0.05 * ex[b]["n_docs"]
        ), (b, ap[b]["n_docs"], ex[b]["n_docs"])
        assert abs(ap[b]["mean_logp"] - ex[b]["mean_logp"]) <= 0.05 * max(
            abs(ex[b]["mean_logp"]), 1.0
        )
        assert ap[b].__fields__ == ex[b].__fields__
