"""Scale shapes of the profiling queries: profile_table's exact census
stays Expand-free, and ccnet_buckets leaves the rank-exact ntile for
the score-histogram tertiles above its corpus-size gate
(`quality_ops.CCNET_EXACT_MAX_DOCS`). The tests lower the gate with
monkeypatch to put the test corpus on the histogram arm."""

from __future__ import annotations

from data_validator_spark.queries.validator_queries import q_profile_table

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_profile_exact_plan_pair_collapse_no_expand(spark):
    """r8: the exact census fans out to (column, value) pairs and
    aggregates twice instead of the countDistinct Expand rewrite —
    the plan must show the in-row Generate and NO Expand."""
    plan = _plan(q_profile_table(spark, SF))
    assert "Expand" not in plan
    assert "Generate explode" in plan


def test_ccnet_size_gate_defaults_to_histogram_above_threshold(spark, monkeypatch):
    """r9: a corpus above the size gate must take the histogram
    tertile path (no corpus-scale single-partition ntile window at
    100 TB); below the gate the exact ntile spelling stays."""
    from data_validator_spark.queries import quality_ops

    # default gate (1M docs) -> exact ntile at every test SF
    exact = quality_ops.q_ccnet_buckets(spark, SF)
    assert "ntile" in _plan(exact)
    ex = {r["bucket"]: r for r in exact.collect()}
    # gate below the test corpus size -> histogram path
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


def test_ccnet_buckets_approx_plan_and_values(spark, monkeypatch):
    """r7: above the size gate the tertile boundaries come from the
    score histogram (quantile_shard method) — ntile must leave the
    physical plan (no corpus-scale single-partition window), while
    bucket composition stays close to the rank-exact ntile below the
    gate."""
    from data_validator_spark.queries import quality_ops

    plan_exact = _plan(quality_ops.q_ccnet_buckets(spark, SF))
    assert "ntile" in plan_exact
    ex = {r["bucket"]: r for r in quality_ops.q_ccnet_buckets(spark, SF).collect()}
    monkeypatch.setattr(quality_ops, "CCNET_EXACT_MAX_DOCS", 10)
    plan = _plan(quality_ops.q_ccnet_buckets(spark, SF))
    assert "ntile" not in plan
    ap = {r["bucket"]: r for r in quality_ops.q_ccnet_buckets(spark, SF).collect()}
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
