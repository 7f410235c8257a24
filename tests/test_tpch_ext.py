"""Semantic asserts for the derived TPC-H relations (tpch_ext): the
queries themselves are oracle-checked against DuckDB; these tests pin
the derivation invariants the oracle comparison alone wouldn't explain
if they broke."""

from __future__ import annotations

from pyspark.sql import functions as F

import data_validator_spark.queries.tpch_ext as tx

SF = "/root/testdata/sf0.001"


def test_partsupp_keys_unique_and_in_range(spark):
    ps = tx.partsupp_df(spark, SF)
    n_supp = spark.read.parquet(f"{SF}/supplier.parquet").count()
    n_part = spark.read.parquet(f"{SF}/part.parquet").count()
    row = ps.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("ps_partkey", "ps_suppkey").alias("nd"),
        F.min("ps_suppkey").alias("lo"),
        F.max("ps_suppkey").alias("hi"),
        F.min("ps_availqty").alias("qlo"),
        F.max("ps_availqty").alias("qhi"),
        F.min("ps_supplycost").alias("clo"),
        F.max("ps_supplycost").alias("chi"),
    ).first()
    assert row["n"] == 4 * n_part
    assert row["nd"] == row["n"]  # (partkey, suppkey) unique by construction
    assert 1 <= row["lo"] and row["hi"] <= n_supp
    assert 1 <= row["qlo"] and row["qhi"] <= 9999
    assert 1.0 <= row["clo"] and row["chi"] <= 1000.0


def test_lineitem_ext_derived_columns(spark):
    li = tx._lineitem_ext_build(spark, SF)
    ship = F.to_date("l_shipdate")
    row = li.agg(
        F.sum(F.when(F.col("l_shipmode").isin(*tx.MODES), 0).otherwise(1)).alias("bad_mode"),
        F.sum(F.when(F.col("l_shipinstruct").isin(*tx.INSTRUCTS), 0).otherwise(1)).alias("bad_instr"),
        F.min(F.datediff("l_commitdate", ship)).alias("cd_lo"),
        F.max(F.datediff("l_commitdate", ship)).alias("cd_hi"),
        F.min(F.datediff("l_receiptdate", ship)).alias("rd_lo"),
        F.max(F.datediff("l_receiptdate", ship)).alias("rd_hi"),
    ).first()
    assert row["bad_mode"] == 0 and row["bad_instr"] == 0
    assert -30 <= row["cd_lo"] and row["cd_hi"] <= 30
    assert 1 <= row["rd_lo"] and row["rd_hi"] <= 30


def test_derivation_is_stable_across_partitionings(spark):
    """The derived columns must be pure functions of the row (no
    nondeterminism): recomputing under a different partitioning yields
    the identical relation."""
    a = tx._lineitem_ext_build(spark, SF).select(
        "l_orderkey", "l_linenumber", "l_shipmode", "l_commitdate"
    )
    b = (
        tx._lineitem_ext_build(spark, SF)
        .repartition(7)
        .select("l_orderkey", "l_linenumber", "l_shipmode", "l_commitdate")
    )
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_q12_pushes_real_column_filters_to_bucketed_scan(spark):
    """r13 q12 reads the at-rest bucketed lineitem_ext copy, whose
    shipmode/receiptdate predicates hit REAL parquet columns — the
    dv_bkt_lineitem_ext scan must carry pushed filters on l_shipmode
    and l_receiptdate (the r11 shape evaluated them above an md5
    div-chain with nothing pushable). Replaces the stale
    shipdate-bound test (ADVICE r13): q12 no longer uses _cached or an
    explicit shipdate rewrite."""
    plan = tx.q12_shipmode_priority(spark, SF)._jdf.queryExecution().executedPlan().toString()
    scans = [s for s in plan.split("FileScan parquet") if "dv_bkt_lineitem_ext_" in s[:200]]
    assert scans, f"q12 does not scan the bucketed ext copy:\n{plan}"
    pushed = scans[0].split("PushedFilters: [", 1)
    assert len(pushed) == 2, f"no PushedFilters on the bucketed ext scan:\n{scans[0][:800]}"
    head = pushed[1][:400]
    assert "l_shipmode" in head and "l_receiptdate" in head


def test_derived_ext_consumers_read_at_rest_copies(spark):
    """Every lineitem_ext consumer now reads an at-rest bucketed copy
    instead of the session-persisted derivation (q12/q21 moved in
    r13 — orderkey layout; q19 in r15 — partkey layout, plus a
    part_ext copy). q19 session-persists the COPY scans (colocated
    AND warm — the InMemoryRelation keeps the bucketed scan's
    partitioning), so its plan shows the copy scan UNDER an
    InMemoryTableScan; q12 reads its copy directly."""
    q19_plan = tx.q19_discounted_revenue(spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert "dv_bkt_lineitem_ext_l_partkey_" in q19_plan
    assert "dv_bkt_part_ext_p_partkey_" in q19_plan
    q12_plan = (
        tx.q12_shipmode_priority(spark, SF)._jdf.queryExecution().executedPlan().toString()
    )
    assert "dv_bkt_lineitem_ext_" in q12_plan
    assert "InMemoryTableScan" not in q12_plan


def test_q21_scans_lineitem_exactly_once(spark):
    """The r13 q21 rewrite's scale property: the per-order census
    (min/max/count over late suppkeys) answers BOTH exists arms and
    names the waiting supplier, so lineitem_ext must appear as exactly
    ONE scan in the physical plan (the r11 shape re-read it for the
    late rows) — at 100 TB a second fact scan is the single largest
    avoidable cost in this query."""
    import re

    plan = (
        tx.q21_waiting_orders(spark, SF)._jdf.queryExecution().executedPlan().toString()
    )
    assert len(re.findall(r"Scan parquet \S*dv_bkt_lineitem_ext_", plan)) == 1
    assert len(re.findall(r"Scan parquet \S*dv_bkt_orders_", plan)) == 1


def test_q21_census_matches_exists_spelling_on_random_data(spark, tmp_path):
    """Spec test for the r13 single-scan census rewrite: on seeded
    random data (multi-supplier orders, repeated late lines by the
    same supplier — the cases where a census shortcut could silently
    diverge), q21's output must equal a pandas brute force of the
    LITERAL TPC-H Q21 spelling (per late line: EXISTS another
    supplier on the order AND NOT EXISTS another LATE supplier),
    evaluated over the SAME derived commit/receipt dates."""
    import re
    import shutil

    import numpy as np
    import pandas as pd

    rng = np.random.RandomState(421)
    n_orders, n_supp, n_lines = 120, 12, 600
    ok = rng.randint(1, n_orders + 1, n_lines)
    ln = np.zeros(n_lines, dtype=int)
    # unique (orderkey, linenumber): number lines within each order
    for o in np.unique(ok):
        idx = np.where(ok == o)[0]
        ln[idx] = np.arange(1, len(idx) + 1)
    li_pd = pd.DataFrame(
        {
            "l_orderkey": ok.astype("int64"),
            "l_linenumber": ln.astype("int64"),
            "l_suppkey": rng.randint(1, n_supp + 1, n_lines).astype("int64"),
            "l_quantity": rng.randint(1, 50, n_lines).astype("float64"),
            "l_shipdate": pd.to_datetime("1997-03-01")
            + pd.to_timedelta(rng.randint(0, 300, n_lines), unit="D"),
        }
    )
    orders_pd = pd.DataFrame(
        {
            "o_orderkey": np.arange(1, n_orders + 1, dtype="int64"),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_orders, p=[0.6, 0.3, 0.1]),
        }
    )
    # nationkeys 0..7 so Q21_NATION (NATION_5) exists and holds
    # several suppliers
    supp_pd = pd.DataFrame(
        {
            "s_suppkey": np.arange(1, n_supp + 1, dtype="int64"),
            "s_name": [f"Supplier#{i:03d}" for i in range(1, n_supp + 1)],
            "s_nationkey": (np.arange(n_supp, dtype="int64") % 3) + 4,
        }
    )
    nation_pd = pd.DataFrame(
        {
            "n_nationkey": np.arange(8, dtype="int64"),
            "n_name": [f"NATION_{i}" for i in range(8)],
        }
    )
    for name, pdf in (
        ("lineitem", li_pd),
        ("orders", orders_pd),
        ("supplier", supp_pd),
        ("nation", nation_pd),
    ):
        spark.createDataFrame(pdf).coalesce(1).write.parquet(
            str(tmp_path / f"{name}.parquet")
        )
    sf = str(tmp_path)
    try:
        got = {
            r["s_name"]: r["numwait"]
            for r in tx.q21_waiting_orders(spark, sf).collect()
        }
        # brute force over the SAME derived dates
        ext = tx._lineitem_ext_build(spark, sf).select(
            "l_orderkey", "l_suppkey", "l_commitdate", "l_receiptdate"
        ).toPandas()
        ext["late"] = ext["l_receiptdate"] > ext["l_commitdate"]
        fstat = set(orders_pd.loc[orders_pd.o_orderstatus == "F", "o_orderkey"])
        nat5 = set(
            supp_pd.loc[supp_pd.s_nationkey == 5, "s_suppkey"]
        )
        name_of = dict(zip(supp_pd.s_suppkey, supp_pd.s_name))
        expected: dict[str, int] = {}
        by_order = dict(tuple(ext.groupby("l_orderkey")))
        for _, l1 in ext[ext.late].iterrows():
            if l1.l_orderkey not in fstat or l1.l_suppkey not in nat5:
                continue
            g = by_order[l1.l_orderkey]
            if not (g.l_suppkey != l1.l_suppkey).any():
                continue  # no other supplier on the order
            if (g.late & (g.l_suppkey != l1.l_suppkey)).any():
                continue  # another supplier was ALSO late
            nm = name_of[l1.l_suppkey]
            expected[nm] = expected.get(nm, 0) + 1
        assert expected, "seed produced an empty result — pick another seed"
        assert got == expected
    finally:
        tag = re.sub(r"[^0-9a-zA-Z]+", "_", sf).strip("_").lower()
        wh = re.sub(r"^file:/*", "/", spark.conf.get("spark.sql.warehouse.dir"))
        for t in (f"dv_bkt_lineitem_ext_{tag}", f"dv_bkt_orders_o_orderkey_{tag}"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
        from data_validator_spark.queries import evict_session_caches

        evict_session_caches(sf)
