"""Semantic tests for rfm_segments (quintile scoring via the bounded
exact-quantile engine) and event_seasonality (hour-of-week census) —
crafted inputs through the real query functions, brute-force-verified
in pure Python."""

from __future__ import annotations

import datetime
import math

import pytest

SF = "/root/testdata/sf0.001"


# -- rfm_segments ------------------------------------------------------------
@pytest.fixture(scope="module")
def rfm_dir(spark, tmp_path_factory):
    # 6 customers with distinct recency/frequency/monetary profiles;
    # prices chosen to exercise the floor(x*100+0.5) cents rule.
    base = datetime.datetime(2020, 1, 1)
    rows = []
    ok = 0
    profiles = [
        (1, [0, 10], [100.005, 250.0]),          # recent, 2 orders
        (2, [400], [10.0]),                      # stale, 1 order
        (3, [5, 6, 7, 8], [50.0, 50.0, 50.0, 50.0]),
        (4, [100], [99999.99]),                  # one whale order
        (5, [200, 300], [1.01, 2.02]),
        (6, [0], [0.004]),                       # rounds to 0 cents
    ]
    for cust, day_offsets, prices in profiles:
        for off, price in zip(day_offsets, prices):
            rows.append(
                (
                    ok,
                    cust,
                    "O",
                    price,
                    base + datetime.timedelta(days=off),
                    "1-URGENT",
                )
            )
            ok += 1
    d = tmp_path_factory.mktemp("rfmorders")
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).coalesce(1).write.parquet(str(d / "orders.parquet"))
    return str(d), rows


def _quantile_cont(sorted_vals, q):
    n = len(sorted_vals)
    pos = (n - 1) * q
    lo, hi = int(math.floor(pos)), int(math.ceil(pos))
    frac = pos - lo
    return sorted_vals[lo] * (1 - frac) + sorted_vals[hi] * frac


def _rfm_py(rows):
    from collections import defaultdict

    per = defaultdict(lambda: [None, 0, 0])  # last_date, freq, cents
    for _, cust, _, price, dt, _ in rows:
        d = dt.date()
        rec = per[cust]
        rec[0] = d if rec[0] is None or d > rec[0] else rec[0]
        rec[1] += 1
        rec[2] += int(math.floor(price * 100 + 0.5))
    gmax = max(v[0] for v in per.values())
    met = {
        c: ((gmax - v[0]).days, v[1], v[2]) for c, v in per.items()
    }
    qs = [0.2, 0.4, 0.6, 0.8]
    bounds = [
        [_quantile_cont(sorted(m[i] for m in met.values()), q) for q in qs]
        for i in range(3)
    ]

    def band(v, bs):
        return 1 + sum(v > b for b in bs)

    seg = {}
    for c, (r, f, m) in met.items():
        key = (6 - band(r, bounds[0]), band(f, bounds[1]), band(m, bounds[2]))
        s = seg.setdefault(key, [0, 0, 0, 0])
        s[0] += 1
        s[1] += r
        s[2] += f
        s[3] += m
    return {
        k[0] * 100 + k[1] * 10 + k[2]: (k[0], k[1], k[2], *v)
        for k, v in seg.items()
    }


def test_rfm_segments_matches_brute_force(spark, rfm_dir):
    from data_validator_spark.queries.warehouse_ops import q_rfm_segments

    d, rows = rfm_dir
    got = {
        r["segment"]: (
            r["r_score"], r["f_score"], r["m_score"], r["n_customers"],
            r["recency_days_sum"], r["frequency_sum"], r["monetary_cents_sum"],
        )
        for r in q_rfm_segments(spark, d).collect()
    }
    assert got == _rfm_py(rows)


def test_rfm_segments_invariants_on_corpus(spark):
    from data_validator_spark.queries import load
    from data_validator_spark.queries.warehouse_ops import q_rfm_segments

    rows = q_rfm_segments(spark, SF).collect()
    n_cust = load(spark, SF, "orders").select("o_custkey").distinct().count()
    assert sum(r["n_customers"] for r in rows) == n_cust
    for r in rows:
        assert 1 <= r["r_score"] <= 5
        assert 1 <= r["f_score"] <= 5
        assert 1 <= r["m_score"] <= 5
        assert r["segment"] == r["r_score"] * 100 + r["f_score"] * 10 + r["m_score"]
        assert r["n_customers"] > 0
    # quintile balance: each score band of each dimension holds ≤ ~40%
    # of customers on continuous-ish metrics (monetary is cents-distinct)
    by_m = {}
    for r in rows:
        by_m[r["m_score"]] = by_m.get(r["m_score"], 0) + r["n_customers"]
    assert max(by_m.values()) <= 0.4 * n_cust


def test_rfm_plan_has_no_global_window(spark):
    """The scoring plan must NOT contain a Window (the ntile shape) —
    boundaries are pre-resolved literals from the bounded engine."""
    from data_validator_spark.queries.warehouse_ops import q_rfm_segments

    plan = q_rfm_segments(spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "ntile" not in plan.lower()


# -- event_seasonality -------------------------------------------------------
@pytest.fixture(scope="module")
def seas_dir(spark, tmp_path_factory):
    base = datetime.datetime(2021, 3, 1, 0, 0, 0)  # a Monday
    rows = []
    eid = 0
    for day in range(3):
        for hour in (0, 9, 23):
            for k in range(day + 1):
                rows.append(
                    (
                        eid,
                        base + datetime.timedelta(days=day, hours=hour, minutes=k),
                        100 + k,
                        "click",
                        1.25 * (k + 1),
                        "{}",
                    )
                )
                eid += 1
    d = tmp_path_factory.mktemp("seasevents")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.parquet(str(d / "events.parquet"))
    return str(d), rows


def test_event_seasonality_matches_brute_force(spark, seas_dir):
    from collections import defaultdict

    from data_validator_spark.queries.mining_ops import q_event_seasonality

    d, rows = seas_dir
    cells = defaultdict(lambda: [0, 0.0])
    for _, ts, _, _, value, _ in rows:
        # python weekday(): Mon=0..Sun=6; DuckDB dow: Sun=0..Sat=6
        dow = (ts.weekday() + 1) % 7
        c = cells[(dow, ts.hour)]
        c[0] += 1
        c[1] += value
    total = sum(c[0] for c in cells.values())
    got = q_event_seasonality(spark, d).collect()
    assert len(got) == len(cells)
    for r in got:
        n, vsum = cells[(r["dow"], r["hour"])]
        assert r["n_events"] == n
        assert abs(r["value_sum"] - vsum) < 1e-6
        assert r["share_micro"] == (n * 1_000_000) // total


def test_event_seasonality_totals_on_corpus(spark):
    from data_validator_spark.queries import load
    from data_validator_spark.queries.mining_ops import q_event_seasonality

    rows = q_event_seasonality(spark, SF).collect()
    n = load(spark, SF, "events").count()
    assert sum(r["n_events"] for r in rows) == n
    assert all(0 <= r["dow"] <= 6 and 0 <= r["hour"] <= 23 for r in rows)
    assert len(rows) <= 168


def test_rfm_cache_registered_and_evictable(spark):
    """The session-persisted per-customer relation must be registered
    with the package cache registry (releasable via
    evict_session_caches) and re-materialize on demand."""
    from data_validator_spark.queries import evict_session_caches
    from data_validator_spark.queries.warehouse_ops import _RFM_CACHE, _rfm_relation

    _rfm_relation(spark, SF).count()
    assert _RFM_CACHE
    evict_session_caches(SF)
    assert _RFM_CACHE.get(spark, SF) is None
    assert _rfm_relation(spark, SF).count() > 0
    evict_session_caches(SF)


# -- orders_cohort_retention ---------------------------------------------------
def test_orders_cohort_retention_matches_brute_force(spark, tmp_path):
    from collections import defaultdict

    from data_validator_spark.queries.warehouse_ops import q_orders_cohort_retention

    base = datetime.datetime(2019, 11, 15)
    # (cust, month_offset, price): cust 1 acquired 2019-11, active +0,+1,+3
    # (twice in +3); cust 2 acquired 2020-01, active +0 only.
    orders = [
        (1, 0, 10.0), (1, 1, 20.0), (1, 4, 5.0), (1, 4, 7.505),
        (2, 2, 100.0),
    ]
    rows = []
    for i, (cust, moff, price) in enumerate(orders):
        y, m = divmod((base.year * 12 + base.month - 1) + moff, 12)
        rows.append((i, cust, "O", price, datetime.datetime(y, m + 1, 3), "x"))
    d = tmp_path / "co"
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).coalesce(1).write.parquet(str(d / "orders.parquet"))

    firsts, cells = {}, defaultdict(lambda: [set(), 0, 0])
    for i, (cust, moff, price) in enumerate(orders):
        m = (base.year * 12 + base.month - 1) + moff
        firsts[cust] = min(firsts.get(cust, m), m)
    for i, (cust, moff, price) in enumerate(orders):
        m = (base.year * 12 + base.month - 1) + moff
        m0 = firsts[cust]
        c = cells[(m0, m - m0)]
        c[0].add(cust)
        c[1] += 1
        c[2] += int(math.floor(price * 100 + 0.5))
    expect = {
        (f"{m0 // 12}-{m0 % 12 + 1:02d}", k): (len(s), n, cents)
        for (m0, k), (s, n, cents) in cells.items()
    }
    got = {
        (r["cohort_month"], r["months_since"]): (
            r["n_active"], r["n_orders"], r["revenue_cents"],
        )
        for r in q_orders_cohort_retention(spark, str(d)).collect()
    }
    assert got == expect
    # the 7.505 price exercises the half-up cents rule (751), paired
    # with the 5.0 order in the same (cohort, months_since=4) cell
    assert got[("2019-11", 4)] == (1, 2, 500 + 751)


def test_orders_cohort_retention_invariants_on_corpus(spark):
    from data_validator_spark.queries import load
    from data_validator_spark.queries.warehouse_ops import q_orders_cohort_retention

    rows = q_orders_cohort_retention(spark, SF).collect()
    n_orders = load(spark, SF, "orders").count()
    n_cust = load(spark, SF, "orders").select("o_custkey").distinct().count()
    assert sum(r["n_orders"] for r in rows) == n_orders
    # month-0 actives across cohorts = every customer exactly once
    assert sum(r["n_active"] for r in rows if r["months_since"] == 0) == n_cust
    for r in rows:
        assert r["months_since"] >= 0
        assert 0 < r["n_active"] <= r["n_orders"]
