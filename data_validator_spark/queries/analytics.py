"""Analytics queries (SURVEY §2): TPC-H-shaped q1/q3/q5 plus windowed
and sessionized event aggregations.

Scale design:
- q1: single scan of lineitem, group on a 6-value key — map-side
  partials collapse nearly everything before the tiny shuffle.
- q3/q5: dimension tables are broadcast (F.broadcast) so the only
  shuffled relation is lineitem/orders; verify BroadcastHashJoin via
  .explain(). At 100 TB lineitem never re-partitions for the dims.
- events_windowed: 1-hour tumbling window; the same kernel
  (hourly_event_counts) runs the streaming twin streaming_windowed.
- events_sessionized: one shuffle on user_id; lag + running sum inside
  the partition (no second shuffle). Skewed users would be handled by
  AQE skew-join; session logic itself is per-user sequential by nature.

All revenue sums go through DECIMAL(30,6) (see queries/__init__) so
results are bit-stable regardless of partitioning — and therefore
hash-comparable with the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from data_validator_spark.queries import (
    DEC,
    dsum,
    load,
    load_customer_by_key,
    load_events_by_user,
    load_lineitem_by_part,
    load_orders_by_cust,
    load_part_by_key,
    sql_dsum,
)


# -- q1: pricing summary (TPC-H Q1 shape) ----------------------------------
def q1_pricing_summary(spark, sf):
    # r19: the scan rides the at-rest l_orderkey-bucketed lineitem copy
    # (drift_ks's r18 class) — its bucket files (a dataset-sized count,
    # bucketing.dataset_buckets; 32 when this was measured) give the
    # partial-agg stage its parallelism directly, so the spread()
    # round-robin exchange (and its sort-before-repartition, SPARK-23207)
    # is gone along with the 8 MB shuffle of the 6 agg columns. Same rows, one
    # less exchange; A/B at sf0.1: 1.05s → 0.43s best-of-5, identical
    # output. At real scale the raw scan has thousands of splits and
    # spread() was already a no-op — the copy is simply the at-rest
    # layout the rest of the lineitem family reads.
    from data_validator_spark.operators.bucketing import bucketed_fact

    li = bucketed_fact(spark, sf, "lineitem", "l_orderkey").where(
        F.col("l_shipdate") <= F.lit("2000-12-01")
    )
    li = li.select(
        "l_returnflag", "l_linestatus", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax",
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity"), "sum_qty"),
            dsum(F.col("l_extendedprice"), "sum_base_price"),
            dsum(disc_price, "sum_disc_price"),
            dsum(charge, "sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .withColumn("avg_qty", F.round(F.col("sum_qty") / F.col("count_order"), 6))
        .withColumn("avg_price", F.round(F.col("sum_base_price") / F.col("count_order"), 6))
        .orderBy("l_returnflag", "l_linestatus")
    )


SQL_Q1 = f"""
SELECT l_returnflag, l_linestatus,
       {sql_dsum('l_quantity', 'sum_qty')},
       {sql_dsum('l_extendedprice', 'sum_base_price')},
       {sql_dsum('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
       {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 'sum_charge')},
       count(*) AS count_order,
       ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) / count(*), 6) AS avg_qty,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) / count(*), 6) AS avg_price
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# -- q3: shipping priority (3-way join + topN) -----------------------------
def q3_shipping_priority(spark, sf):
    """r11: reads the bucketed fact copies and joins lineitem⨝orders
    FIRST (zero-exchange colocated SMJ; date filters still push into
    the bucketed scans), then customer. The groupBy(l_orderkey, ...)
    inherits the orderkey partitioning. A/B at sf0.1: 1.28s → 0.78s
    best-of-4, identical output (SCALE.md r11). customer keeps NO
    broadcast hint — SF-proportional (the q7 rule, r9): AQE may
    broadcast it at small SF, and at 100 TB the join correctly
    degrades to a key shuffle."""
    from data_validator_spark.operators.bucketing import bucketed_fact

    cust = load(spark, sf, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = bucketed_fact(spark, sf, "orders", "o_orderkey").where(F.col("o_orderdate") < F.lit("1998-01-01"))
    li = bucketed_fact(spark, sf, "lineitem", "l_orderkey").where(F.col("l_shipdate") > F.lit("1998-01-01"))
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    li_o = li.hint("merge").join(orders, li.l_orderkey == orders.o_orderkey)
    joined = li_o.join(cust, F.col("o_custkey") == cust.c_custkey)
    return (
        joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(revenue, "revenue"))
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
            "revenue",
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


SQL_Q3 = f"""
SELECT l_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o_orderpriority,
       {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')}
FROM customer
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


# -- q5: local supplier volume (6-way star join) ---------------------------
def q5_local_supplier(spark, sf):
    """r14: the lineitem⨝orders meet reads the at-rest orderkey-
    bucketed copies (ensure_bucketed_fact — the q3/q4/q7/q8/q9/q12/
    q18/q21 layout) FIRST as a zero-exchange colocated SMJ, with the
    o_orderdate window pushed into the bucketed scan; supplier and
    customer join the date-windowed result afterwards. The r11 shape
    joined li⨝supplier first, which at 100 TB shuffles the FULL
    lineitem on suppkey and then again on orderkey — the
    full-registry at-scale census (SCALE.md r14, auto-broadcast
    disabled) flagged exactly that double fact shuffle."""
    from data_validator_spark.operators.bucketing import bucketed_fact

    region = load(spark, sf, "region").where(F.col("r_name") == "ASIA")
    nation = load(spark, sf, "nation")
    cust = load(spark, sf, "customer")
    supp = load(spark, sf, "supplier")
    orders = bucketed_fact(spark, sf, "orders", "o_orderkey").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01")) & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    li = bucketed_fact(spark, sf, "lineitem", "l_orderkey")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    # nation⨝region is constant-size → broadcast hint. supplier,
    # customer and orders are all SF-PROPORTIONAL, so their joins stay
    # key shuffles with no forced build side (the q7 rule, applied to
    # supplier in r9 — a 10k×SF dim is 1e9 rows at 100 TB); the
    # planner still auto-broadcasts whatever fits at runtime.
    nr = nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    joined = (
        li.hint("merge")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(nr),
            (cust.c_nationkey == F.col("n_nationkey"))
            & (supp.s_nationkey == F.col("n_nationkey")),
        )
    )
    return (
        joined.groupBy("n_name")
        .agg(dsum(revenue, "revenue"))
        .orderBy(F.col("revenue").desc(), "n_name")
    )


SQL_Q5 = f"""
SELECT n_name, {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')}
FROM customer
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey AND c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


# -- q6: forecast revenue change (selective scan-agg) ----------------------
def q6_forecast_revenue(spark, sf):
    """Pure scan + selective filter + single aggregate — the shape that
    proves predicate pushdown: all three predicates reach the parquet
    scan (PushedFilters), no shuffle at all beyond the final 1-row agg."""
    li = load(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        dsum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


SQL_Q6 = f"""
SELECT {sql_dsum('l_extendedprice * l_discount', 'revenue')},
       count(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


# -- q10: returned-item revenue by customer (4-way join + topN) ------------
def q10_returned_items(spark, sf):
    """Fact-side filter first (l_returnflag = 'R'), then join up the
    star: nation broadcast (constant 25 rows), customer joined on the
    shuffled key. Top-20 by revenue with c_custkey tiebreaker.

    r14: the li⨝orders meet reads the at-rest orderkey-bucketed
    copies as a zero-exchange colocated SMJ with the returnflag
    filter pushed into the bucketed scan. r11 declined this at −18%
    under the old ≥20%-only rule; it qualifies under the clarified
    plan-structural arm (SCALE.md r14) — the removed double fact
    shuffle IS the 100 TB query cost, and the copies are free here
    (built for the other eight consumers)."""
    from data_validator_spark.operators.bucketing import bucketed_fact

    li = bucketed_fact(spark, sf, "lineitem", "l_orderkey").where(F.col("l_returnflag") == "R")
    orders = bucketed_fact(spark, sf, "orders", "o_orderkey")
    cust = load(spark, sf, "customer")
    nation = load(spark, sf, "nation")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        li.hint("merge")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    )
    return (
        joined.groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum(revenue, "revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


SQL_Q10 = f"""
SELECT c_custkey, c_name, c_acctbal, n_name,
       {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')}
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


# -- q18: large-volume orders (agg-filtered semi-join) ---------------------
def q18_large_volume(spark, sf):
    """Group lineitem by order, HAVING sum(qty) > 150, then join back to
    orders + customer. The having-aggregate runs BEFORE the joins so
    only qualifying orderkeys (a tiny fraction) flow into them —
    at 100 TB the join input shrinks by ~1000× before any wide row is
    materialized.

    r11: reads the bucketed fact copies — the groupBy(l_orderkey)
    inherits the bucketed scan's partitioning (no exchange) AND the
    join back to orders is a zero-exchange colocated SMJ. A/B at
    sf0.1: 1.25s → 0.46s best-of-4, identical output (SCALE.md
    r11)."""
    from data_validator_spark.operators.bucketing import bucketed_fact

    li = bucketed_fact(spark, sf, "lineitem", "l_orderkey")
    orders = bucketed_fact(spark, sf, "orders", "o_orderkey")
    cust = load(spark, sf, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum(F.col("l_quantity"), "total_qty"))
        .where(F.col("total_qty") > 150)
    )
    joined = big.hint("merge").join(
        orders, big.l_orderkey == orders.o_orderkey
    ).join(cust, F.col("o_custkey") == cust.c_custkey)
    return (
        joined.select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_totalprice",
            "total_qty",
        )
        .orderBy(F.col("total_qty").desc(), "o_orderkey")
        .limit(20)
    )


SQL_Q18 = f"""
WITH big AS (
  SELECT l_orderkey, {sql_dsum('l_quantity', 'total_qty')}
  FROM lineitem GROUP BY l_orderkey
  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) > 150
)
SELECT c_name, c_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o_totalprice, total_qty
FROM big
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY total_qty DESC, o_orderkey
LIMIT 20
"""


# -- events_windowed: tumbling 1h window per event_type --------------------
def events_windowed(spark, sf):
    return hourly_event_counts(load(spark, sf, "events")).orderBy(
        "window_start", "event_type"
    )


def hourly_event_counts(ev):
    """1-hour tumbling-window count and exact value sum per event_type
    — the kernel of events_windowed and of its streaming twin. On a
    stream the 2-hour watermark bounds the window state (rows later
    than that behind the max event time are dropped); a batch frame
    has no late data, so it gets none."""
    if ev.isStreaming:
        ev = ev.withWatermark("ts", "2 hours")
    win = F.window(F.col("ts"), "1 hour")
    return (
        ev.groupBy(win.alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"), dsum(F.col("value"), "sum_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


SQL_EVENTS_WINDOWED = f"""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       count(*) AS n_events,
       {sql_dsum('value', 'sum_value')}
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
"""


# -- events_sessionized: 30-min-gap sessions per user ----------------------
def events_sessionized(spark, sf):
    """Session = run of events per user with gaps < 30 min. One shuffle
    on user_id; lag + running-sum window funcs inside the partition."""
    ev = load_events_by_user(spark, sf)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # exact integer microseconds (unix_micros / epoch_us) on both
    # engines — no float rounding at the 30-min boundary
    us = F.unix_micros(F.col("ts"))
    gap = us - F.lag(us).over(w)
    new_session = F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    sess = ev.withColumn("session_seq", F.sum(new_session).over(w))
    return (
        sess.groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            dsum(F.col("value"), "session_value"),
        )
    )


# Gap-split session numbering (CTE ``s``: every event with its
# per-user session_seq) — shared with the streaming twin's oracle.
SQL_SESSION_SEQ_CTES = """g AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
  FROM g
)"""

SQL_EVENTS_SESSIONIZED = f"""
WITH {SQL_SESSION_SEQ_CTES}
SELECT user_id, session_seq,
       count(*) AS n_events,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
       {sql_dsum('value', 'session_value')}
FROM s
GROUP BY user_id, session_seq
ORDER BY user_id, session_seq
"""


# -- q4: order priority checking (TPC-H Q4 shape, adapted) -----------------
def q4_order_priority(spark, sf):
    """Orders from 1996 with at least one lineitem shipped >30 days
    after the order date, counted per priority.

    The reference Q4 EXISTS becomes a LEFT SEMI join: equi on
    l_orderkey plus the non-equi lateness predicate. At 100 TB both
    sides are facts, so the semi join shuffles on the order key (no
    broadcast) and the semi form stops scanning an order's lineitems
    at the first late one — strictly less work than join+distinct.
    (Adapted: testdata lineitem has no commitdate/receiptdate, so
    lateness is l_shipdate > o_orderdate + 30 days.)

    r11: both sides read the bucketed fact copies, so the semi join
    is a zero-exchange colocated SMJ (the orderdate filter pushes
    into the bucketed orders scan). A/B at sf0.1: 1.01s → 0.41s
    best-of-4, identical output (SCALE.md r11)."""
    from data_validator_spark.operators.bucketing import bucketed_fact

    orders = bucketed_fact(spark, sf, "orders", "o_orderkey").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01")) & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    li = bucketed_fact(spark, sf, "lineitem", "l_orderkey")
    late = orders.hint("merge").join(
        li,
        (li.l_orderkey == orders.o_orderkey)
        & (li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 30 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


SQL_Q4 = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# -- q7: volume shipping between nation pairs (TPC-H Q7 shape) -------------
def q7_volume_shipping(spark, sf):
    """Revenue by (customer nation, supplier nation, ship year).

    r11: the two facts meet FIRST, on the order key, reading the
    persisted bucketed copies (operators/bucketing.ensure_bucketed_fact
    — the dedup_index_refresh at-rest-layout trick applied to TPC-H):
    both scans expose bucketing as the join's hash partitioning, so
    the lineitem⨝orders SMJ runs with ZERO exchange — at 100 TB that
    pair of orderkey shuffles IS the query cost. The joined fact then
    shuffles once per dim key (custkey, suppkey); the 25-row nation
    table broadcasts onto both dims. supplier and customer get NO
    broadcast hint — SF-proportional, the plan must survive when AQE
    cannot broadcast them. A/B at sf0.1 (SCALE.md r11): 2.01s → 1.02s
    best-of-4 vs the shuffle-both-facts plan, identical output."""
    from data_validator_spark.operators.bucketing import bucketed_fact

    nation = load(spark, sf, "nation")
    li = bucketed_fact(spark, sf, "lineitem", "l_orderkey")
    supp = load(spark, sf, "supplier")
    orders = bucketed_fact(spark, sf, "orders", "o_orderkey")
    cust = load(spark, sf, "customer")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))

    supp_n = supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey).select(
        "s_suppkey", F.col("n_name").alias("supp_nation")
    )
    cust_n = cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey).select(
        "c_custkey", F.col("n_name").alias("cust_nation")
    )
    # merge hint: pins the bucket-colocated SMJ — without it the
    # planner broadcasts small test-scale tables and the bucketing
    # (the whole point at scale) never exercises
    li_o = li.hint("merge").join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount", "o_custkey"
    )
    return (
        li_o.join(cust_n, li_o.o_custkey == cust_n.c_custkey)
        .join(supp_n, F.col("l_suppkey") == supp_n.s_suppkey)
        .groupBy("cust_nation", "supp_nation", F.year("l_shipdate").alias("ship_year"))
        .agg(dsum(revenue, "revenue"))
        .orderBy("cust_nation", "supp_nation", "ship_year")
    )


SQL_Q7 = f"""
SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,
       CAST(year(l_shipdate) AS INTEGER) AS ship_year,
       {sql_dsum('l_extendedprice * (1 - l_discount)', 'revenue')}
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""


# -- q14: promotion effect (TPC-H Q14 shape) -------------------------------
def q14_promo_revenue(spark, sf):
    """Share of one month's revenue coming from PROMO parts — join +
    conditional aggregate collapsing to one row.

    Scale (r15): both sides read their at-rest partkey-bucketed
    copies (lineitem's THIRD layout — no orderkey meet here, the
    partkey join IS the query), so the join is a colocated SMJ with
    zero exchanges; the shipdate filter still pushes into the
    bucketed lineitem scan. part keeps no broadcast hint
    (SF-proportional at 100 TB; AQE broadcasts it when small)."""
    li = load_lineitem_by_part(spark, sf).where(
        (F.col("l_shipdate") >= F.lit("1997-01-01")) & (F.col("l_shipdate") < F.lit("1997-02-01"))
    )
    part = load_part_by_key(spark, sf)
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", revenue).otherwise(F.lit(0.0))
    j = li.join(part, li.l_partkey == part.p_partkey)
    return j.agg(
        F.round(
            F.lit(100.0)
            * F.sum(promo.cast("decimal(30,6)")).cast("double")
            / F.sum(revenue.cast("decimal(30,6)")).cast("double"),
            6,
        ).alias("promo_revenue_pct")
    )


SQL_Q14 = """
SELECT ROUND(100.0
         * CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
                     THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END
                     AS DECIMAL(30,6))) AS DOUBLE)
         / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                     AS DECIMAL(30,6))) AS DOUBLE), 6) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-02-01 00:00:00'
"""


# -- q8: national market share (TPC-H Q8 shape) ----------------------------
def q8_market_share(spark, sf):
    """NATION_1's share of AMERICA's ECONOMY-part order volume per
    year — the widest join tree in the suite (lineitem + orders +
    customer + part + supplier + nation×2 + region).

    Scale (r14, r13 verdict item 3): lineitem and orders come off the
    at-rest copies bucketed+sorted on the order key
    (operators/bucketing.ensure_bucketed_fact — the same copies
    q3/q4/q7/q9/q12/q18/q21 already ride), and the fact⨝fact join
    runs FIRST as a zero-exchange colocated SMJ; the o_orderdate
    window pushes into the bucketed scan. The old shape joined
    li⨝part first, which at 100 TB shuffles the FULL lineitem on
    partkey (part, 200k×SF after the type filter, outgrows
    broadcast); now only the date-windowed join result does.
    Adopted under the plan-structural arm of the SCALE.md adoption
    rule: local A/B is noise-bound (−59% best-of-4 .. +10% med,
    three boots) but the removed shuffle is the dominant 100 TB
    cost. Remaining dims follow the q7 rule — constant-size
    nation/region broadcast-hinted, SF-proportional part/supplier/
    customer left to AQE."""
    from data_validator_spark.operators.bucketing import bucketed_fact

    li = bucketed_fact(spark, sf, "lineitem", "l_orderkey")
    orders = bucketed_fact(spark, sf, "orders", "o_orderkey").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") <= F.lit("1997-12-31"))
    )
    cust = load(spark, sf, "customer")
    part = load(spark, sf, "part").where(F.col("p_type") == "ECONOMY")
    supp = load(spark, sf, "supplier")
    n1 = load(spark, sf, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_regionkey").alias("c_rkey")
    )
    n2 = load(spark, sf, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    region = load(spark, sf, "region").where(F.col("r_name") == "AMERICA")
    volume = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)
    # nation×2 and region are constant-size → broadcast hints; part
    # (200k×SF even after the type filter) and supplier (10k×SF) are
    # SF-proportional → NO hints (the q7 rule, r9) — auto-broadcast
    # covers small SFs, key shuffles survive 100 TB.
    j = (
        li.hint("merge")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(part, li.l_partkey == part.p_partkey)
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("c_nkey"))
        .join(F.broadcast(region), F.col("c_rkey") == F.col("r_regionkey"))
        .join(supp, li.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nkey"))
    )
    per_year = j.select(
        F.year("o_orderdate").alias("o_year"),
        volume.alias("volume"),
        F.col("supp_nation"),
    )
    return (
        per_year.groupBy("o_year")
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_1", F.col("volume")).otherwise(
                        F.lit(0).cast(DEC)
                    )
                ).cast("double")
                / F.sum("volume").cast("double"),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


SQL_Q8 = """
WITH flat AS (
  SELECT year(o_orderdate) AS o_year,
         CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6)) AS volume,
         n2.n_name AS supp_nation
  FROM lineitem
  JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey AND r_name = 'AMERICA'
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o_orderdate <= TIMESTAMP '1997-12-31 00:00:00'
)
SELECT o_year,
       ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_1' THEN volume
                           ELSE CAST(0 AS DECIMAL(30,6)) END) AS DOUBLE)
             / CAST(SUM(volume) AS DOUBLE), 6) AS mkt_share
FROM flat GROUP BY o_year ORDER BY o_year
"""


# -- q13: customer order-count distribution (TPC-H Q13 shape) --------------
def q13_customer_distribution(spark, sf):
    """How many customers placed 0, 1, 2, ... orders — LEFT OUTER join
    followed by two cascaded aggregations.

    Scale (r15): both sides read their at-rest custkey-bucketed
    copies (customer on c_custkey, orders on o_custkey, same bucket
    count), so the outer join is a colocated SMJ and the per-customer
    groupBy inherits the same partitioning — ZERO custkey exchanges
    (the r14 census counted the raw-orders shuffle here); the second
    aggregation's key domain is the distinct order counts (tiny),
    collapsing in map-side partials. Customers without orders survive
    the outer join with a 0 count — an inner join would silently drop
    the most interesting bucket."""
    cust = load_customer_by_key(spark, sf)
    orders = load_orders_by_cust(spark, sf)
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


SQL_Q13 = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


# -- q22: prospective customers (TPC-H Q22 shape) --------------------------
LARGE_ORDER = 400_000.0  # every synthetic customer has SOME order; "large" makes the anti-join non-vacuous


def q22_prospective_customers(spark, sf):
    """Above-average-balance customers who never placed a large order
    (o_totalprice > 400k), counted per nation — global scalar
    threshold + LEFT ANTI join (TPC-H Q22 shape; nation stands in for
    the phone prefix, and "no large order" for "no order", since every
    synthetic customer has at least one order).

    Scale (r15): the threshold is a one-row scan-agg broadcast into
    the filter (no recompute per row); both anti-join sides read
    their at-rest custkey-bucketed copies, so NEITHER side shuffles —
    the totalprice pre-filter still pushes into the bucketed orders
    scan, and the balance-filtered customer slice keeps the scan's
    c_custkey partitioning through the broadcast-threshold join.
    The threshold is sum(DECIMAL)/count — exact in both engines, so
    the boundary predicate is bit-stable for the oracle."""
    cust = load_customer_by_key(spark, sf)
    orders = load_orders_by_cust(spark, sf).where(
        F.col("o_totalprice") > F.lit(LARGE_ORDER)
    )
    avg_bal = cust.where(F.col("c_acctbal") > 0.0).agg(
        (F.sum(F.col("c_acctbal").cast(DEC)).cast("double") / F.count("*")).alias(
            "avg_bal"
        )
    )
    rich = cust.crossJoin(F.broadcast(avg_bal)).where(
        F.col("c_acctbal") > F.col("avg_bal")
    )
    no_orders = rich.join(orders, rich.c_custkey == orders.o_custkey, "left_anti")
    return (
        no_orders.groupBy("c_nationkey")
        .agg(F.count("*").alias("numcust"), dsum(F.col("c_acctbal"), "totacctbal"))
        .orderBy("c_nationkey")
    )


SQL_Q22 = """
WITH avg_bal AS (
  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*) AS a
  FROM customer WHERE c_acctbal > 0.0
)
SELECT c_nationkey, COUNT(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(30,6))) AS DOUBLE) AS totacctbal
FROM customer, avg_bal
WHERE c_acctbal > a
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
GROUP BY c_nationkey
ORDER BY c_nationkey
"""


# -- events_asof_join: purchase ← latest preceding click -------------------
def events_asof_join(spark, sf):
    """Each purchase event matched to the user's latest click at or
    before it (backward as-of join, operators/asof.py) — the
    point-in-time enrichment shape feature stores and trade/quote
    pipelines need, which plain SQL only reaches via a range self-join.

    Scale (r15): both streams are subsets of ONE relation, so this
    rides asof_self_join — predicates tag rows in place instead of
    union-ing two filtered frames, preserving the bucketed events
    scan's HashPartitioning(user_id) (Spark's Union reports
    UnknownPartitioning even over identically-partitioned children,
    which was this family's last user_id exchange, SCALE.md r14).
    Plan over the at-rest copy: Filter → in-bucket Sort → Window —
    ZERO exchanges, no non-equi join, no per-row subquery. gap_us is
    exact integer microseconds (engine-independent)."""
    from data_validator_spark.operators.asof import asof_self_join

    ev = load_events_by_user(spark, sf)
    j = asof_self_join(
        ev.select("event_id", "user_id", "ts", "value", "event_type"),
        on=["user_id"],
        ts="ts",
        left_pred=F.col("event_type") == "purchase",
        right_pred=F.col("event_type") == "click",
        payload=["event_id", "ts"],
        tiebreak="event_id",
        prefix="click_",
    )
    return j.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
        F.col("click_event_id").alias("click_id"),
        F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        (F.unix_micros("ts") - F.unix_micros("click_ts")).alias("gap_us"),
    )


SQL_EVENTS_ASOF = """
WITH tagged AS (
  SELECT event_id, ts, user_id, value,
         CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS stream
  FROM events WHERE event_type IN ('click', 'purchase')
), carried AS (
  SELECT *,
         last_value(CASE WHEN stream = 0 THEN event_id END IGNORE NULLS)
           OVER w AS click_id,
         last_value(CASE WHEN stream = 0 THEN ts END IGNORE NULLS)
           OVER w AS click_ts
  FROM tagged
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, stream, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_id AS purchase_id,
       user_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
       value AS purchase_value,
       click_id,
       strftime(click_ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
       date_diff('microsecond', click_ts, ts) AS gap_us
FROM carried WHERE stream = 1 ORDER BY purchase_id
"""


# -- events_range_join: clicks near each error ------------------------------
RANGE_TOL_US = 5 * 60 * 1_000_000  # ±5 minutes


def events_range_join(spark, sf):
    """For every error event, how many same-user clicks happened
    within ±5 minutes — a big-big temporal range join. r15: both
    streams are subsets of ONE relation, so this rides
    range_count_self (operators/rangejoin.py): a RANGE-framed window
    over the bucketed events copy — in-bucket sort, incremental
    sliding frame, ZERO exchanges and no row fan-out (the generic
    bucket-explode equi-join form, kept for genuinely two-input
    joins, re-shuffled on (user_id, bin) and tripled the probe side;
    at 100 TB the shuffle it removes was the query cost)."""
    from data_validator_spark.operators.rangejoin import range_count_self

    ev = load_events_by_user(spark, sf)
    j = range_count_self(
        ev.select("event_id", "user_id", "ts", "event_type"),
        on=["user_id"],
        ts="ts",
        probe_pred=F.col("event_type") == "error",
        build_pred=F.col("event_type") == "click",
        tolerance_us=RANGE_TOL_US,
        count_alias="n_nearby_clicks",
    )
    return j.select(
        F.col("event_id").alias("error_id"),
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("error_ts"),
        "n_nearby_clicks",
    )


SQL_EVENTS_RANGE_JOIN = f"""
WITH err AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'),
cl AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
SELECT err.event_id AS error_id,
       err.user_id,
       strftime(err.ts, '%Y-%m-%d %H:%M:%S') AS error_ts,
       count(cl.ts) AS n_nearby_clicks
FROM err LEFT JOIN cl
  ON err.user_id = cl.user_id
 AND abs(date_diff('microsecond', cl.ts, err.ts)) <= {RANGE_TOL_US}
GROUP BY err.event_id, err.user_id, err.ts
ORDER BY error_id
"""


# -- events_rollup: hypertable-style continuous aggregate -------------------
def events_rollup(spark, sf):
    """Hour, day, and grand-total aggregates of the events stream in
    ONE scan via ROLLUP grouping sets — the hypertable/continuous-
    aggregate shape (TimescaleDB rollups, Druid datasources).

    Scale: Spark expands grouping sets with partial aggregation per
    set before the single shuffle, so adding granularities costs
    map-side work, not extra scans — at 100 TB, 3 granularities in one
    pass instead of 3 jobs. grouping() flags disambiguate rollup
    NULLs from data NULLs."""
    ev = load(spark, sf, "events")
    df = ev.select(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        F.hour("ts").cast("int").alias("hour"),
        "event_type",
        "value",
    )
    return (
        df.rollup("day", "hour", "event_type")
        .agg(
            F.grouping("day").cast("int").alias("g_day"),
            F.grouping("hour").cast("int").alias("g_hour"),
            F.grouping("event_type").cast("int").alias("g_type"),
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value"), "sum_value"),
        )
        .orderBy("g_day", "g_hour", "g_type", "day", "hour", "event_type")
    )


SQL_EVENTS_ROLLUP = f"""
WITH base AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         CAST(hour(ts) AS INTEGER) AS hour,
         event_type, value
  FROM events
)
SELECT day, hour, event_type,
       CAST(GROUPING(day) AS INTEGER) AS g_day,
       CAST(GROUPING(hour) AS INTEGER) AS g_hour,
       CAST(GROUPING(event_type) AS INTEGER) AS g_type,
       count(*) AS n_events,
       {sql_dsum('value', 'sum_value')}
FROM base
GROUP BY ROLLUP(day, hour, event_type)
ORDER BY g_day, g_hour, g_type, day, hour, event_type
"""


# -- q15: top supplier (TPC-H Q15 shape) -----------------------------------
def q15_top_supplier(spark, sf):
    """Supplier(s) with the maximum quarterly revenue — aggregate view
    + scalar max + equality join back (TPC-H Q15's CREATE VIEW shape
    without the view).

    Scale: revenue aggregates per suppkey map-side before one
    shuffle; the 1-row max is broadcast back (no re-aggregation and
    no window over all suppliers); supplier joins on the tiny result.
    Revenue goes through DECIMAL so the max-equality compare is exact
    in both engines."""
    li = load(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    rev = li.groupBy("l_suppkey").agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("max_revenue"))
    top = rev.crossJoin(F.broadcast(mx)).where(
        F.col("total_revenue") == F.col("max_revenue")
    )
    supp = load(spark, sf, "supplier")
    return (
        top.join(supp, top.l_suppkey == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


SQL_Q15 = f"""
WITH rev AS (
  SELECT l_suppkey, {sql_dsum('l_extendedprice * (1 - l_discount)', 'total_revenue')}
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
ORDER BY s_suppkey
"""


# -- q17: small-quantity-order revenue (TPC-H Q17 shape) -------------------
def q17_small_quantity_revenue(spark, sf):
    """Average yearly revenue lost if small orders (below 20% of a
    part's average quantity) were not taken — per-group scalar
    threshold joined back to the fact (TPC-H Q17).

    Scale (r15): all three partkey meets — the per-part average, the
    part join, and the threshold join-back — ride the at-rest
    partkey-bucketed copies, so the whole query plans with zero
    partkey exchanges (was 2 lineitem-scale shuffles, the r15
    census); the brand filter prunes part before its join and pushes
    into the bucketed part scan. The threshold is sum(DECIMAL)/count
    — exact in both engines, so the strict < boundary is
    bit-stable."""
    li = load_lineitem_by_part(spark, sf)
    part = load_part_by_key(spark, sf).where(F.col("p_brand") == "Brand#23")
    avg_qty = li.groupBy("l_partkey").agg(
        (F.sum(F.col("l_quantity").cast(DEC)).cast("double") / F.count(F.lit(1))).alias(
            "avg_qty"
        )
    )
    # part is SF-proportional even brand-filtered (1/25 of 200k×SF) →
    # no broadcast hint (the q7 rule, r9); auto-broadcast handles
    # small SFs, the key shuffle survives 100 TB.
    j = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(avg_qty, "l_partkey")
        .where(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
    )
    return j.agg(
        (
            F.sum((F.col("l_extendedprice")).cast(DEC)).cast("double") / F.lit(7.0)
        ).alias("avg_yearly")
    )


SQL_Q17 = """
WITH avg_qty AS (
  SELECT l_partkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*) AS avg_qty
  FROM lineitem GROUP BY l_partkey
)
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) / 7.0 AS avg_yearly
FROM lineitem
JOIN part ON l_partkey = p_partkey AND p_brand = 'Brand#23'
JOIN avg_qty USING (l_partkey)
WHERE l_quantity < 0.2 * avg_qty
"""


# -- events_funnel: sequential-stage conversion -----------------------------
def events_funnel(spark, sf):
    """signup → click → purchase conversion funnel: users counted at
    each stage only if the stage event happens AT OR AFTER their
    previous stage's first event — the product-analytics shape that
    needs per-user sequential matching, not independent counts.

    Scale: three stage aggregations each shuffle on user_id (AQE
    reuses the partitioning); stage joins are per-user 1-row meets.
    No window over the raw event stream — each stage reduces to one
    row per qualifying user before the next meet."""
    ev = load_events_by_user(spark, sf).select("user_id", "event_type", "ts")
    signup = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    click = (
        ev.where(F.col("event_type") == "click")
        .join(signup, "user_id")
        .where(F.col("ts") >= F.col("signup_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("click_ts"))
    )
    purchase = (
        ev.where(F.col("event_type") == "purchase")
        .join(click, "user_id")
        .where(F.col("ts") >= F.col("click_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    return (
        signup.agg(F.count(F.lit(1)).alias("n_signup"))
        .crossJoin(click.agg(F.count(F.lit(1)).alias("n_click_after_signup")))
        .crossJoin(purchase.agg(F.count(F.lit(1)).alias("n_purchase_after_click")))
    )


SQL_EVENTS_FUNNEL = """
WITH signup AS (
  SELECT user_id, MIN(ts) AS signup_ts FROM events
  WHERE event_type = 'signup' GROUP BY user_id
), click AS (
  SELECT e.user_id, MIN(e.ts) AS click_ts
  FROM events e JOIN signup s ON e.user_id = s.user_id
  WHERE e.event_type = 'click' AND e.ts >= s.signup_ts
  GROUP BY e.user_id
), purchase AS (
  SELECT e.user_id, MIN(e.ts) AS purchase_ts
  FROM events e JOIN click c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= c.click_ts
  GROUP BY e.user_id
)
SELECT (SELECT count(*) FROM signup) AS n_signup,
       (SELECT count(*) FROM click) AS n_click_after_signup,
       (SELECT count(*) FROM purchase) AS n_purchase_after_click
"""


# -- events_retention: cohort retention matrix ------------------------------
RETENTION_DAYS = 7


def events_retention(spark, sf):
    """Day-N retention: users cohorted by their first-activity day,
    counted as retained on each later day they were active (offsets
    0..7) — the cohort matrix behind every retention dashboard.

    Scale: one shuffle to find each user's cohort day, one distinct
    over (user, day) — both partial-aggregate map-side; the matrix
    itself is tiny (days × offsets). (user, day) is distinct and each
    user has ONE cohort, so the final count needs no second distinct."""
    ev = load_events_by_user(spark, sf)
    by_day = ev.select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
    )
    cohort = by_day.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    active = by_day.distinct()
    return (
        active.join(cohort, "user_id")
        .select(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            F.datediff(F.col("day"), F.col("cohort_day")).alias("day_offset"),
        )
        .where(F.col("day_offset").between(0, RETENTION_DAYS))
        .groupBy("cohort_day", "day_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
        .orderBy("cohort_day", "day_offset")
    )


SQL_EVENTS_RETENTION = f"""
WITH by_day AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day FROM events
), cohort AS (
  SELECT user_id, MIN(day) AS cohort_day FROM by_day GROUP BY user_id
), active AS (
  SELECT DISTINCT user_id, day FROM by_day
)
SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
       date_diff('day', cohort_day, day) AS day_offset,
       count(*) AS n_active
FROM active JOIN cohort USING (user_id)
WHERE date_diff('day', cohort_day, day) BETWEEN 0 AND {RETENTION_DAYS}
GROUP BY 1, 2 ORDER BY 1, 2
"""


# -- events_pivot: wide-format daily counts ---------------------------------
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def events_pivot(spark, sf):
    """Daily event counts pivoted to one column per event type — the
    wide-format reporting shape. The pivot value list is FIXED (not
    inferred), which matters at scale: inference costs an extra
    distinct scan and makes the output schema data-dependent. With
    fixed values the pivot compiles to conditional aggregates in the
    single groupBy — same plan as the oracle's CASE sums."""
    ev = load(spark, sf, "events")
    return (
        ev.select(F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"), "event_type")
        .groupBy("day")
        .pivot("event_type", EVENT_TYPES)
        .count()
        .na.fill(0, EVENT_TYPES)
        .orderBy("day")
    )


SQL_EVENTS_PIVOT = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       count(*) FILTER (WHERE event_type = 'click') AS click,
       count(*) FILTER (WHERE event_type = 'error') AS error,
       count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
       count(*) FILTER (WHERE event_type = 'signup') AS signup,
       count(*) FILTER (WHERE event_type = 'view') AS view
FROM events GROUP BY 1 ORDER BY 1
"""


# -- salted_aggregation: skew-safe groupBy, oracle-checked ------------------
def salted_aggregation(spark, sf):
    """Event counts by type via the two-stage salted aggregation
    (operators/skew.py) — the worst-case skew shape on purpose: only
    5 distinct keys over the whole table, so an unsalted exact
    collect-style agg would reduce on 5 hot reducers. The salt spreads
    each key over 16, then partials merge. The oracle proves the
    two-stage result is bit-identical to the direct groupBy."""
    from data_validator_spark.operators.skew import salted_count_by_key

    ev = load(spark, sf, "events")
    return (
        salted_count_by_key(ev.select("event_type"), ["event_type"])
        .withColumnRenamed("count", "n_events")
        .orderBy("event_type")
    )


SQL_SALTED_AGGREGATION = """
SELECT event_type, count(*) AS n_events
FROM events GROUP BY event_type ORDER BY event_type
"""


# -- events_json_extract ---------------------------------------------------
def events_json_extract(spark, sf):
    """Semi-structured props column: JSON-path extraction fused into
    the aggregation — the common telemetry shape (typed columns + a
    JSON grab-bag). get_json_object evaluates JVM-side inside codegen;
    no Python, no UDF, one scan + one partial-agged shuffle on
    event_type. At 100 TB the JSON parse cost is per-row CPU that
    scales out linearly; for hot paths you'd materialize k as a typed
    column at ingest (schema evolution, not an engine gap)."""
    ev = load(spark, sf, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


SQL_EVENTS_JSON_EXTRACT = """
WITH j AS (
  SELECT event_type, CAST(json_extract(props, '$.k') AS BIGINT) AS k
  FROM events)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(k) AS BIGINT) AS n_with_k,
       CAST(SUM(k) AS BIGINT) AS sum_k,
       min(k) AS min_k, max(k) AS max_k
FROM j GROUP BY event_type ORDER BY event_type
"""


# -- events_anomaly --------------------------------------------------------
def events_anomaly(spark, sf):
    """Daily-volume anomaly scores: per event_type, z-score each day's
    event count against that type's own daily mean/stddev. The
    monitoring query a validation pipeline runs to catch ingest
    regressions (a day at z < -2 means a feed silently dropped).

    Two cheap aggregations: daily counts (partial-agged shuffle on
    (type, day)) then per-type moments via a window over the tiny
    daily relation — the second stage operates on rows-per-day, not
    raw events, so its cost is independent of corpus size."""
    ev = load(spark, sf, "events")
    daily = (
        ev.groupBy(
            "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
        ).agg(F.count(F.lit(1)).alias("n_events"))
    )
    w = Window.partitionBy("event_type")
    std = F.stddev_pop("n_events").over(w)
    # explicit zero-variance guard: Spark yields NULL on x/0 while
    # DuckDB yields inf — F.when + NULLIF pin both engines to NULL
    z = F.when(
        std > 0, (F.col("n_events") - F.avg("n_events").over(w)) / std
    )
    return (
        daily.withColumn("z_score", F.round(z, 6))
        .select("event_type", "day", "n_events", "z_score")
        .orderBy("event_type", "day")
    )


SQL_EVENTS_ANOMALY = """
WITH daily AS (
  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
         count(*) AS n_events
  FROM events GROUP BY 1, 2)
SELECT event_type, day, CAST(n_events AS BIGINT) AS n_events,
       round((n_events - AVG(n_events) OVER (PARTITION BY event_type))
             / NULLIF(stddev_pop(n_events) OVER (PARTITION BY event_type), 0), 6)
         AS z_score
FROM daily ORDER BY event_type, day
"""


# -- event_transitions: next-event Markov transition matrix -----------------
def q_event_transitions(spark, sf):
    """First-order Markov transition matrix over each user's event
    stream: for every (from_type, to_type) pair, the transition count
    and conditional probability P(to|from) — the clickstream
    next-action model behind recommendation priors and anomaly
    detection on behavioral sequences.

    Scale shape: one shuffle keyed by user_id (the lag window), then
    the transition stream collapses map-side to the |types|² relation
    (≤25 rows here) and the per-from totals come from a window over
    that tiny relation. Rate-independent after the first collapse.

    Determinism: ordering is (ts, event_id) — the sessionization
    convention; counts are integers and the probability is one exact
    int/int division rounded through decimal(30,6).
    """
    ev = load_events_by_user(spark, sf)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "user_id",
            F.lag("event_type").over(w).alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .where(F.col("from_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wf = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(wf).cast("double"))
        .cast(DEC)
        .cast("double")
        .alias("prob"),
    ).orderBy("from_type", "to_type")


SQL_EVENT_TRANSITIONS = """
WITH pairs AS (
  SELECT lag(event_type) OVER w AS from_type, event_type AS to_type
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
counts AS (
  SELECT from_type, to_type, COUNT(*) AS n
  FROM pairs WHERE from_type IS NOT NULL
  GROUP BY from_type, to_type)
SELECT from_type, to_type, n,
       CAST(CAST(CAST(n AS DOUBLE)
                 / SUM(n) OVER (PARTITION BY from_type)
            AS DECIMAL(30,6)) AS DOUBLE) AS prob
FROM counts ORDER BY from_type, to_type
"""


# -- conversion_lag: signup→purchase time-to-convert ------------------------
def q_conversion_lag(spark, sf):
    """Time-to-convert funnel statistics: of the users who signed up,
    how many later purchased, and how long the first signup→first
    subsequent purchase took (median and p90 lag) — the companion
    metric to `events_funnel`'s stage counts.

    Scale shape: signups collapse to one min-timestamp row per user
    (map-side combine); that per-user relation joins the purchase
    stream key-to-key and the lag distribution collapses in a single
    fused aggregate. Exact `percentile` (the col_quantiles parity
    rule) buffers every lag value in its final merge: one value per
    converted user, not per event.

    Determinism: lags are exact integer microsecond
    differences converted to whole seconds with integer div;
    percentile interpolation is identical in both engines.
    """
    ev = load_events_by_user(spark, sf)
    signups = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts")
    )
    first_purchase = (
        purchases.join(signups, "user_id")
        .where(F.col("p_ts") >= F.col("signup_ts"))
        .groupBy("user_id")
        .agg(
            F.min("signup_ts").alias("signup_ts"),
            F.min("p_ts").alias("first_purchase_ts"),
        )
    )
    lag_s = F.expr(
        "(unix_micros(first_purchase_ts) - unix_micros(signup_ts)) div 1000000"
    )
    lags = first_purchase.select(lag_s.alias("lag_s"))
    stats = lags.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.expr("percentile(lag_s, 0.5D)").alias("p50"),
        F.expr("percentile(lag_s, 0.9D)").alias("p90"),
    )
    n_signup = signups.agg(F.count(F.lit(1)).alias("n_signup_users"))
    return (
        n_signup.crossJoin(F.broadcast(stats))
        .select(
            "n_signup_users",
            "n_converted",
            (
                F.col("n_converted").cast("double")
                * 100.0
                / F.col("n_signup_users").cast("double")
            )
            .cast(DEC)
            .cast("double")
            .alias("conversion_pct"),
            F.col("p50").cast(DEC).cast("double").alias("p50_lag_s"),
            F.col("p90").cast(DEC).cast("double").alias("p90_lag_s"),
        )
    )


SQL_CONVERSION_LAG = """
WITH signups AS (
  SELECT user_id, MIN(ts) AS signup_ts FROM events
  WHERE event_type = 'signup' GROUP BY user_id),
first_purchase AS (
  SELECT e.user_id, MIN(s.signup_ts) AS signup_ts, MIN(e.ts) AS first_purchase_ts
  FROM events e JOIN signups s ON e.user_id = s.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= s.signup_ts
  GROUP BY e.user_id),
lags AS (
  SELECT (epoch_us(first_purchase_ts) - epoch_us(signup_ts)) // 1000000 AS lag_s
  FROM first_purchase),
stats AS (
  SELECT COUNT(*) AS n_converted,
         quantile_cont(lag_s, 0.5) AS p50, quantile_cont(lag_s, 0.9) AS p90
  FROM lags),
ns AS (SELECT COUNT(*) AS n_signup_users FROM signups)
SELECT n_signup_users, n_converted,
       CAST(CAST(CAST(n_converted AS DOUBLE) * 100.0 / n_signup_users
            AS DECIMAL(30,6)) AS DOUBLE) AS conversion_pct,
       CAST(CAST(p50 AS DECIMAL(30,6)) AS DOUBLE) AS p50_lag_s,
       CAST(CAST(p90 AS DECIMAL(30,6)) AS DOUBLE) AS p90_lag_s
FROM ns CROSS JOIN stats
"""


QUERIES = {
    "events_json_extract": events_json_extract,
    "events_anomaly": events_anomaly,
    "q1_pricing_summary": q1_pricing_summary,
    "q4_order_priority": q4_order_priority,
    "q7_volume_shipping": q7_volume_shipping,
    "q14_promo_revenue": q14_promo_revenue,
    "q8_market_share": q8_market_share,
    "q13_customer_distribution": q13_customer_distribution,
    "q15_top_supplier": q15_top_supplier,
    "q17_small_quantity_revenue": q17_small_quantity_revenue,
    "q22_prospective_customers": q22_prospective_customers,
    "q3_shipping_priority": q3_shipping_priority,
    "q5_local_supplier": q5_local_supplier,
    "q6_forecast_revenue": q6_forecast_revenue,
    "q10_returned_items": q10_returned_items,
    "q18_large_volume": q18_large_volume,
    "events_windowed": events_windowed,
    "events_sessionized": events_sessionized,
    "event_transitions": q_event_transitions,
    "conversion_lag": q_conversion_lag,
    "events_asof_join": events_asof_join,
    "events_range_join": events_range_join,
    "events_rollup": events_rollup,
    "salted_aggregation": salted_aggregation,
    "events_pivot": events_pivot,
    "events_funnel": events_funnel,
    "events_retention": events_retention,
}

ORACLES = {
    "events_json_extract": SQL_EVENTS_JSON_EXTRACT,
    "events_anomaly": SQL_EVENTS_ANOMALY,
    "q1_pricing_summary": SQL_Q1,
    "q4_order_priority": SQL_Q4,
    "q7_volume_shipping": SQL_Q7,
    "q14_promo_revenue": SQL_Q14,
    "q8_market_share": SQL_Q8,
    "q13_customer_distribution": SQL_Q13,
    "q15_top_supplier": SQL_Q15,
    "q17_small_quantity_revenue": SQL_Q17,
    "q22_prospective_customers": SQL_Q22,
    "q3_shipping_priority": SQL_Q3,
    "q5_local_supplier": SQL_Q5,
    "q6_forecast_revenue": SQL_Q6,
    "q10_returned_items": SQL_Q10,
    "q18_large_volume": SQL_Q18,
    "events_windowed": SQL_EVENTS_WINDOWED,
    "events_sessionized": SQL_EVENTS_SESSIONIZED,
    "event_transitions": SQL_EVENT_TRANSITIONS,
    "conversion_lag": SQL_CONVERSION_LAG,
    "events_asof_join": SQL_EVENTS_ASOF,
    "events_range_join": SQL_EVENTS_RANGE_JOIN,
    "events_rollup": SQL_EVENTS_ROLLUP,
    "salted_aggregation": SQL_SALTED_AGGREGATION,
    "events_pivot": SQL_EVENTS_PIVOT,
    "events_funnel": SQL_EVENTS_FUNNEL,
    "events_retention": SQL_EVENTS_RETENTION,
}
