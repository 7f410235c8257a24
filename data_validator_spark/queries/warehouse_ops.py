"""Warehouse-maintenance operators: CDC upsert (MERGE) and SCD2
history building — the mutation patterns a lakehouse pipeline runs
between analytics jobs.

Both are expressed as the generic join/window plans that scale (the
MERGE is one equi-join on the key; the SCD2 build is one window
shuffle), not as row-at-a-time logic. The changes batch for the MERGE
is DERIVED deterministically from the base table with the same
arithmetic in the DuckDB oracle (the tpch_ext pattern — the driver's
parquet dirs are fixed, so test inputs must be derivable).

Parity note: the reference engine (target/data-validator) validates
tables but never mutates them; these rows extend it per the build
brief, mirroring Delta MERGE INTO / SCD2 OPTIMIZE patterns.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from data_validator_spark.queries import (
    SessionCache,
    load_customer_by_key,
    load_events_by_user,
    load_orders_by_cust,
)


# -- cdc_upsert ------------------------------------------------------------
# Deterministic changes batch derived from `customer`:
#   update: c_custkey % 7 == 0            -> acctbal += 100.00
#   delete: else if c_custkey % 13 == 3   -> row removed
#   insert: c_custkey % 31 == 1           -> new key = old + 1_000_000
INS_OFFSET = 1_000_000


def _r2(col):
    """2-decimal rounding as floor(x*100 + 0.5)/100 — ROUND() on
    doubles is half-up in Spark but not in DuckDB on exact halves
    (acctbal/2 produces .xx5 constantly); floor arithmetic is
    bit-identical in both engines (same rule as embedding_norm_quant)."""
    return F.floor(col * 100.0 + 0.5) / 100.0


def _changes(base):
    """(key, new_acctbal, op) change rows — op in U/D/I — derived in
    ONE pass with array+filter+explode instead of the r14 3-branch
    union (r15): one scan instead of three, and a U row that is ALSO
    an insert seed (key % 7 == 0 AND % 31 == 1) still yields both
    entries, exactly like the union did. A union here would also
    discard the scan's partitioning (Spark Union reports
    UnknownPartitioning) — moot for the changes side, which must
    shuffle anyway because insert keys relocate (+INS_OFFSET), but the
    single-scan form halves the source IO."""
    u = F.col("c_custkey") % 7 == 0
    d = (F.col("c_custkey") % 7 != 0) & (F.col("c_custkey") % 13 == 3)
    i = F.col("c_custkey") % 31 == 1
    arr = F.array(
        F.when(
            u,
            F.struct(
                F.col("c_custkey").alias("key"),
                _r2(F.col("c_acctbal") + 100.0).alias("new_acctbal"),
                F.lit("U").alias("op"),
            ),
        ),
        F.when(
            d,
            F.struct(
                F.col("c_custkey").alias("key"),
                F.lit(None).cast("double").alias("new_acctbal"),
                F.lit("D").alias("op"),
            ),
        ),
        F.when(
            i,
            F.struct(
                (F.col("c_custkey") + INS_OFFSET).alias("key"),
                _r2(F.col("c_acctbal") / 2.0).alias("new_acctbal"),
                F.lit("I").alias("op"),
            ),
        ),
    )
    return (
        base.where(u | d | i)
        .select(F.explode(F.filter(arr, lambda x: x.isNotNull())).alias("c"))
        .select("c.*")
    )


def q_cdc_upsert(spark, sf):
    """Join-based MERGE (Delta's MERGE INTO shape): apply a changes
    batch (update / delete / insert ops) to the customer snapshot in
    ONE full-outer equi-join on the key — matched+U rewrites the
    value, matched+D drops the row, unmatched-change inserts.

    Scale shape (r15): the base side reads the at-rest c_custkey-
    bucketed customer copy, so the merge join consumes the scan's
    HashPartitioning directly — the BASE TABLE NEVER SHUFFLES across
    daily merge cycles, only the |delta|-scale changes side does (and
    must: insert keys relocate by construction). The standard
    lakehouse upsert topology. No window, no driver state; AQE
    handles skewed keys.
    """
    base = load_customer_by_key(spark, sf)
    merged = base.join(_changes(base), base.c_custkey == F.col("key"), "full_outer")
    return (
        merged.where(F.col("op").isNull() | (F.col("op") != "D"))
        .select(
            F.coalesce(F.col("key"), F.col("c_custkey")).alias("custkey"),
            F.when(F.col("op") == "U", F.col("new_acctbal"))
            .when(F.col("op") == "I", F.col("new_acctbal"))
            .otherwise(_r2(F.col("c_acctbal")))
            .alias("acctbal"),
            F.when(F.col("op") == "U", F.lit("updated"))
            .when(F.col("op") == "I", F.lit("inserted"))
            .otherwise(F.lit("base"))
            .alias("src"),
        )
    )


SQL_CDC_UPSERT = f"""
WITH changes AS (
  SELECT c_custkey AS key, FLOOR((c_acctbal + 100.0) * 100.0 + 0.5) / 100.0 AS new_acctbal, 'U' AS op
  FROM customer WHERE c_custkey % 7 = 0
  UNION ALL
  SELECT c_custkey, NULL, 'D'
  FROM customer WHERE c_custkey % 7 != 0 AND c_custkey % 13 = 3
  UNION ALL
  SELECT c_custkey + {INS_OFFSET}, FLOOR((c_acctbal / 2.0) * 100.0 + 0.5) / 100.0, 'I'
  FROM customer WHERE c_custkey % 31 = 1)
SELECT COALESCE(key, c_custkey) AS custkey,
       CASE WHEN op IN ('U', 'I') THEN new_acctbal
            ELSE FLOOR(c_acctbal * 100.0 + 0.5) / 100.0 END AS acctbal,
       CASE WHEN op = 'U' THEN 'updated'
            WHEN op = 'I' THEN 'inserted'
            ELSE 'base' END AS src
FROM customer FULL OUTER JOIN changes ON c_custkey = key
WHERE op IS NULL OR op != 'D'
ORDER BY custkey
"""


# -- scd2_intervals --------------------------------------------------------
def q_scd2_intervals(spark, sf):
    """SCD2 history build: turn each user's purchase stream into
    slowly-changing-dimension validity intervals — valid_from = event
    time, valid_to = next event's time (NULL while current), plus the
    is_current flag. The standard "dimension history from a CDC feed"
    transformation.

    Scale shape: ONE shuffle on the dimension key (the window
    partition); lead() is evaluated inside the sorted partition with
    no second pass. Timestamps are emitted as epoch microseconds
    (integers) so the cross-engine hash never touches timestamp
    formatting.
    """
    ev = load_events_by_user(spark, sf).where(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            "user_id",
            F.unix_micros("ts").alias("valid_from"),
            F.unix_micros(F.lead("ts").over(w)).alias("valid_to"),
            F.round("value", 6).alias("value"),
            F.lead("ts").over(w).isNull().alias("is_current"),
        )
    )


SQL_SCD2_INTERVALS = """
SELECT user_id,
       epoch_us(ts) AS valid_from,
       epoch_us(lead(ts) OVER w) AS valid_to,
       ROUND(value, 6) AS value,
       lead(ts) OVER w IS NULL AS is_current
FROM events
WHERE event_type = 'purchase'
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY user_id, valid_from, value
"""


# -- ivm_agg ---------------------------------------------------------------
# Deterministic delta batch derived from `orders` (fixed parquet dirs,
# so deltas must be derivable — the cdc_upsert pattern):
#   delete: o_orderkey % 17 == 0
#   insert: a copy of every o_orderkey % 13 == 0 row at +10.00 price
IVM_DEL_MOD = 17
IVM_INS_MOD = 13
IVM_INS_BUMP = 10.0


def q_ivm_agg(spark, sf):
    """Incremental view maintenance of a per-customer order aggregate:
    apply a signed delta batch (deletes as −1/−price, inserts as
    +1/+price) to the MATERIALIZED aggregate with one outer join —
    never re-aggregating the base fact — and emit the refreshed view.
    The DuckDB oracle IS the full recompute over (base − deletes +
    inserts), so a green hash PROVES merge-equals-recompute.

    Scale shape (r15): the base aggregate is |customers| rows (in
    production, read back from the store — here rebuilt once to stand
    in for it); everything keys on o_custkey, so both the base and the
    delta aggregation read the at-rest o_custkey-bucketed orders copy
    and inherit the scan's HashPartitioning — and the r14 3-branch
    delta union (whose Union node reported UnknownPartitioning and
    forced the delta groupBy to re-shuffle) is now ONE signed-
    contribution pass: per row, the delete predicate contributes
    (−1, −price) and the insert predicate (+1, +price+bump), summed in
    the same aggregation. ZERO wide exchanges end to end — the merge
    full-outer join meets two relations already partitioned on the
    key. Refresh cost tracks the delta, not the fact table — the
    entire point of IVM at 100 TB.

    Determinism: counts are signed integers; price sums accumulate in
    decimal(30,6) on both the base and delta sides (exact retraction:
    a deleted row subtracts the identical decimal it added; a row
    matching BOTH predicates nets the same sum the two union rows
    did, since decimal addition commutes); keys whose count reaches 0
    drop out in both engines.
    """
    orders = load_orders_by_cust(spark, sf)
    dec_price = F.col("o_totalprice").cast("decimal(30,6)")
    base = orders.groupBy("o_custkey").agg(
        F.count("*").alias("n_b"), F.sum(dec_price).alias("s_b")
    )
    is_del = F.col("o_orderkey") % IVM_DEL_MOD == 0
    is_ins = F.col("o_orderkey") % IVM_INS_MOD == 0
    zero = F.lit(0).cast("decimal(30,6)")
    delta = (
        orders.where(is_del | is_ins)
        .groupBy("o_custkey")
        .agg(
            F.sum(
                F.when(is_del, -1).otherwise(0) + F.when(is_ins, 1).otherwise(0)
            ).alias("n_d"),
            F.sum(
                F.when(is_del, -dec_price).otherwise(zero)
                + F.when(
                    is_ins,
                    (F.col("o_totalprice") + IVM_INS_BUMP).cast("decimal(30,6)"),
                ).otherwise(zero)
            ).alias("s_d"),
        )
    )
    merged = base.join(delta, "o_custkey", "full_outer").select(
        "o_custkey",
        (F.coalesce(F.col("n_b"), F.lit(0)) + F.coalesce(F.col("n_d"), F.lit(0))).alias(
            "n_orders"
        ),
        (
            F.coalesce(F.col("s_b"), F.lit(0).cast("decimal(30,6)"))
            + F.coalesce(F.col("s_d"), F.lit(0).cast("decimal(30,6)"))
        ).alias("s"),
    )
    return (
        merged.where(F.col("n_orders") > 0)
        .select("o_custkey", "n_orders", F.col("s").cast("double").alias("sum_price"))
    )


SQL_IVM_AGG = f"""
WITH current AS (
  SELECT o_custkey, o_totalprice FROM orders WHERE o_orderkey % {IVM_DEL_MOD} <> 0
  UNION ALL
  SELECT o_custkey, o_totalprice + {IVM_INS_BUMP} FROM orders
  WHERE o_orderkey % {IVM_INS_MOD} = 0)
SELECT o_custkey, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS sum_price
FROM current GROUP BY o_custkey ORDER BY o_custkey
"""


# -- rfm_segments ------------------------------------------------------------
# RFM (recency / frequency / monetary) customer segmentation — the
# classic warehouse cohort analysis, done WITHOUT a global ntile: each
# dimension's quintile boundaries come from the bounded
# histogram-refinement exact-quantile engine (operators/
# exact_quantile.py — the same quantile_cont statistic DuckDB
# computes, bit-for-bit), and scoring is then four broadcast-literal
# comparisons per dimension. No corpus-scale window or sort anywhere.
RFM_QS = (0.2, 0.4, 0.6, 0.8)

_RFM_CACHE = SessionCache()
_RFM_BOUNDS_CACHE = SessionCache()


def _rfm_relation(spark, sf):
    """Per-customer (recency_days, frequency, monetary_cents) relation,
    session-persisted: the exact-quantile engine scans it 2-3 times
    (stats pass + histogram round + bounded selection) before the
    final scoring aggregation reads it once more."""
    return _RFM_CACHE.get(spark, sf, lambda: _build_rfm_relation(spark, sf))


def _build_rfm_relation(spark, sf):
    # r15: the at-rest o_custkey-bucketed copy — the per-customer
    # combine inherits the scan's HashPartitioning, so the relation
    # builds with ZERO wide exchanges (SCALE.md r14 census: this
    # build held 4 custkey exchanges on raw orders). No parallelism
    # spread: per-row work is a date cast and a cents quantization.
    orders = load_orders_by_cust(spark, sf)
    cents = F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
    per_cust = orders.groupBy("o_custkey").agg(
        F.max(F.to_date("o_orderdate")).alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(cents).alias("monetary_cents"),
    )
    gmax = per_cust.agg(F.max("last_order").alias("gmax"))
    return per_cust.crossJoin(F.broadcast(gmax)).select(
        "o_custkey",
        F.datediff("gmax", "last_order").cast("bigint").alias("recency_days"),
        F.col("frequency").cast("bigint").alias("frequency"),
        F.col("monetary_cents").cast("bigint").alias("monetary_cents"),
    )


def q_rfm_segments(spark, sf):
    """RFM customer segmentation census: score each customer 1-5 on
    recency (5 = most recent), frequency, and monetary value, then
    report each (r, f, m) segment's size and exact metric totals —
    the cohort table behind churn/win-back targeting.

    Scale: the naive plan is ntile(5) OVER (ORDER BY metric) — a
    corpus-sized single-partition window, three times. Here each
    dimension's 4 quintile boundaries come from the bounded
    histogram-refinement engine (operators/exact_quantile.py: fused
    stats pass + ≤ targets×2048-row histogram shuffles + one bounded
    selection window — executors never hold more than `cap` values),
    and scoring is 12 literal comparisons fused into the final
    map-side-combined ≤125-cell aggregation. Works unchanged on 10^9
    customers.

    Determinism: metrics are exact integers (cents via the package's
    floor(x*100+0.5) convention, dates at UTC midnight); boundaries
    are quantile_cont doubles the engine reproduces bit-for-bit vs
    DuckDB (tests/test_exact_quantile.py); scores compare an exact
    integer against that shared double — same branch in both engines.
    """
    from data_validator_spark.operators.exact_quantile import (
        QuantileSpec,
        exact_quantiles,
    )

    rfm = _rfm_relation(spark, sf)
    # Boundaries are a deterministic pure function of the dataset, so
    # they join the session-cache tier like the trigram model and the
    # IVF centroids (r15): the engine's sequential refinement jobs run
    # once per (application, dataset) — in production, once per
    # at-rest refresh — instead of on every execution. A same-path
    # rewrite of the source moves its file signature, and the next
    # cache access evicts them with the relation they derive from
    # before either is rebuilt (SessionCache).
    res = _RFM_BOUNDS_CACHE.get(
        spark,
        sf,
        lambda: exact_quantiles(
            rfm,
            [
                QuantileSpec(c, F.col(c), RFM_QS)
                for c in ("recency_days", "frequency", "monetary_cents")
            ],
        ),
    )

    def band(col: str):
        s = F.lit(1)
        for b in res[col].values:
            s = s + (F.col(col) > F.lit(float(b))).cast("int")
        return s

    scored = rfm.select(
        (F.lit(6) - band("recency_days")).alias("r_score"),
        band("frequency").alias("f_score"),
        band("monetary_cents").alias("m_score"),
        "recency_days",
        "frequency",
        "monetary_cents",
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("recency_days").alias("recency_days_sum"),
            F.sum("frequency").alias("frequency_sum"),
            F.sum("monetary_cents").alias("monetary_cents_sum"),
        )
        .select(
            (
                F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score")
            ).alias("segment"),
            "r_score",
            "f_score",
            "m_score",
            "n_customers",
            "recency_days_sum",
            "frequency_sum",
            "monetary_cents_sum",
        )
        .orderBy("segment")
    )


def _sql_rfm_segments() -> str:
    qlist = "[" + ", ".join(str(q) for q in RFM_QS) + "]"

    def band(col: str, arr: str) -> str:
        return " + ".join(
            f"CAST({col} > {arr}[{i}] AS INT)" for i in range(1, len(RFM_QS) + 1)
        )

    return f"""
WITH pc AS (
  SELECT o_custkey,
         max(CAST(o_orderdate AS DATE)) AS last_order,
         count(*) AS frequency,
         sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS monetary_cents
  FROM orders GROUP BY o_custkey),
g AS (SELECT max(last_order) AS gmax FROM pc),
r AS (SELECT o_custkey,
             CAST(date_diff('day', last_order, gmax) AS BIGINT) AS recency_days,
             CAST(frequency AS BIGINT) AS frequency,
             CAST(monetary_cents AS BIGINT) AS monetary_cents
      FROM pc, g),
q AS (SELECT quantile_cont(recency_days, {qlist}) AS rq,
             quantile_cont(frequency, {qlist}) AS fq,
             quantile_cont(monetary_cents, {qlist}) AS mq
      FROM r),
s AS (SELECT CAST(6 - (1 + {band("recency_days", "rq")}) AS INT) AS r_score,
             CAST(1 + {band("frequency", "fq")} AS INT) AS f_score,
             CAST(1 + {band("monetary_cents", "mq")} AS INT) AS m_score,
             recency_days, frequency, monetary_cents
      FROM r, q)
SELECT r_score * 100 + f_score * 10 + m_score AS segment,
       r_score, f_score, m_score,
       count(*) AS n_customers,
       CAST(sum(recency_days) AS BIGINT) AS recency_days_sum,
       CAST(sum(frequency) AS BIGINT) AS frequency_sum,
       CAST(sum(monetary_cents) AS BIGINT) AS monetary_cents_sum
FROM s GROUP BY 1, 2, 3, 4 ORDER BY segment
"""


# -- orders_cohort_retention ---------------------------------------------------
def q_orders_cohort_retention(spark, sf):
    """Cohort retention/LTV matrix over orders: customers grouped by
    first-order month (the cohort), each cohort's activity and exact
    revenue tracked at k months since acquisition — the table behind
    every retention curve and LTV projection, done without a single
    corpus-scale window.

    Scale (r15): months collapse to integer month indexes in-row; the
    source is the at-rest o_custkey-bucketed orders copy, so the
    first-order-month groupBy(custkey) AND the key-to-key join back
    both ride the scan's HashPartitioning — zero custkey exchanges
    (the r14 census counted 2 on raw orders); the matrix census is
    one more aggregation over ≤ |months|² cells with a two-phase
    distinct for active-customer counts.

    Determinism: month index = year*12 + month - 1 (pure integers),
    revenue in exact cents via the package floor(x*100+0.5) rule."""
    # no parallelism spread: in-row month indexes are trivial — the
    # per-customer combine is the first real stage (the r7 A/B rule)
    orders = load_orders_by_cust(spark, sf)
    per = orders.select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).alias("m"),
        F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").alias("cents"),
    )
    first = per.groupBy("o_custkey").agg(F.min("m").alias("m0"))
    joined = per.join(first, "o_custkey")
    cells = joined.groupBy(
        "m0", (F.col("m") - F.col("m0")).alias("months_since")
    ).agg(
        F.countDistinct("o_custkey").alias("n_active"),
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").alias("revenue_cents"),
    )
    return cells.select(
        F.concat(
            F.expr("CAST(m0 div 12 AS STRING)"),
            F.lit("-"),
            F.lpad(F.expr("CAST(m0 % 12 + 1 AS STRING)"), 2, "0"),
        ).alias("cohort_month"),
        F.col("months_since").cast("int").alias("months_since"),
        F.col("n_active").cast("bigint").alias("n_active"),
        "n_orders",
        F.col("revenue_cents").cast("bigint").alias("revenue_cents"),
    ).orderBy("cohort_month", "months_since")


SQL_ORDERS_COHORT_RETENTION = """
WITH per AS (
  SELECT o_custkey,
         year(o_orderdate) * 12 + month(o_orderdate) - 1 AS m,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders),
first AS (SELECT o_custkey, min(m) AS m0 FROM per GROUP BY o_custkey),
joined AS (SELECT p.o_custkey, p.m, p.cents, f.m0
           FROM per p JOIN first f USING (o_custkey)),
cells AS (
  SELECT m0, m - m0 AS months_since,
         count(DISTINCT o_custkey) AS n_active,
         count(*) AS n_orders,
         CAST(sum(cents) AS BIGINT) AS revenue_cents
  FROM joined GROUP BY 1, 2)
SELECT CAST(m0 // 12 AS VARCHAR) || '-' || lpad(CAST(m0 % 12 + 1 AS VARCHAR), 2, '0')
         AS cohort_month,
       CAST(months_since AS INT) AS months_since,
       CAST(n_active AS BIGINT) AS n_active,
       n_orders,
       revenue_cents
FROM cells ORDER BY cohort_month, months_since
"""


QUERIES = {
    "cdc_upsert": q_cdc_upsert,
    "scd2_intervals": q_scd2_intervals,
    "ivm_agg": q_ivm_agg,
    "rfm_segments": q_rfm_segments,
    "orders_cohort_retention": q_orders_cohort_retention,
}

ORACLES = {
    "cdc_upsert": SQL_CDC_UPSERT,
    "scd2_intervals": SQL_SCD2_INTERVALS,
    "ivm_agg": SQL_IVM_AGG,
    "rfm_segments": _sql_rfm_segments(),
    "orders_cohort_retention": SQL_ORDERS_COHORT_RETENTION,
}
