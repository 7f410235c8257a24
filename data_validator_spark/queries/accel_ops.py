"""Join-acceleration and ordered-analytics operators — Bloom-filter
semi-join pre-filtering (the runtime-filter pattern Spark applies to
shuffle joins, made explicit and auditable), Pareto-skyline extraction
(linear window formulation, never the O(n²) dominance self-join), and
trailing rolling-window statistics over the hourly event grid.

Same package conventions as mining_ops.py: declarative DataFrame API,
map-side partial aggregation, 60-bit md5-prefix hashes, decimal(30,6)
exact sums, integer comparisons wherever a float compare could differ
by an ulp between engines.

Parity note: the reference engine (target/data-validator,
ValidatorTable.scala:1) has no join-optimization or retrieval
surface; these rows extend it per the build brief, mirroring Spark's
own runtime bloom filter, classic skyline queries, and the RRF merge
used by hybrid retrieval systems.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from data_validator_spark.functions.text import hash60, tokens
from data_validator_spark.queries import (
    DEC,
    _sql_hash60,
    load,
    load_documents_by_id,
)

# -- bloom_filter_semijoin -------------------------------------------------
BLOOM_M = 16384  # bits
BLOOM_K = 3      # hash functions
BLOOM_SEGMENT = "BUILDING"


def _bloom_pos(col, j: int):
    return F.pmod(
        hash60(F.concat(F.lit(f"bf{j}:"), col.cast("string"))), F.lit(BLOOM_M)
    )


def q_bloom_filter_semijoin(spark, sf):
    """Bloom-filter pre-filtering of a fact table by a dimension
    predicate (orders of BUILDING-segment customers), audited against
    the exact semi-join: total orders, bloom-pass count, exact count,
    and the false-positive overshoot (Bloom filters never drop a true
    match, so bloom_pass >= exact always).

    Scale shape: the filter state is the SET-BIT relation — at most
    min(k·|dim|, m) = 16384 rows regardless of dimension size — built
    with one map-side-combined distinct and broadcast to ALL probe
    joins; the fact side is read ONCE: three broadcast left joins
    (one per hash) plus the broadcast key join attach presence flags
    in a pure map stage (no fact shuffle), and one fused aggregate
    emits total/pass/exact together. This is exactly the runtime
    bloom filter Spark injects under
    spark.sql.optimizer.runtime.bloomFilter.enabled, expressed as an
    explicit, engine-checkable plan — with the audit riding the same
    single scan. The exact-audit column does broadcast the filtered
    dim keys (SF-proportional — the one deliberate exception to the
    q7 no-hint rule): the AUDIT needs the exact count next to the
    bloom count without a second fact pass; a production deployment
    keeps only the bounded bloom relation and drops the exact column,
    which is precisely what this operator exists to justify.

    Determinism: bit positions are 60-bit md5 hashes mod m — exact
    integer arithmetic, identical in both engines.
    """
    cust = load(spark, sf, "customer")
    # r19: the fact scan rides the o_orderkey-bucketed orders copy —
    # its bucket files (a dataset-sized count, bucketing.dataset_buckets;
    # 32 when this was measured) feed the probe-map stage directly,
    # replacing the spread() round-robin exchange (A/B at sf0.1 0.63s →
    # 0.54s best-of-5, row-identical). Any orders layout serves: the probes
    # are per-row map work with no key requirement.
    from data_validator_spark.operators.bucketing import bucketed_fact

    orders = bucketed_fact(spark, sf, "orders", "o_orderkey").select("o_custkey")
    dim = cust.where(F.col("c_mktsegment") == BLOOM_SEGMENT).select("c_custkey")
    bits = (
        dim.select(
            F.explode(
                F.array(*[_bloom_pos(F.col("c_custkey"), j) for j in range(BLOOM_K)])
            ).alias("pos")
        )
        .distinct()
    )
    probed = orders.select(
        "o_custkey",
        *[_bloom_pos(F.col("o_custkey"), j).alias(f"p{j}") for j in range(BLOOM_K)],
    )
    for j in range(BLOOM_K):
        marker = bits.select(F.col("pos").alias(f"p{j}"), F.lit(1).alias(f"hit{j}"))
        probed = probed.join(F.broadcast(marker), f"p{j}", "left")
    probed = probed.join(
        F.broadcast(dim.select("c_custkey", F.lit(1).alias("ex"))),
        probed.o_custkey == F.col("c_custkey"),
        "left",
    )
    bloom_pass = F.lit(True)
    for j in range(BLOOM_K):
        bloom_pass = bloom_pass & F.col(f"hit{j}").isNotNull()
    return probed.agg(
        F.count("*").alias("n_orders"),
        F.sum(bloom_pass.cast("long")).alias("n_bloom_pass"),
        F.sum(F.col("ex").isNotNull().cast("long")).alias("n_exact"),
        (
            F.sum(bloom_pass.cast("long")) - F.sum(F.col("ex").isNotNull().cast("long"))
        ).alias("n_false_pos"),
    )


def _sql_bloom() -> str:
    def pos(expr: str, j: int) -> str:
        inner = f"'bf{j}:' || CAST({expr} AS VARCHAR)"
        return f"{_sql_hash60(inner)} % {BLOOM_M}"

    probes = " AND ".join(
        f"{pos('o_custkey', j)} IN (SELECT pos FROM bits)" for j in range(BLOOM_K)
    )
    arms = " UNION ALL ".join(
        f"SELECT {pos('c_custkey', j)} AS pos FROM dim" for j in range(BLOOM_K)
    )
    return f"""
WITH dim AS (SELECT c_custkey FROM customer WHERE c_mktsegment = '{BLOOM_SEGMENT}'),
bits AS (SELECT DISTINCT pos FROM ({arms})),
n_pass AS (SELECT COUNT(*) AS n_bloom_pass FROM orders WHERE {probes}),
n_exact AS (SELECT COUNT(*) AS n_exact FROM orders
            WHERE o_custkey IN (SELECT c_custkey FROM dim)),
n_all AS (SELECT COUNT(*) AS n_orders FROM orders)
SELECT n_orders, n_bloom_pass, n_exact,
       n_bloom_pass - n_exact AS n_false_pos
FROM n_all CROSS JOIN n_pass CROSS JOIN n_exact
"""


# -- pareto_skyline --------------------------------------------------------
def q_pareto_skyline(spark, sf):
    """Pareto-skyline extraction over documents: the frontier that
    maximizes vocabulary size (distinct tokens) while minimizing
    length (n_chars) — the multi-objective data-selection primitive
    ("shortest doc at each quality level").

    Scale shape: NEVER the quadratic NOT-EXISTS dominance self-join.
    Per-doc distinct counts come from one map-side-combined groupBy;
    equal-length ties collapse via a per-length max (groupBy n_chars —
    the relation is already |lengths|-bounded); the strict-dominance
    test is then ONE running-max window over the length-sorted
    relation (RANGE .. 1 PRECEDING), linear in the candidate count
    with a single shuffle. Integer objectives only — no float compare
    can disagree between engines.

    A doc is on the skyline iff no other doc has (>= vocab, <= chars)
    with one strict: equivalently its vocab strictly exceeds the best
    vocab among all STRICTLY shorter docs, and it achieves the max
    vocab for its own length.
    """
    df = load_documents_by_id(spark, sf)
    toks = df.select("doc_id", F.explode(tokens(F.col("text"))).alias("t")).where(F.length("t") > 0)
    vocab = toks.groupBy("doc_id").agg(F.countDistinct("t").alias("v"))
    docs = df.select("doc_id", "n_chars").join(vocab, "doc_id")
    best_at_len = docs.groupBy("n_chars").agg(F.max("v").alias("v_max"))
    w = Window.orderBy("n_chars").rangeBetween(Window.unboundedPreceding, -1)
    frontier_lens = (
        best_at_len.withColumn(
            "v_shorter", F.coalesce(F.max("v_max").over(w), F.lit(-1))
        )
        .where(F.col("v_max") > F.col("v_shorter"))
        .select(F.col("n_chars").alias("f_chars"), F.col("v_max").alias("f_v"))
    )
    return (
        docs.join(
            F.broadcast(frontier_lens),
            (F.col("n_chars") == F.col("f_chars")) & (F.col("v") == F.col("f_v")),
        )
        .select("doc_id", "n_chars", F.col("v").alias("n_distinct_tokens"))
        .orderBy("n_chars", "doc_id")
    )


SQL_PARETO = r"""
WITH toks AS (
  SELECT doc_id, t FROM (
    SELECT doc_id, unnest(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS t
    FROM documents)
  WHERE length(t) > 0),
vocab AS (SELECT doc_id, COUNT(DISTINCT t) AS v FROM toks GROUP BY doc_id),
docs AS (SELECT d.doc_id, d.n_chars, vocab.v
         FROM documents d JOIN vocab USING (doc_id)),
best_at_len AS (SELECT n_chars, MAX(v) AS v_max FROM docs GROUP BY n_chars),
frontier_lens AS (
  SELECT n_chars, v_max FROM (
    SELECT n_chars, v_max,
           COALESCE(MAX(v_max) OVER (ORDER BY n_chars
               RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) AS v_shorter
    FROM best_at_len)
  WHERE v_max > v_shorter)
SELECT d.doc_id, d.n_chars, d.v AS n_distinct_tokens
FROM docs d JOIN frontier_lens f ON d.n_chars = f.n_chars AND d.v = f.v_max
ORDER BY d.n_chars, d.doc_id
"""


# -- events_rolling --------------------------------------------------------
ROLL_HOURS = 24


def q_events_rolling(spark, sf):
    """Trailing 24-hour rolling statistics per event type on the
    hourly series: event count and exact value sum over the RANGE
    window [h-23, h] — the moving-average monitor primitive
    (dashboards, alert baselines).

    Scale shape: the raw stream collapses FIRST to the (type, hour)
    grid via one map-side-combined groupBy; the rolling window then
    runs at grid scale (rate-independent) as a RANGE frame over the
    integer hour key, one shuffle keyed by type. RANGE (not ROWS)
    makes gap hours contribute nothing without materializing them.

    Determinism: rolling sums accumulate the per-hour DECIMAL sums in
    decimal — exact and order-independent; the rolling count is
    integer; the emitted double is one final cast.
    """
    # no parallelism spread — trivial per-row bucketing, map-side
    # combined hourly groupBy (drift_psi rule; A/B 0.74s vs 0.42s, r7)
    ev = load(spark, sf, "events").select("event_type", "ts", "value")
    hourly = (
        ev.select(
            "event_type",
            F.expr("unix_timestamp(ts) div 3600").alias("h"),
            "value",
        )
        .groupBy("event_type", "h")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("value").cast(DEC)).alias("sum_value"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rangeBetween(-(ROLL_HOURS - 1), 0)
    )
    return hourly.select(
        "event_type",
        "h",
        "cnt",
        F.sum("cnt").over(w).alias("roll_cnt"),
        F.sum("sum_value").over(w).cast("double").alias("roll_sum_value"),
    )


SQL_ROLLING = f"""
WITH hourly AS (
  SELECT event_type,
         CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
         COUNT(*) AS cnt,
         SUM(CAST(value AS DECIMAL(30,6))) AS sum_value
  FROM events GROUP BY event_type, CAST(floor(epoch(ts)) AS BIGINT) // 3600)
SELECT event_type, h, cnt,
       CAST(SUM(cnt) OVER w AS BIGINT) AS roll_cnt,
       CAST(SUM(sum_value) OVER w AS DOUBLE) AS roll_sum_value
FROM hourly
WINDOW w AS (PARTITION BY event_type ORDER BY h
             RANGE BETWEEN {ROLL_HOURS - 1} PRECEDING AND CURRENT ROW)
ORDER BY event_type, h
"""


# -- rrf_fusion ------------------------------------------------------------
RRF_K = 60
RRF_CAND = 100
RRF_TOPK = 20
RRF_TERMS = ["spark", "query", "window", "stream"]  # corpus_ops.BM25_TERMS


def q_rrf_fusion(spark, sf):
    """Reciprocal-rank fusion of two retrieval rankings (the RAG
    candidate-merge step): a keyword-relevance ranker (total query-term
    tf) fused with a quality ranker (vocabulary size), scored
    rrf = Σ 1/(60 + rank) over the lists each doc appears in.

    Scale shape: fusion happens on CANDIDATE LISTS, never the corpus —
    each ranker's top-100 comes from orderBy+limit, which Spark
    executes as TakeOrderedAndProject (per-partition heaps, no global
    sort partition); ranks are then assigned inside the 100-row
    candidate relations (a constant-size window), and the fusion join
    is candidates×candidates. The corpus is scanned once for both
    score projections (shared token relation).

    Determinism: both rankers order by (integer score desc, doc_id) —
    no float keys; rrf adds two exact 1/(60+int) doubles in fixed
    order; final ties break on doc_id.
    """
    df = load_documents_by_id(spark, sf)
    toks = df.select("doc_id", F.explode(tokens(F.col("text"))).alias("t")).where(F.length("t") > 0)
    scores = toks.groupBy("doc_id").agg(
        F.sum(F.col("t").isin(RRF_TERMS).cast("long")).alias("rel"),
        F.countDistinct("t").alias("qual"),
    )

    def ranked(col: str, alias: str):
        cand = scores.orderBy(F.desc(col), "doc_id").limit(RRF_CAND)
        w = Window.orderBy(F.desc(col), "doc_id")
        return cand.select("doc_id", F.row_number().over(w).alias(alias))

    a = ranked("rel", "rank_rel")
    b = ranked("qual", "rank_qual")
    fused = a.join(b, "doc_id", "full_outer").select(
        "doc_id",
        "rank_rel",
        "rank_qual",
        (
            F.coalesce(1.0 / (F.lit(RRF_K) + F.col("rank_rel")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(RRF_K) + F.col("rank_qual")), F.lit(0.0))
        ).alias("rrf"),
    )
    return (
        fused.select(
            "doc_id",
            "rank_rel",
            "rank_qual",
            F.col("rrf").cast(DEC).cast("double").alias("rrf"),
        )
        .orderBy(F.desc("rrf"), "doc_id")
        .limit(RRF_TOPK)
    )


def _sql_rrf() -> str:
    terms = ", ".join(f"'{t}'" for t in RRF_TERMS)
    return f"""
WITH toks AS (
  SELECT doc_id, t FROM (
    SELECT doc_id, unnest(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) AS t
    FROM documents)
  WHERE length(t) > 0),
scores AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN t IN ({terms}) THEN 1 ELSE 0 END) AS BIGINT) AS rel,
         COUNT(DISTINCT t) AS qual
  FROM toks GROUP BY doc_id),
a AS (
  SELECT doc_id, rn AS rank_rel FROM (
    SELECT doc_id, row_number() OVER (ORDER BY rel DESC, doc_id) AS rn
    FROM scores) WHERE rn <= {RRF_CAND}),
b AS (
  SELECT doc_id, rn AS rank_qual FROM (
    SELECT doc_id, row_number() OVER (ORDER BY qual DESC, doc_id) AS rn
    FROM scores) WHERE rn <= {RRF_CAND}),
fused AS (
  SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id, a.rank_rel, b.rank_qual,
         COALESCE(CAST(1.0 AS DOUBLE) / ({RRF_K} + a.rank_rel), 0.0)
         + COALESCE(CAST(1.0 AS DOUBLE) / ({RRF_K} + b.rank_qual), 0.0) AS rrf
  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
SELECT doc_id, rank_rel, rank_qual,
       CAST(CAST(rrf AS DECIMAL(30,6)) AS DOUBLE) AS rrf
FROM fused ORDER BY rrf DESC, doc_id LIMIT {RRF_TOPK}
"""


QUERIES = {
    "bloom_filter_semijoin": q_bloom_filter_semijoin,
    "pareto_skyline": q_pareto_skyline,
    "events_rolling": q_events_rolling,
    "rrf_fusion": q_rrf_fusion,
}

ORACLES = {
    "bloom_filter_semijoin": _sql_bloom(),
    "pareto_skyline": SQL_PARETO,
    "events_rolling": SQL_ROLLING,
    "rrf_fusion": _sql_rrf(),
}
