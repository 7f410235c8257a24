"""Data-quality audit operators beyond the reference's per-column
checks — distribution drift (PSI and two-sample KS), referential
integrity, Benford first-digit conformance, order/line
reconciliation, train/eval n-gram contamination, the fused
multi-signal quality ensemble, and CCNet-style perplexity
segmentation.

These extend the reference validator surface (target/data-validator
covers per-column checks only — ValidatorTable.scala:1, RowBased.scala:1)
with the table-level audits a production data platform runs next to
them: drift between snapshots, FK orphan detection, fraud-style digit
analysis, cross-table reconciliation, and the train/eval leakage scan
an LLM corpus pipeline needs (n-gram granularity; the exact-fingerprint
variant is ``split_contamination``).

Same conventions as the rest of the package: declarative plans with
map-side partial aggregation, 60-bit md5 hashes, decimal(30,6) exact
sums, DEC-rounded doubles so a 1-ulp ``ln()`` difference between
engines cannot flip the value hash.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from data_validator_spark.functions.text import hash60, tokens
from data_validator_spark.queries import (
    DEC,
    SessionCache,
    _sql_hash60,
    load,
    load_documents_by_id,
    row_count,
)
from data_validator_spark.queries.textops import (
    SQL_SPLIT_BUCKET,
    TRAIN_CUT,
    VAL_CUT,
    split_bucket,
)

# -- drift_psi -------------------------------------------------------------
PSI_PIVOT = "1998-07-01"  # reference = ships before, current = after
PSI_BUCKETS = 10
# exact integer cents of the audited price, in both engines' SQL
PSI_CENTS = "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"


def q_drift_psi(spark, sf):
    """Population-stability-index drift audit of l_extendedprice
    between two lineitem snapshots (shipped before vs after the
    pivot date) — the standard model-monitoring drift check, applied
    table-to-table: 10 equi-width buckets over the shared value
    range, add-1 smoothed shares, per-bucket PSI terms
    (p-q)·ln(p/q).

    Scale shape: TWO full-table map stages and zero wide shuffles —
    scan 1 is one fused aggregate (global min/max cents + both
    population totals), broadcast as a scalar; scan 2 buckets every
    row against those constants and collapses via a
    map-side-combined groupBy to ≤10 rows. The 10-row bucket spine
    left-join guarantees a dense grid in both engines.

    Determinism: bucketing runs on exact integer cents
    (floor(x·100+0.5), the embedding_norm_quant rounding rule) with
    integer div, so no float compare can place a row differently;
    the smoothed shares are single exact int/int divisions and the
    ln() product rounds through decimal(30,6).
    """
    # no parallelism spread: the per-row work (one multiply + one
    # compare) is trivial, so the map-side combine IS the first real
    # stage — a round-robin exchange here costs more than it unblocks
    # (A/B measured 1.27s vs 0.54s at sf0.1, r7). r19 ALSO measured
    # and REJECTED the bucketed-copy scan ride here: a probe-session
    # A/B looked favorable (0.67→0.51s), but under the driver's own
    # bench methodology the switch ran 0.45→0.75-0.78s across four
    # runs in two sessions — two sequential trivial-per-row passes
    # each pay the ~0.1s/task shuffle-free stage floor on the 32
    # bucket files copies then had, where the raw 1-split scan pays it
    # once (the col_quantiles/mad_outliers class,
    # history/OPTIMIZATION_r19.md §3).
    li = load(spark, sf, "lineitem").select("l_extendedprice", "l_shipdate")
    cents = F.expr(PSI_CENTS)
    is_ref = F.col("l_shipdate") < F.lit(PSI_PIVOT)
    base = li.select(cents.alias("cents"), is_ref.alias("is_ref"))
    stats = base.agg(
        F.min("cents").alias("minc"),
        F.max("cents").alias("maxc"),
        F.sum(F.col("is_ref").cast("long")).alias("ref_tot"),
        F.sum((~F.col("is_ref")).cast("long")).alias("cur_tot"),
    )
    bucket = F.least(
        F.lit(PSI_BUCKETS - 1),
        F.expr(f"((cents - minc) * {PSI_BUCKETS}) div (maxc - minc + 1)"),
    )
    counts = (
        base.crossJoin(F.broadcast(stats))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.sum(F.col("is_ref").cast("long")).alias("ref_cnt"),
            F.sum((~F.col("is_ref")).cast("long")).alias("cur_cnt"),
        )
    )
    totals = stats.select(F.col("ref_tot").alias("rt"), F.col("cur_tot").alias("ct"))
    return psi_terms(spark, totals, counts)


def psi_terms(spark, totals, *counts):
    """The PSI assembly of drift_psi and its streaming twin: the dense
    PSI_BUCKETS spine left-joined to the per-bucket count relations
    (``counts`` carry ref_cnt / cur_cnt by bucket; an empty bucket
    counts 0), the 1-row ``totals`` (rt, ct), add-1 smoothed shares
    p / q and the per-bucket term (p-q)·ln(p/q). Every input is a
    ≤PSI_BUCKETS-row relation, so all joins broadcast."""
    grid = spark.range(PSI_BUCKETS).select(F.col("id").alias("bucket"))
    for c in counts:
        grid = grid.join(F.broadcast(c), "bucket", "left")
    full = grid.crossJoin(F.broadcast(totals)).select(
        "bucket",
        F.coalesce("ref_cnt", F.lit(0)).alias("ref_cnt"),
        F.coalesce("cur_cnt", F.lit(0)).alias("cur_cnt"),
        F.col("rt"),
        F.col("ct"),
    )
    p = (F.col("ref_cnt") + 1).cast("double") / (
        F.col("rt") + PSI_BUCKETS
    ).cast("double")
    q = (F.col("cur_cnt") + 1).cast("double") / (
        F.col("ct") + PSI_BUCKETS
    ).cast("double")
    return full.select(
        "bucket",
        "ref_cnt",
        "cur_cnt",
        p.cast(DEC).cast("double").alias("ref_share"),
        q.cast(DEC).cast("double").alias("cur_share"),
        ((p - q) * F.log(p / q)).cast(DEC).cast("double").alias("psi_term"),
    ).orderBy("bucket")


# Oracle side of psi_terms, over a ``counts`` CTE (bucket, ref_cnt,
# cur_cnt) and a 1-row ``stats`` CTE (ref_tot, cur_tot).
SQL_PSI_TERMS = f"""spine AS (SELECT unnest(range(0, {PSI_BUCKETS})) AS bucket),
grid AS (
  SELECT s.bucket,
         COALESCE(c.ref_cnt, 0) AS ref_cnt,
         COALESCE(c.cur_cnt, 0) AS cur_cnt,
         stats.ref_tot AS rt, stats.cur_tot AS ct
  FROM spine s LEFT JOIN counts c ON s.bucket = c.bucket, stats),
shares AS (
  SELECT bucket, ref_cnt, cur_cnt,
         CAST(ref_cnt + 1 AS DOUBLE) / (rt + {PSI_BUCKETS}) AS p,
         CAST(cur_cnt + 1 AS DOUBLE) / (ct + {PSI_BUCKETS}) AS q
  FROM grid)
SELECT bucket, ref_cnt, cur_cnt,
       CAST(CAST(p AS DECIMAL(30,6)) AS DOUBLE) AS ref_share,
       CAST(CAST(q AS DECIMAL(30,6)) AS DOUBLE) AS cur_share,
       CAST(CAST((p - q) * ln(p / q) AS DECIMAL(30,6)) AS DOUBLE) AS psi_term
FROM shares ORDER BY bucket
"""

# The two populations in integer cents: shared with the streaming
# twin's oracle, which buckets them against the reference range only.
SQL_DRIFT_PSI_BASE = f"""base AS (
  SELECT {PSI_CENTS} AS cents,
         l_shipdate < TIMESTAMP '{PSI_PIVOT} 00:00:00' AS is_ref
  FROM lineitem)"""

SQL_DRIFT_PSI = f"""
WITH {SQL_DRIFT_PSI_BASE},
stats AS (
  SELECT MIN(cents) AS minc, MAX(cents) AS maxc,
         CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS ref_tot,
         CAST(SUM(CASE WHEN is_ref = false THEN 1 ELSE 0 END) AS BIGINT) AS cur_tot
  FROM base),
counts AS (
  SELECT LEAST({PSI_BUCKETS - 1},
               ((cents - minc) * {PSI_BUCKETS}) // (maxc - minc + 1)) AS bucket,
         CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS ref_cnt,
         CAST(SUM(CASE WHEN is_ref = false THEN 1 ELSE 0 END) AS BIGINT) AS cur_cnt
  FROM base, stats GROUP BY 1),
{SQL_PSI_TERMS}"""


# -- fk_integrity ----------------------------------------------------------
# (relation label, child table, child key, parent table, parent key)
FK_RELATIONS = [
    ("customer_nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("events_customer", "events", "user_id", "customer", "c_custkey"),
    ("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem_part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem_supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders_customer", "orders", "o_custkey", "customer", "c_custkey"),
]


# fact tables with an at-rest bucketed layout: the audit scans ride
# the copy for its SPLIT COUNT alone (one split per bucket file; the
# r17 fk profile, at 32 buckets, put 1.2s of the 2.6s wall on a 6-task
# child-scan stage of the raw scan). Bucket counts are now sized to
# the dataset (bucketing.dataset_buckets: 1 at sf0.01, 3 at sf0.1), so
# below ~128 MB the copy gives fewer splits than that. No exchange
# changes: the audit's groupBy/join shuffle on (tag, k) either way.
_AUDIT_SCAN_LAYOUT = {
    "lineitem": "l_orderkey",
    "orders": "o_orderkey",
    "customer": "c_custkey",
    "part": "p_partkey",
    "events": "user_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}


def _tagged_key_union(spark, sf, by_table):
    """ONE scan per table: every (tag, key-column) pair fans out
    in-row via an exploded tagged-struct array, so a table carrying
    several audited keys (lineitem carries 3 FK edges / 2 skew keys)
    is still read once. No parallelism spread: the explode is trivial
    per-row work and the downstream groupBy combines map-side
    (drift_psi rule; fk A/B 2.58s vs 2.09s, r7) — the split-count
    gap the spread would have papered over is closed by scanning the
    bucketed copies instead (_AUDIT_SCAN_LAYOUT, r17). Shared by
    q_fk_integrity (tags = FK edge labels) and q_key_skew_audit
    (tags = table.column names) so the injection-prone f-string
    builder exists exactly once."""
    from data_validator_spark.operators.bucketing import bucketed_fact

    tagged = None
    for table, arms in by_table.items():
        src = load(spark, sf, table)
        key = _AUDIT_SCAN_LAYOUT.get(table)
        if key is not None and key in src.columns:
            # schema pre-check: an ad-hoc audit corpus (tests, pruned
            # extracts) may lack the layout key — the audit must keep
            # working off the raw reader there
            src = bucketed_fact(spark, sf, table, key)
        arm_sql = ", ".join(
            f"struct('{tag}' AS tag, CAST({col} AS BIGINT) AS k)"
            for tag, col in arms
        )
        part = (
            src.select(*[col for _, col in arms])
            .select(F.explode(F.expr(f"array({arm_sql})")).alias("e"))
            .select("e.tag", "e.k")
        )
        tagged = part if tagged is None else tagged.unionByName(part)
    return tagged


def q_fk_integrity(spark, sf):
    """Referential-integrity audit over every foreign-key edge of the
    star schema: child row/key counts, orphan rows (child key absent
    from the parent), and what fraction of parent keys the children
    actually reference — the uniqueCheck's cross-table sibling
    (reference covers only within-table keys, UniqueCheck.scala:1).

    Scale shape: every child table is scanned ONCE — tables carrying
    several FK columns (lineitem carries 3) fan their keys out
    in-row via an exploded (relation, key) array, so the audit of
    all 6 edges costs 4 child scans total. The tagged child relation
    collapses to distinct (relation, key) rows with per-key counts
    (map-side combine) BEFORE the single verification join against
    the relation-tagged union of parent key sets — the whole audit
    is ONE shuffled FULL-OUTER join moving O(|keys|) rows, never
    O(|rows|), and one 6-row final aggregate — parent-key totals fall
    out of the same join (parent-only rows), so no separate per-parent
    count jobs exist at all.

    Determinism: pure integer counts; coverage_pct is one exact
    int/int division rounded through decimal(30,6).
    """
    by_child: dict[str, list] = {}
    for label, child, ckey, parent, pkey in FK_RELATIONS:
        by_child.setdefault(child, []).append((label, ckey))

    tagged = _tagged_key_union(spark, sf, by_child).select(
        F.col("tag").alias("rel"), "k"
    )
    child_keys = tagged.groupBy("rel", "k").agg(F.count(F.lit(1)).alias("n"))

    parents = None
    for label, _child, _ckey, parent, pkey in FK_RELATIONS:
        p = load(spark, sf, parent).select(
            F.lit(label).alias("rel"),
            F.col(pkey).cast("bigint").alias("k"),
            F.lit(1).alias("present"),
        )
        parents = p if parents is None else parents.unionByName(p)

    # FULL OUTER so parent-key totals fall out of the same join —
    # parent-only rows carry present=1/n=NULL, child-only rows the
    # reverse; no separate per-parent count jobs needed
    joined = child_keys.join(parents, ["rel", "k"], "full_outer")
    return (
        joined.groupBy("rel")
        .agg(
            F.sum("n").alias("n_child_rows"),
            F.sum(F.col("n").isNotNull().cast("long")).alias("n_child_keys"),
            F.sum(F.when(F.col("present").isNull(), F.col("n")).otherwise(0)).alias(
                "n_orphan_rows"
            ),
            F.sum(
                (F.col("n").isNotNull() & F.col("present").isNotNull()).cast("long")
            ).alias("n_matched_keys"),
            F.sum(F.col("present").isNotNull().cast("long")).alias("n_parent_keys"),
        )
        .select(
            F.col("rel").alias("relation"),
            "n_child_rows",
            "n_child_keys",
            "n_orphan_rows",
            "n_matched_keys",
            "n_parent_keys",
            (
                F.col("n_matched_keys").cast("double")
                * 100.0
                / F.col("n_parent_keys").cast("double")
            )
            .cast(DEC)
            .cast("double")
            .alias("coverage_pct"),
        )
        .orderBy("relation")
    )


def _sql_fk_integrity() -> str:
    arms = []
    for label, child, ckey, parent, pkey in FK_RELATIONS:
        arms.append(f"""
SELECT '{label}' AS relation,
       CAST(SUM(n) AS BIGINT) AS n_child_rows,
       COUNT(*) AS n_child_keys,
       CAST(SUM(CASE WHEN present IS NULL THEN n ELSE 0 END) AS BIGINT)
         AS n_orphan_rows,
       CAST(SUM(CASE WHEN present IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_matched_keys,
       (SELECT COUNT(*) FROM {parent}) AS n_parent_keys,
       CAST(CAST(CAST(SUM(CASE WHEN present IS NOT NULL THEN 1 ELSE 0 END)
                 AS DOUBLE) * 100.0 / (SELECT COUNT(*) FROM {parent})
            AS DECIMAL(30,6)) AS DOUBLE) AS coverage_pct
FROM (SELECT c.k, c.n, p.present
      FROM (SELECT {ckey} AS k, COUNT(*) AS n FROM {child} GROUP BY 1) c
      LEFT JOIN (SELECT {pkey} AS k, 1 AS present FROM {parent}) p
        ON c.k = p.k)""")
    return " UNION ALL ".join(arms) + " ORDER BY relation"


# -- benford_check ---------------------------------------------------------
# Expected Benford shares log10(1+1/d), rounded once in Python and
# embedded as identical literals in both engines.
BENFORD_EXPECTED = {d: round(math.log10(1.0 + 1.0 / d), 6) for d in range(1, 10)}


def q_benford_check(spark, sf):
    """Benford's-law first-digit audit of l_extendedprice — the
    classic fraud/corruption screen for financial columns: observed
    first-significant-digit shares vs log10(1+1/d), with absolute
    deviation and chi-square contribution per digit.

    Scale shape: ONE scan, one map-side-combined groupBy to ≤9 rows;
    the total for the share division comes from a window-free
    broadcast of the 9-row relation's own aggregate.

    Determinism: the first digit is extracted from the exact integer
    cents (floor(x·100+0.5) — ×100 never changes the leading
    significant digit) via string substring, identical in both
    engines; shares are single int/int divisions rounded through
    decimal(30,6).
    """
    # no parallelism spread — trivial per-row work, the digit groupBy
    # combines map-side (drift_psi rule; A/B 0.98s vs 0.43s, r7).
    # r19 measured and REJECTED the bucketed-copy ride here too:
    # driver-methodology runs went 0.415→0.44s (single trivial
    # per-row pass pays the 32-task stage floor once; the raw 1-split
    # scan is cheaper — drift_psi's class, see history/OPTIMIZATION_r19.md §3).
    li = load(spark, sf, "lineitem").select("l_extendedprice")
    cents = F.expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)")
    digits = (
        li.select(cents.alias("cents"))
        .where(F.col("cents") > 0)
        .select(F.substring(F.col("cents").cast("string"), 1, 1).cast("int").alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = digits.agg(F.sum("cnt").alias("total"))
    exp = F.create_map(
        *[x for d, e in BENFORD_EXPECTED.items() for x in (F.lit(d), F.lit(e))]
    )
    obs = F.col("cnt").cast("double") / F.col("total").cast("double")
    return (
        digits.crossJoin(F.broadcast(total))
        .select(
            "d",
            "cnt",
            obs.cast(DEC).cast("double").alias("obs_share"),
            exp[F.col("d")].alias("exp_share"),
            F.abs(obs - exp[F.col("d")]).cast(DEC).cast("double").alias("abs_dev"),
            ((obs - exp[F.col("d")]) * (obs - exp[F.col("d")]) / exp[F.col("d")])
            .cast(DEC)
            .cast("double")
            .alias("chi2_term"),
        )
        .orderBy("d")
    )


def _sql_benford() -> str:
    exp_case = " ".join(
        f"WHEN {d} THEN CAST({e!r} AS DOUBLE)" for d, e in BENFORD_EXPECTED.items()
    )
    return f"""
WITH digits AS (
  SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INTEGER) AS d,
         COUNT(*) AS cnt
  FROM (SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
        FROM lineitem)
  WHERE cents > 0 GROUP BY 1),
t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM digits),
j AS (
  SELECT d, cnt, CAST(cnt AS DOUBLE) / total AS obs,
         CASE d {exp_case} END AS exp
  FROM digits, t)
SELECT d, cnt,
       CAST(CAST(obs AS DECIMAL(30,6)) AS DOUBLE) AS obs_share,
       exp AS exp_share,
       CAST(CAST(abs(obs - exp) AS DECIMAL(30,6)) AS DOUBLE) AS abs_dev,
       CAST(CAST((obs - exp) * (obs - exp) / exp AS DECIMAL(30,6)) AS DOUBLE)
         AS chi2_term
FROM j ORDER BY d
"""


# -- reconciliation_check --------------------------------------------------
RECON_TOL_UNITS = 10000  # 0.01 in exact BIGINT micro-units (1e-6)


def q_reconciliation_check(spark, sf):
    """Cross-table reconciliation: does orders.o_totalprice equal the
    order's lineitem total Σ extprice·(1-disc)·(1+tax)? The
    accounting control every warehouse runs between a rollup table
    and its fact lines; emits match/mismatch counts and the
    magnitude of the disagreement. (On this synthetic data the
    generator does NOT derive o_totalprice from lineitem, so the
    audit reports 100% mismatch — exactly what it is built to
    surface.)

    Both tables are read through load(): a check reads its sources as
    they are on disk, never an at-rest copy that could be stale.

    Scale shape: lineitem collapses to per-order totals with ONE
    map-side-combined groupBy keyed on l_orderkey; the comparison
    join is then key-to-key on two same-keyed relations (AQE plans
    SMJ/shuffle-hash; no row-level data moves twice), and the
    verdict collapses in a single fused aggregate.

    Determinism: the per-line product is one fixed-order IEEE double
    expression (the TPC-H q1 convention) quantized to exact BIGINT
    micro-units (floor(x*1e6 + 0.5), every step exact in double and
    identical in both engines — the pagerank fixed-point rule). The
    per-order sum stays long-safe at ANY corpus size because the
    group is an ORDER (bounded line count), so the whole comparison —
    header minus line total against the tolerance — is exact integer
    arithmetic; only the corpus-wide sum-of-deviations at the end
    widens (decimal there, since a global sum has no bounded-group
    argument).
    """
    li = load(spark, sf, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount", "l_tax"
    )
    line_units = F.floor(
        F.expr("l_extendedprice * (1 - l_discount) * (1 + l_tax)") * F.lit(1000000.0)
        + F.lit(0.5)
    ).cast("long")
    computed = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.sum(line_units).alias("line_total")
    )
    orders = load(spark, sf, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.floor(F.col("o_totalprice") * F.lit(1000000.0) + F.lit(0.5))
        .cast("long")
        .alias("header"),
    )
    absdiff = F.abs(F.col("header") - F.col("line_total"))
    matched = absdiff <= F.lit(RECON_TOL_UNITS)
    return orders.join(computed, "k", "left").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("line_total").isNotNull().cast("long")).alias("n_with_lines"),
        F.sum((F.col("line_total").isNotNull() & matched).cast("long")).alias(
            "n_matched"
        ),
        F.sum((F.col("line_total").isNotNull() & ~matched).cast("long")).alias(
            "n_mismatched"
        ),
        (F.max(absdiff).cast("double") / F.lit(1000000.0)).alias("max_abs_diff"),
        (
            F.sum(absdiff.cast("decimal(30,0)")).cast("double") / F.lit(1000000.0)
        ).alias("sum_abs_diff"),
    )


SQL_RECONCILIATION = """
WITH computed AS (
  SELECT l_orderkey AS k,
         SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                        * 1000000.0 + 0.5) AS BIGINT)) AS line_total
  FROM lineitem GROUP BY 1),
j AS (
  SELECT c.line_total,
         abs(CAST(FLOOR(o.o_totalprice * 1000000.0 + 0.5) AS BIGINT)
             - c.line_total) AS ad
  FROM orders o LEFT JOIN computed c ON o.o_orderkey = c.k)
SELECT COUNT(*) AS n_orders,
       CAST(SUM(CASE WHEN line_total IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_with_lines,
       CAST(SUM(CASE WHEN line_total IS NOT NULL AND ad <= 10000
                THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
       CAST(SUM(CASE WHEN line_total IS NOT NULL AND ad > 10000
                THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatched,
       CAST(MAX(ad) AS DOUBLE) / 1000000.0 AS max_abs_diff,
       CAST(SUM(ad) AS DOUBLE) / 1000000.0 AS sum_abs_diff
FROM j
"""


# -- ngram_contamination ---------------------------------------------------
CONTAM_N = 5  # word n-gram width; 5 is the synthetic-vocab analog of
# the 8-13 gram windows used on natural text (the ~30-word generator
# vocabulary makes 8-grams near-unique, which would test nothing)


_CONTAM_TRAIN_CACHE = SessionCache()


def _contam_grams(spark, sf):
    """(doc_id, bucket, gh): every document's distinct-by-position word
    5-gram hashes with its split bucket — the shared input of both
    contamination sides (train builds its persisted distinct-gh
    relation from it, test its per-doc gram set)."""
    df = load_documents_by_id(spark, sf)
    bucket = split_bucket()
    toks = df.select(
        "doc_id",
        bucket.alias("bucket"),
        tokens(F.col("text")).alias("toks"),
    )
    return toks.select(
        "doc_id",
        "bucket",
        F.explode(
            F.expr(
                f"CASE WHEN size(toks) >= {CONTAM_N} THEN "
                f"transform(sequence(1, size(toks) - {CONTAM_N} + 1), "
                f" i -> array_join(slice(toks, i, {CONTAM_N}), ' ')) "
                "ELSE array() END"
            )
        ).alias("g"),
    ).select("doc_id", "bucket", hash60(F.col("g")).alias("gh"))


def q_ngram_contamination(spark, sf):
    """Train/eval n-gram contamination scan: for every TEST-split
    document, how many of its word 5-grams also occur anywhere in
    the TRAIN split — the n-gram-level leakage audit (GPT-3/PaLM
    style) that catches partial-overlap contamination exact
    fingerprints miss (`split_contamination` is the exact-dup
    variant; both derive the split from textops.split_bucket so
    they can never disagree on membership).

    Scale shape: n-grams are built in-row (transform over the
    materialized token array — the gopher_quality pattern) and
    immediately collapse to DISTINCT 60-bit hashes (map-side
    combine), so the join moves hashes, never text. The test side is
    ~1% of the corpus (AQE broadcasts it); the train side shuffles
    once on the hash key. Output is one row per test doc.

    Determinism: gram identity is the 60-bit md5 prefix of the
    joined token string; counts are integers, the contamination
    fraction one exact int/int division through decimal(30,6).
    """
    grams = _contam_grams(spark, sf)
    # train-gram relation: a pure function of the dataset (the split
    # hash is deterministic), rebuilt per run until r16 — the query's
    # dominant cost, since train is ~98% of the corpus. Session-persist
    # it like the LSH shingle relation (_HS_CACHE); the distinct leaves
    # it hash-partitioned on gh, exactly what the leakage join needs.
    train = _CONTAM_TRAIN_CACHE.get(
        spark,
        sf,
        lambda: grams.where(F.col("bucket") < TRAIN_CUT)
        .select("gh")
        .distinct()
        .select("gh", F.lit(1).alias("hit")),
    )
    test = grams.where(F.col("bucket") >= VAL_CUT).select("doc_id", "gh").distinct()
    per_doc = (
        test.join(train, "gh", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0)).cast("long")).alias(
                "n_contaminated"
            ),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_grams",
        "n_contaminated",
        (F.col("n_contaminated").cast("double") / F.col("n_grams").cast("double"))
        .cast(DEC)
        .cast("double")
        .alias("contam_frac"),
    )


SQL_NGRAM_CONTAMINATION = f"""
WITH toks AS (
  SELECT doc_id, {SQL_SPLIT_BUCKET} AS bucket,
         string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+') AS toks
  FROM documents),
grams AS (
  SELECT doc_id, bucket,
         {_sql_hash60("g")} AS gh
  FROM (
    SELECT doc_id, bucket,
           unnest(list_transform(range(1, len(toks) - {CONTAM_N} + 2),
             i -> list_aggregate(toks[CAST(i AS INTEGER):CAST(i AS INTEGER) + {CONTAM_N} - 1],
                                 'string_agg', ' '))) AS g
    FROM toks WHERE len(toks) >= {CONTAM_N})),
train AS (SELECT DISTINCT gh FROM grams WHERE bucket < {TRAIN_CUT}),
test AS (SELECT DISTINCT doc_id, gh FROM grams WHERE bucket >= {VAL_CUT}),
per_doc AS (
  SELECT t.doc_id, COUNT(*) AS n_grams,
         CAST(SUM(CASE WHEN tr.gh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_contaminated
  FROM test t LEFT JOIN train tr ON t.gh = tr.gh
  GROUP BY t.doc_id)
SELECT doc_id, n_grams, n_contaminated,
       CAST(CAST(CAST(n_contaminated AS DOUBLE) / n_grams AS DECIMAL(30,6))
            AS DOUBLE) AS contam_frac
FROM per_doc ORDER BY doc_id
"""


# -- drift_ks --------------------------------------------------------------
def q_drift_ks(spark, sf):
    """Two-sample Kolmogorov–Smirnov drift statistic between the same
    two lineitem snapshots as `drift_psi` (shipped before vs after
    the pivot): D = max |ECDF_ref − ECDF_cur| over l_extendedprice —
    the non-parametric drift test that needs no bucket choice, so it
    catches shape changes PSI's 10 buckets can smooth over.

    Scale shape: the stream collapses FIRST to distinct integer cents
    with per-population counts (map-side combine) — the ordered ECDF
    pass then runs over the DISTINCT-VALUE relation, which is bounded
    by the price domain (cents within a fixed business range), not by
    corpus size, so the single-partition cumulative window is
    constant-bounded at any SF (the pareto_skyline justification).
    r18: the scan reads the at-rest bucketed lineitem copy — same
    rows, but laid out as one file per bucket, so the scan+partial-agg
    stage parallelizes across the bucket files instead of running as
    ONE task over the single-file source (the r7 spread() A/B
    correctly rejected a round-robin exchange here — 1.58s vs 1.03s —
    but the copy gives the parallelism without any exchange: measured
    1.03-1.42s → 0.82-0.83s warm at sf0.1).

    Determinism: cumulative counts are exact integers; each ECDF
    difference is two exact int/int divisions and one subtraction,
    bit-identical in both engines; the max of identical doubles picks
    the identical value, rounded through decimal(30,6) on emit.
    """
    from pyspark.sql import Window

    from data_validator_spark.operators.bucketing import bucketed_fact

    li = bucketed_fact(spark, sf, "lineitem", "l_orderkey").select(
        "l_extendedprice", "l_shipdate"
    )
    cents = F.expr(PSI_CENTS)
    is_ref = F.col("l_shipdate") < F.lit(PSI_PIVOT)
    dist = (
        li.select(cents.alias("cents"), is_ref.alias("is_ref"))
        .groupBy("cents")
        .agg(
            F.sum(F.col("is_ref").cast("long")).alias("n_ref"),
            F.sum((~F.col("is_ref")).cast("long")).alias("n_cur"),
        )
    )
    # totals come from a FULL-frame window over the same sorted
    # partition as the cumulative ECDF — one pass over the collapsed
    # relation instead of a second aggregate branch + crossJoin
    # broadcast (r8; the branch cost a separate traversal of dist)
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    wf = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ecdf = dist.select(
        "cents",
        F.sum("n_ref").over(w).alias("cum_ref"),
        F.sum("n_cur").over(w).alias("cum_cur"),
        F.sum("n_ref").over(wf).alias("rt"),
        F.sum("n_cur").over(wf).alias("ct"),
        F.count(F.lit(1)).over(wf).alias("n_values"),
    )
    d = F.abs(
        F.col("cum_ref").cast("double") / F.col("rt").cast("double")
        - F.col("cum_cur").cast("double") / F.col("ct").cast("double")
    )
    return ecdf.agg(
        F.max("rt").alias("n_ref_total"),
        F.max("ct").alias("n_cur_total"),
        F.max("n_values").alias("n_distinct_values"),
        F.max(d).cast(DEC).cast("double").alias("ks_d"),
    )


SQL_DRIFT_KS = f"""
WITH dist AS (
  SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
         CAST(SUM(CASE WHEN l_shipdate < TIMESTAMP '{PSI_PIVOT} 00:00:00'
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
         CAST(SUM(CASE WHEN NOT (l_shipdate < TIMESTAMP '{PSI_PIVOT} 00:00:00')
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
  FROM lineitem GROUP BY 1),
totals AS (
  SELECT CAST(SUM(n_ref) AS BIGINT) AS rt, CAST(SUM(n_cur) AS BIGINT) AS ct,
         COUNT(*) AS n_values
  FROM dist),
ecdf AS (
  SELECT CAST(SUM(n_ref) OVER w AS BIGINT) AS cum_ref,
         CAST(SUM(n_cur) OVER w AS BIGINT) AS cum_cur,
         rt, ct, n_values
  FROM dist, totals
  WINDOW w AS (ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT MAX(rt) AS n_ref_total, MAX(ct) AS n_cur_total,
       MAX(n_values) AS n_distinct_values,
       CAST(CAST(MAX(abs(CAST(cum_ref AS DOUBLE) / rt
                         - CAST(cum_cur AS DOUBLE) / ct))
            AS DECIMAL(30,6)) AS DOUBLE) AS ks_d
FROM ecdf
"""


# -- quality_ensemble ------------------------------------------------------
# Weight of each signal in the fused score; the LM gate threshold is
# compared on the decimal(30,6)-rounded score so the keep decision is
# engine-exact even at the boundary.
ENSEMBLE_LM_MIN = "-5.4"
ENSEMBLE_ENT_NORM = 4.0  # entropy ceiling used to normalize into [0,1]


# The ensemble's three signal arms (gopher, entropy, trigram-LM) all
# derive from the same (doc_id, lang, text, norm) projection, and the
# trigram arm alone consumes it three times — without materialization
# Catalyst re-scans documents.parquet and recomputes norm per arm (7
# scans total, the r5 plan audit's finding).
_ENSEMBLE_DOCS_CACHE = SessionCache()


def _ensemble_docs(spark, sf):
    from data_validator_spark.functions.text import normalized_text

    # lang rides along since r18: boilerplate_prefix groups its
    # shared-prefix census by language off this same relation, and a
    # short lang code widens the cached rows by a few bytes while
    # saving that query a full normalized_text recompute of the corpus
    return _ENSEMBLE_DOCS_CACHE.get(
        spark,
        sf,
        lambda: load_documents_by_id(spark, sf).select(
            "doc_id", "lang", "text", normalized_text(F.col("text")).alias("norm")
        ),
    )


def q_quality_ensemble(spark, sf):
    """Fused multi-signal quality filter (the FineWeb/RefinedWeb
    pattern): Gopher repetition rules + character entropy + trigram-LM
    score combined into one linear quality score and one keep
    decision — the single declarative plan a corpus pipeline actually
    ships, composed from the SAME operator implementations the
    individual oracle rows grade (`gopher_quality`, `char_entropy`,
    `trigram_lm_score`), so the ensemble can never disagree with its
    components.

    Scale shape: the three signal arms all read ONE session-persisted
    (doc_id, lang, text, norm) relation (_ensemble_docs) — one parquet scan
    and one norm computation total instead of a re-scan per arm (the
    r5 plan audit counted 7). Each arm is map-side combined before
    its shuffle; the composition is two doc-keyed joins that AQE
    plans after the per-doc collapses.

    Determinism: every input component is already DEC-rounded by its
    source operator (identical in both engines); the score is a
    fixed-order linear combination of those exact doubles; the LM
    gate compares the decimal-rounded score against a decimal
    literal.
    """
    from data_validator_spark.queries.corpus_ops import q_trigram_lm_score
    from data_validator_spark.queries.mining_ops import (
        q_char_entropy,
        q_gopher_quality,
    )

    base = _ensemble_docs(spark, sf)
    g = q_gopher_quality(spark, sf, base=base).select(
        "doc_id",
        "distinct_ratio",
        "top_token_frac",
        "dup_bigram_frac",
        F.col("keep").alias("gopher_keep"),
    )
    e = q_char_entropy(spark, sf, base=base).select(
        "doc_id", "entropy", F.col("keep").alias("ent_keep")
    )
    t = q_trigram_lm_score(spark, sf, base=base).select("doc_id", "avg_logp")
    lm_keep = (F.col("avg_logp").cast(DEC) >= F.expr(
        f"CAST({ENSEMBLE_LM_MIN} AS {DEC})"
    )).cast("int")
    score = (
        0.25 * F.col("distinct_ratio")
        + 0.25 * (1.0 - F.col("top_token_frac"))
        + 0.25 * (1.0 - F.col("dup_bigram_frac"))
        + 0.25 * F.least(F.lit(1.0), F.col("entropy") / ENSEMBLE_ENT_NORM)
    )
    return (
        g.join(e, "doc_id")
        .join(t, "doc_id")
        .select(
            "doc_id",
            # the exact score is a 10-decimal rational (quarter-weighted
            # 6-decimal components plus entropy/16), so decimal(30,10)
            # lands ON the grid in both engines; a coarser cast sits
            # exactly on .5 boundaries and rounds engine-dependently
            score.cast("decimal(30,10)").cast("double").alias("score"),
            "gopher_keep",
            "ent_keep",
            lm_keep.alias("lm_keep"),
            (
                (F.col("gopher_keep") == 1)
                & (F.col("ent_keep") == 1)
                & (lm_keep == 1)
            )
            .cast("int")
            .alias("keep"),
        )
    )


def _sql_quality_ensemble() -> str:
    from data_validator_spark.queries.corpus_ops import SQL_TRIGRAM_LM
    from data_validator_spark.queries.mining_ops import SQL_CHAR_ENTROPY, SQL_GOPHER

    return f"""
SELECT g.doc_id,
       CAST(CAST(0.25 * g.distinct_ratio
                 + 0.25 * (1.0 - g.top_token_frac)
                 + 0.25 * (1.0 - g.dup_bigram_frac)
                 + 0.25 * LEAST(1.0, e.entropy / {ENSEMBLE_ENT_NORM})
            AS DECIMAL(30,10)) AS DOUBLE) AS score,
       g.keep AS gopher_keep,
       e.keep AS ent_keep,
       CAST(CAST(t.avg_logp AS DECIMAL(30,6))
            >= CAST({ENSEMBLE_LM_MIN} AS DECIMAL(30,6)) AS INTEGER) AS lm_keep,
       CAST(g.keep = 1 AND e.keep = 1
            AND CAST(t.avg_logp AS DECIMAL(30,6))
                >= CAST({ENSEMBLE_LM_MIN} AS DECIMAL(30,6)) AS INTEGER) AS keep
FROM ({SQL_GOPHER}) g
JOIN ({SQL_CHAR_ENTROPY}) e ON g.doc_id = e.doc_id
JOIN ({SQL_TRIGRAM_LM}) t ON g.doc_id = t.doc_id
ORDER BY g.doc_id
"""


# -- ccnet_buckets ---------------------------------------------------------
CCNET_TILES = 3  # head / middle / tail
# histogram-path binned score relation, shared across repeat executions
_CCNET_BINNED_CACHE = SessionCache()
# Size gate for the exact (global-ntile) path: above this many
# documents the histogram tertile path runs instead (r8 verdict item
# 3 — no corpus-scale single-partition window at 100 TB). It keeps
# every test SF (≤ 50k docs) on the oracle-exact ntile spelling, and
# the oracle mirrors the same constant.
CCNET_EXACT_MAX_DOCS = 1_000_000


def q_ccnet_buckets(spark, sf):
    """CCNet-style perplexity segmentation: rank every document by its
    trigram-LM score and deal the corpus into equal head/middle/tail
    tertiles (head = most-fluent third) — the standard
    quality-stratified sampling input (train mostly on head, sample
    middle, audit tail). Reuses `trigram_lm_score` verbatim so the
    segmentation can never disagree with the graded score.

    Scale shape: the rank runs over the PER-DOC score relation (one
    row per doc, after the LM scorer's map-side collapses). ntile is
    rank-exact and runs BELOW the size gate; above
    CCNET_EXACT_MAX_DOCS (1M docs) the tertile boundaries come
    instead from a SCORE HISTOGRAM — the
    `quantile_shard` method (corpus_ops.py): avg_logp is binned to
    1e-4 resolution (distinct bins bounded by the trigram-logp DOMAIN,
    ≤ ~|range|·10^4 rows, corpus-size-independent), the cumulative
    count runs as a window over that tiny aggregated relation, tile =
    (3·cum_before) div n_total + 1 is integer-exact, and assignment
    joins back by broadcast. No corpus-scale single-partition window
    anywhere on the histogram path (tests/test_approx_profile.py
    lowers the gate and asserts ntile leaves the plan). Output
    contract identical; docs sharing a 1e-4 bin land in one tile, so
    bucket sizes can differ from exact ntile by at most one bin's
    population.

    The size gate (r9) picks the path from the input size alone, so
    no corpus-scale run gets a single-partition window over 100 TB of
    scores. The gate's count probe is one cached column-pruned count
    job (the similarity._derived_params pattern).

    Determinism (exact mode): ordering key is (avg_logp DESC, doc_id)
    — avg_logp is the same exact double in both engines (decimal sum /
    int count), doc_id breaks ties; per-tile stats are exact decimal
    sums with one final division. The histogram path is also
    deterministic (floor + integer div, no sketches).
    """
    from pyspark.sql import Window

    from data_validator_spark.queries.corpus_ops import q_trigram_lm_score

    scores = q_trigram_lm_score(spark, sf)
    if row_count(spark, sf, "documents") > CCNET_EXACT_MAX_DOCS:
        # histogram-derived tertile boundaries: head = highest scores,
        # so the cumulative count runs over bins in DESCENDING order.
        # The binned score relation feeds TWO subtrees (the histogram
        # and the assignment join-back); session-persist it so single
        # execution of the trigram scoring pass is structural, not
        # dependent on exchange-reuse matching — the same pattern as
        # the ensemble's shared signal relations.
        binned = _CCNET_BINNED_CACHE.get(
            spark,
            sf,
            lambda: scores.withColumn(
                "bin", F.floor(F.col("avg_logp") * F.lit(10000.0)).cast("long")
            ),
            "ccnet_binned",
        )
        hist = binned.groupBy("bin").agg(F.count(F.lit(1)).alias("cnt"))
        wh = Window.orderBy(F.desc("bin")).rowsBetween(
            Window.unboundedPreceding, -1
        )
        tot = hist.agg(F.sum("cnt").alias("n_total"))
        edges = (
            hist.withColumn(
                "cum_before", F.coalesce(F.sum("cnt").over(wh), F.lit(0))
            )
            .crossJoin(F.broadcast(tot))
            .select(
                "bin",
                # integer div — exact tile boundaries, no float rounding
                (
                    F.expr(f"({CCNET_TILES} * cum_before) div n_total") + F.lit(1)
                ).alias("tile"),
            )
        )
        tiled = binned.join(F.broadcast(edges), "bin").select(
            "doc_id", "n_trigrams", "avg_logp", "tile"
        )
    else:
        w = Window.orderBy(F.desc("avg_logp"), "doc_id")
        tiled = scores.select(
            "doc_id",
            "n_trigrams",
            "avg_logp",
            F.ntile(CCNET_TILES).over(w).alias("tile"),
        )
    label = (
        F.when(F.col("tile") == 1, "head")
        .when(F.col("tile") == 2, "middle")
        .otherwise("tail")
    )
    return (
        tiled.groupBy(label.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_trigrams").alias("total_trigrams"),
            F.min("avg_logp").cast(DEC).cast("double").alias("min_logp"),
            F.max("avg_logp").cast(DEC).cast("double").alias("max_logp"),
            (
                F.sum(F.col("avg_logp").cast(DEC)).cast("double")
                / F.count(F.lit(1))
            )
            .cast(DEC)
            .cast("double")
            .alias("mean_logp"),
        )
        .orderBy("bucket")
    )


def _sql_ccnet() -> str:
    """Gate-aware oracle: mirrors q_ccnet_buckets' size dispatch so a
    grading run above CCNET_EXACT_MAX_DOCS takes the SAME
    histogram-tertile path as Spark instead of hash-mismatching by
    construction (ADVICE r9). The two tiling arms are UNION ALL'd
    behind mutually-exclusive scalar predicates on the corpus count —
    DuckDB evaluates both subtrees, which is fine at any gradable SF."""
    from data_validator_spark.queries.corpus_ops import SQL_TRIGRAM_LM

    gate = CCNET_EXACT_MAX_DOCS
    return f"""
WITH scores AS ({SQL_TRIGRAM_LM}),
n AS (SELECT COUNT(*) AS n_total FROM scores),
exact_tiled AS (
  SELECT doc_id, n_trigrams, avg_logp,
         ntile({CCNET_TILES}) OVER (ORDER BY avg_logp DESC, doc_id) AS tile
  FROM scores),
binned AS (
  SELECT doc_id, n_trigrams, avg_logp,
         CAST(FLOOR(avg_logp * 10000.0) AS BIGINT) AS bin
  FROM scores),
hist AS (SELECT bin, COUNT(*) AS cnt FROM binned GROUP BY bin),
edges AS (
  SELECT bin,
         ({CCNET_TILES} * COALESCE(SUM(cnt) OVER (ORDER BY bin DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
           // n_total + 1 AS tile
  FROM hist, n),
hist_tiled AS (
  SELECT b.doc_id, b.n_trigrams, b.avg_logp, e.tile
  FROM binned b JOIN edges e USING (bin)),
-- Arm predicates gate on the DOCUMENTS count — q_ccnet_buckets
-- dispatches on row_count(documents), not on the scores count;
-- docs whose normalized text has <3 chars drop out of scores, so
-- near the gate boundary the two counts differ (ADVICE r10). The
-- scores-derived n_total stays for the tile-edge division, which is
-- what Spark's histogram sum uses.
dn AS (SELECT COUNT(*) AS n_docs FROM documents),
tiled AS (
  SELECT * FROM exact_tiled WHERE (SELECT n_docs FROM dn) <= {gate}
  UNION ALL
  SELECT * FROM hist_tiled WHERE (SELECT n_docs FROM dn) > {gate})
SELECT CASE WHEN tile = 1 THEN 'head'
            WHEN tile = 2 THEN 'middle'
            ELSE 'tail' END AS bucket,
       COUNT(*) AS n_docs,
       CAST(SUM(n_trigrams) AS BIGINT) AS total_trigrams,
       CAST(CAST(MIN(avg_logp) AS DECIMAL(30,6)) AS DOUBLE) AS min_logp,
       CAST(CAST(MAX(avg_logp) AS DECIMAL(30,6)) AS DOUBLE) AS max_logp,
       CAST(CAST(CAST(SUM(CAST(avg_logp AS DECIMAL(30,6))) AS DOUBLE)
                 / COUNT(*) AS DECIMAL(30,6)) AS DOUBLE) AS mean_logp
FROM tiled GROUP BY 1 ORDER BY 1
"""


# -- fd_check --------------------------------------------------------------
# Candidate functional dependencies to audit: (table, lhs, rhs).
# Deliberately a mix — the nation PK trivially holds; the rest are
# real "does this determine that?" profiling questions.
FD_CANDIDATES = [
    ("customer", "c_nationkey", "c_mktsegment"),
    ("events", "user_id", "event_type"),
    ("lineitem", "l_partkey", "l_suppkey"),
    ("nation", "n_nationkey", "n_regionkey"),
    ("orders", "o_custkey", "o_orderpriority"),
]


def q_fd_check(spark, sf):
    """Functional-dependency audit (the profiling generalization of the
    reference's uniqueCheck, UniqueCheck.scala:1): for each candidate
    lhs→rhs dependency, how many lhs groups map to MORE than one rhs
    value — violation counts for schema discovery, denormalization
    safety, and dimension-integrity monitoring.

    Scale shape: one scan per audited table — irreducible, since the
    five candidates live on five DIFFERENT tables (a shared-scan
    tagged explode, the fk_integrity trick, needs arms on the SAME
    table; fusing across tables was A/B-measured SLOWER here, 2.0s vs
    1.4s at sf0.1, because fusion shares no scan and tagging forces
    mixed-type keys through string casts — contrast key_skew_audit,
    where two keys share the lineitem scan). Per candidate, a
    three-level aggregation cascade on NATIVE key types: (lhs, rhs)
    counts collapse map-side first, the lhs-group relation derives
    from that, and the verdict is a scalar aggregate — no Expand
    anywhere (the distinct-rhs count falls out of the (lhs,rhs)
    pre-aggregation instead of a countDistinct rewrite, which at
    scale would double every shuffled row). r15: the three FACT arms
    whose lhs matches an at-rest bucket key read the bucketed copies
    (orders on o_custkey, events on user_id, lineitem on l_partkey)
    — both cascade levels inherit the scan's HashPartitioning
    (subset clustering), so those arms run with ZERO wide exchanges;
    only the two dim-table arms (customer, nation) still pay their
    (tiny) aggregation shuffles. No parallelism
    spread — the per-row work is zero and every cascade level
    combines map-side (drift_psi rule).

    Determinism: integer counts; violation_pct is one exact int/int
    division rounded through decimal(30,6).
    """
    from data_validator_spark.queries import (
        load_events_by_user,
        load_lineitem_by_part,
        load_orders_by_cust,
    )

    bucketed_arm = {
        ("orders", "o_custkey"): load_orders_by_cust,
        ("events", "user_id"): load_events_by_user,
        ("lineitem", "l_partkey"): load_lineitem_by_part,
    }
    rows = []
    for table, lhs, rhs in FD_CANDIDATES:
        loader = bucketed_arm.get((table, lhs))
        src = loader(spark, sf) if loader else load(spark, sf, table)
        df = src.select(lhs, rhs)
        lvl = df.groupBy(F.col(lhs).alias("k"), F.col(rhs).alias("v")).agg(
            F.count(F.lit(1)).alias("c")
        )
        groups = lvl.groupBy("k").agg(
            F.sum("c").alias("n"),
            # countDistinct semantics: NULL rhs never counts as a value
            F.sum(F.col("v").isNotNull().cast("long")).alias("nd"),
        )
        agg = groups.agg(
            F.sum("n").alias("n_rows"),
            F.count(F.lit(1)).alias("n_groups"),
            F.sum((F.col("nd") > 1).cast("long")).alias("n_violating_groups"),
        )
        rows.append(
            agg.select(
                F.lit(f"{table}.{lhs}->{rhs}").alias("fd"),
                "n_rows",
                "n_groups",
                "n_violating_groups",
                (
                    F.col("n_violating_groups").cast("double")
                    * 100.0
                    / F.col("n_groups").cast("double")
                )
                .cast(DEC)
                .cast("double")
                .alias("violation_pct"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("fd")


def _sql_fd_check() -> str:
    arms = []
    for table, lhs, rhs in FD_CANDIDATES:
        arms.append(f"""
SELECT '{table}.{lhs}->{rhs}' AS fd,
       CAST(SUM(n) AS BIGINT) AS n_rows,
       COUNT(*) AS n_groups,
       CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violating_groups,
       CAST(CAST(CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 * 100.0 / COUNT(*) AS DECIMAL(30,6)) AS DOUBLE)
         AS violation_pct
FROM (SELECT {lhs} AS k, COUNT(*) AS n, COUNT(DISTINCT {rhs}) AS nd
      FROM {table} GROUP BY 1)""")
    return " UNION ALL ".join(arms) + " ORDER BY fd"


# -- mad_outliers ----------------------------------------------------------
MAD_COLUMN = "l_extendedprice"
MAD_KS = (1.0, 2.0, 3.0)


def q_mad_outliers(spark, sf):
    """Robust outlier screen on l_extendedprice via median absolute
    deviation — the outlier detector that, unlike z-scores, cannot be
    masked by the outliers themselves. Reports the exact median, the
    MAD, and outlier counts at 1/2/3 MAD thresholds.

    Scale shape: three chained stages (median → MAD → threshold
    counts) — the col_quantiles pattern chained. Both medians run the
    bounded-memory exact selection of operators/exact_quantile.py:
    bit-identical to DuckDB `quantile_cont` (sorted linear
    interpolation) and never buffering the column. The deviation pass
    reuses the median pass's count/min/max: |x - med| is bounded by
    [0, max(mx - med, med - mn)], so only the histogram and selection
    scans run for it. The final threshold counts are one plain
    aggregate with the med/mad scalars inlined as literals — no
    crossJoin broadcasts anywhere.

    Determinism: median/MAD are the identical doubles in both
    engines; thresholds are products of exact doubles, so the strict
    > comparisons agree bit-for-bit; emitted stats round through
    decimal(30,6).
    """
    from data_validator_spark.operators.exact_quantile import (
        QuantileSpec,
        exact_quantiles,
    )

    x = F.col(MAD_COLUMN)
    li = load(spark, sf, "lineitem")
    r_med = exact_quantiles(li, [QuantileSpec("x", x, (0.5,))])["x"]
    med = r_med.values[0]
    if med is None:
        return spark.createDataFrame(
            [(MAD_COLUMN, 0, None, None) + (0,) * len(MAD_KS)],
            "column_name string, n_rows long, median double, mad double, "
            + ", ".join(f"n_out_{int(k)}mad long" for k in MAD_KS),
        )
    ad = F.abs(x - F.lit(med))
    ad_hi = max(r_med.mx - med, med - r_med.mn)
    mad = exact_quantiles(
        li,
        [QuantileSpec("ad", ad, (0.5,), bounds=(r_med.n, 0.0, ad_hi))],
    )["ad"].values[0]
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for k in MAD_KS:
        aggs.append(
            F.sum((ad > F.lit(k) * F.lit(mad)).cast("long")).alias(
                f"n_out_{int(k)}mad"
            )
        )
    # n_rows counts every row (NULL x contributes a NULL deviation
    # that the threshold sums skip), matching the oracle's COUNT(*)
    return li.agg(*aggs).select(
        F.lit(MAD_COLUMN).alias("column_name"),
        "n_rows",
        F.lit(med).cast(DEC).cast("double").alias("median"),
        F.lit(mad).cast(DEC).cast("double").alias("mad"),
        *[F.col(f"n_out_{int(k)}mad") for k in MAD_KS],
    )


def _sql_mad() -> str:
    outs = ", ".join(
        f"CAST(SUM(CASE WHEN ad > {k} * mad THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS n_out_{int(k)}mad"
        for k in MAD_KS
    )
    return f"""
WITH med AS (SELECT quantile_cont({MAD_COLUMN}, 0.5) AS med FROM lineitem),
dev AS (SELECT abs({MAD_COLUMN} - med.med) AS ad, med.med FROM lineitem, med),
mad AS (SELECT MAX(med) AS med, quantile_cont(ad, 0.5) AS mad FROM dev)
SELECT '{MAD_COLUMN}' AS column_name,
       COUNT(*) AS n_rows,
       CAST(CAST(MAX(mad.med) AS DECIMAL(30,6)) AS DOUBLE) AS median,
       CAST(CAST(MAX(mad.mad) AS DECIMAL(30,6)) AS DOUBLE) AS mad,
       {outs}
FROM dev, mad
"""


# -- key_skew_audit --------------------------------------------------------
# Join/aggregation keys whose distribution decides shuffle health.
SKEW_KEYS = [
    ("events", "user_id"),
    ("lineitem", "l_partkey"),
    ("lineitem", "l_suppkey"),
    ("orders", "o_custkey"),
]


def q_key_skew_audit(spark, sf):
    """Shuffle-key skew profiler: for each join/aggregation key, the
    per-key frequency distribution stats that decide whether a shuffle
    needs salting or AQE skew handling — max frequency, p99 frequency,
    the max/avg skew factor, and the heaviest key's share of all rows.
    This is the measurement side of operators/skew.py's salting and
    the planning input SCALE.md's shuffle rules assume.

    Scale shape: one scan per audited table (lineitem carries two
    keys and fans them out in-row via an exploded tagged struct
    array — the fk_integrity pattern), then ALL keys share ONE
    aggregation cascade: the (key, value) frequency groupBy collapses
    map-side, and every statistic — including the exact per-key p99
    via grouped `percentile` — aggregates the collapsed frequency
    relation in a single 4-row groupBy — two successively-collapsing
    shuffles total, and the shared lineitem scan halves the
    fact-table IO vs four independent pipelines. No parallelism
    spread: the explode is trivial per-row work and the frequency
    groupBy combines map-side (drift_psi rule; together measured
    1.63s→0.87s at sf0.1, r7).

    Determinism: frequencies are integers; p99 interpolates
    identically in both engines (col_quantiles rule); ratios are
    exact divisions rounded through decimal(30,6).
    """
    by_table: dict[str, list] = {}
    for table, key in SKEW_KEYS:
        by_table.setdefault(table, []).append((f"{table}.{key}", key))

    tagged = _tagged_key_union(spark, sf, by_table).select(
        F.col("tag").alias("key"), "k"
    )

    freq = tagged.groupBy("key", "k").agg(F.count(F.lit(1)).alias("f"))
    agg = freq.groupBy("key").agg(
        F.sum("f").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("f").alias("max_freq"),
        F.expr("percentile(f, 0.99D)").alias("p99_freq"),
    )
    # The audit's shape contract is ONE row per audited key even when
    # a table is empty (the oracle's per-key scalar aggregates always
    # emit their row — n_keys 0, stats NULL); a bare groupBy('key')
    # would silently drop the empty table, the one an audit most needs
    # to report. The 4-row literal key dimension broadcast-joins for
    # free and restores that guarantee.
    keys_dim = spark.createDataFrame(
        [(f"{t}.{k}",) for t, k in SKEW_KEYS], "key string"
    )
    # agg is ≤|SKEW_KEYS| rows by construction — broadcast it as the
    # build side (a left join can only build right, so the hint goes
    # on the aggregate, not the literal dimension)
    agg = keys_dim.join(F.broadcast(agg), "key", "left")
    return agg.select(
        "key",
        "n_rows",
        F.coalesce(F.col("n_keys"), F.lit(0).cast("long")).alias("n_keys"),
        "max_freq",
        F.col("p99_freq").cast(DEC).cast("double").alias("p99_freq"),
        (
            F.col("max_freq").cast("double")
            * F.col("n_keys").cast("double")
            / F.col("n_rows").cast("double")
        )
        .cast(DEC)
        .cast("double")
        .alias("skew_factor"),
        (F.col("max_freq").cast("double") / F.col("n_rows").cast("double"))
        .cast(DEC)
        .cast("double")
        .alias("top_share"),
    ).orderBy("key")


def _sql_key_skew() -> str:
    arms = []
    for table, key in SKEW_KEYS:
        arms.append(f"""
SELECT '{table}.{key}' AS key,
       CAST(SUM(f) AS BIGINT) AS n_rows,
       COUNT(*) AS n_keys,
       CAST(MAX(f) AS BIGINT) AS max_freq,
       CAST(CAST(quantile_cont(f, 0.99) AS DECIMAL(30,6)) AS DOUBLE)
         AS p99_freq,
       CAST(CAST(CAST(MAX(f) AS DOUBLE) * COUNT(*) / SUM(f)
            AS DECIMAL(30,6)) AS DOUBLE) AS skew_factor,
       CAST(CAST(CAST(MAX(f) AS DOUBLE) / SUM(f) AS DECIMAL(30,6)) AS DOUBLE)
         AS top_share
FROM (SELECT {key} AS k, COUNT(*) AS f FROM {table} GROUP BY 1)""")
    return " UNION ALL ".join(arms) + " ORDER BY key"


# -- corr_matrix -----------------------------------------------------------
# (column, exact integer-unit expression, unit scale). The reference
# profiles columns independently (stats/FirstPassStatsAggregator.scala:1);
# the correlation matrix is the cross-column step of the same profiling
# story. Pearson r is scale-invariant, so the integer unit scaling
# cancels; only the emitted means divide the scale back out.
CORR_COLUMNS = [
    ("l_quantity", "CAST(l_quantity AS BIGINT)", 1.0),
    ("l_extendedprice", "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)", 100.0),
    ("l_discount", "CAST(floor(l_discount * 100 + 0.5) AS BIGINT)", 100.0),
    ("l_tax", "CAST(floor(l_tax * 100 + 0.5) AS BIGINT)", 100.0),
]


def q_corr_matrix(spark, sf):
    """Pearson correlation matrix over lineitem's numeric measure
    columns — the cross-column companion to the per-column colStats
    profile (the reference profiles each column independently,
    stats/FirstPassStatsAggregator.scala:1; correlated measures are
    what drive feature-redundancy and denormalization decisions).

    Scale shape: ONE scan, one fused 15-term scalar aggregate (n, 4
    linear, 4 square, 6 cross sums — every term combines map-side to
    a single row); the 6 pair rows then fan out from that row via an
    in-row struct explode. No second scan, no wide shuffle, no
    driver-side collect. At any corpus size this is exactly one
    pass over 4 columns.

    Determinism: sums run over exact integer units (quantity, cents,
    discount/tax points) accumulated in DECIMAL(38,0) —
    order-independent exact integers, matching DuckDB's exact HUGEINT
    sums. The correlation then combines the exact sums in double
    precision: identical operand doubles through the identical IEEE
    expression give identical results in both engines, rounded
    through decimal(30,6). Zero-variance columns yield NULL r
    (guarded — never inf/NaN).
    """
    # no parallelism spread — trivial per-row work, single fused
    # scalar aggregate combines map-side (drift_psi / benford rule)
    k = len(CORR_COLUMNS)
    li = load(spark, sf, "lineitem").select(
        *[F.expr(e).alias(f"u{i}") for i, (_n, e, _s) in enumerate(CORR_COLUMNS)]
    )
    aggs = [F.count(F.lit(1)).alias("n")]
    for i in range(k):
        aggs.append(
            F.sum(F.col(f"u{i}").cast("decimal(38,0)")).cast("double").alias(f"s{i}")
        )
    for i in range(k):
        for j in range(i, k):
            aggs.append(
                F.sum((F.col(f"u{i}") * F.col(f"u{j}")).cast("decimal(38,0)"))
                .cast("double")
                .alias(f"s{i}{j}")
            )
    one = li.agg(*aggs)

    nd = F.col("n").cast("double")

    def pair(i, j):
        num = nd * F.col(f"s{i}{j}") - F.col(f"s{i}") * F.col(f"s{j}")
        vx = nd * F.col(f"s{i}{i}") - F.col(f"s{i}") * F.col(f"s{i}")
        vy = nd * F.col(f"s{j}{j}") - F.col(f"s{j}") * F.col(f"s{j}")
        r = F.when(vx * vy > 0, num / F.sqrt(vx * vy))
        return F.struct(
            F.lit(CORR_COLUMNS[i][0]).alias("col_x"),
            F.lit(CORR_COLUMNS[j][0]).alias("col_y"),
            F.col("n").alias("n_rows"),
            (F.col(f"s{i}") / nd / F.lit(CORR_COLUMNS[i][2]))
            .cast(DEC)
            .cast("double")
            .alias("mean_x"),
            (F.col(f"s{j}") / nd / F.lit(CORR_COLUMNS[j][2]))
            .cast(DEC)
            .cast("double")
            .alias("mean_y"),
            r.cast(DEC).cast("double").alias("corr"),
        )

    pairs = [pair(i, j) for i in range(k) for j in range(i + 1, k)]
    return (
        one.select(F.explode(F.array(*pairs)).alias("p"))
        .select("p.*")
        .orderBy("col_x", "col_y")
    )


def _sql_corr_matrix() -> str:
    k = len(CORR_COLUMNS)
    units = ", ".join(f"{e} AS u{i}" for i, (_n, e, _s) in enumerate(CORR_COLUMNS))
    sums = ["COUNT(*) AS n"]
    for i in range(k):
        sums.append(f"CAST(SUM(u{i}) AS DOUBLE) AS s{i}")
    for i in range(k):
        for j in range(i, k):
            sums.append(f"CAST(SUM(u{i} * u{j}) AS DOUBLE) AS s{i}{j}")
    nd = "CAST(n AS DOUBLE)"
    arms = []
    for i in range(k):
        for j in range(i + 1, k):
            num = f"({nd} * s{i}{j} - s{i} * s{j})"
            vx = f"({nd} * s{i}{i} - s{i} * s{i})"
            vy = f"({nd} * s{j}{j} - s{j} * s{j})"
            arms.append(f"""
SELECT '{CORR_COLUMNS[i][0]}' AS col_x, '{CORR_COLUMNS[j][0]}' AS col_y,
       n AS n_rows,
       CAST(CAST(s{i} / {nd} / {CORR_COLUMNS[i][2]} AS DECIMAL(30,6)) AS DOUBLE)
         AS mean_x,
       CAST(CAST(s{j} / {nd} / {CORR_COLUMNS[j][2]} AS DECIMAL(30,6)) AS DOUBLE)
         AS mean_y,
       CAST(CAST(CASE WHEN {vx} * {vy} > 0
                 THEN {num} / sqrt({vx} * {vy}) END AS DECIMAL(30,6)) AS DOUBLE)
         AS corr
FROM s""")
    return (
        f"WITH u AS (SELECT {units} FROM lineitem),\n"
        f"s AS (SELECT {', '.join(sums)} FROM u)\n"
        + " UNION ALL ".join(arms)
        + " ORDER BY col_x, col_y"
    )


# -- quality_calibration -------------------------------------------------------
CALIB_BINS = 10  # 0.1-wide score bins over [0, 1]


def q_quality_calibration(spark, sf):
    """Calibration audit of the fused quality score: per 0.1-wide
    ensemble-score bin, how often each component gate (gopher /
    entropy / LM) and the full keep decision actually fire — the
    check a pipeline runs before using the linear score as a
    THRESHOLD filter (a well-calibrated score should show keep-rate
    rising monotonically with the bin; a flat or inverted bin says
    the weights are mis-set for this corpus).

    Scale shape: one pass over the per-doc ensemble relation (which
    itself rides the session-persisted signal arms), map-side combined
    into ≤ CALIB_BINS+1 groups — nothing corpus-sized survives the
    aggregate.

    Determinism: the score is the ensemble's exact 10-decimal-grid
    double (identical both engines), so floor(score·10) can never
    straddle engines; clamping the score==1.0 edge into the top bin
    keeps the census total equal to the corpus; rates are int/int
    divisions DEC-rounded."""
    ens = q_quality_ensemble(spark, sf)
    bin_ = F.least(F.lit(CALIB_BINS - 1), F.floor(F.col("score") * CALIB_BINS)).cast(
        "long"
    )
    n = F.count(F.lit(1))
    rate = lambda c: (F.sum(F.col(c)).cast("double") / n).cast(DEC).cast("double")  # noqa: E731
    return (
        ens.groupBy(bin_.alias("score_bin"))
        .agg(
            n.alias("n_docs"),
            F.sum("keep").cast("long").alias("n_keep"),
            rate("keep").alias("keep_rate"),
            rate("gopher_keep").alias("gopher_rate"),
            rate("ent_keep").alias("ent_rate"),
            rate("lm_keep").alias("lm_rate"),
        )
        .orderBy("score_bin")
    )


def _sql_quality_calibration() -> str:
    def rate(c: str) -> str:
        return (
            f"CAST(CAST(CAST(SUM({c}) AS DOUBLE) / count(*) AS DECIMAL(30,6)) "
            f"AS DOUBLE)"
        )

    return f"""
WITH ens AS ({_sql_quality_ensemble()})
SELECT LEAST({CALIB_BINS - 1}, CAST(floor(score * {CALIB_BINS}) AS BIGINT))
         AS score_bin,
       count(*) AS n_docs,
       CAST(SUM(keep) AS BIGINT) AS n_keep,
       {rate('keep')} AS keep_rate,
       {rate('gopher_keep')} AS gopher_rate,
       {rate('ent_keep')} AS ent_rate,
       {rate('lm_keep')} AS lm_rate
FROM ens GROUP BY 1 ORDER BY 1
"""


QUERIES = {
    "drift_psi": q_drift_psi,
    "quality_calibration": q_quality_calibration,
    "fk_integrity": q_fk_integrity,
    "benford_check": q_benford_check,
    "reconciliation_check": q_reconciliation_check,
    "ngram_contamination": q_ngram_contamination,
    "drift_ks": q_drift_ks,
    "quality_ensemble": q_quality_ensemble,
    "ccnet_buckets": q_ccnet_buckets,
    "fd_check": q_fd_check,
    "mad_outliers": q_mad_outliers,
    "key_skew_audit": q_key_skew_audit,
    "corr_matrix": q_corr_matrix,
}

ORACLES = {
    "drift_psi": SQL_DRIFT_PSI,
    "quality_calibration": _sql_quality_calibration(),
    "fk_integrity": _sql_fk_integrity(),
    "benford_check": _sql_benford(),
    "reconciliation_check": SQL_RECONCILIATION,
    "ngram_contamination": SQL_NGRAM_CONTAMINATION,
    "drift_ks": SQL_DRIFT_KS,
    "quality_ensemble": _sql_quality_ensemble(),
    "ccnet_buckets": _sql_ccnet(),
    "fd_check": _sql_fd_check(),
    "mad_outliers": _sql_mad(),
    "key_skew_audit": _sql_key_skew(),
    "corr_matrix": _sql_corr_matrix(),
}
