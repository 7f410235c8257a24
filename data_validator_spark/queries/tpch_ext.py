"""TPC-H-ish queries blocked on missing synthetic columns (SURVEY §2:
q2/q9/q11/q12/q16/q19/q20/q21 need `partsupp`, lineitem ship
metadata, and part containers that /root/testdata does not carry).

The driver's parquet dirs are fixed, so the missing relations are
DERIVED deterministically from the existing tables with the repo's
60-bit md5 hash convention — the same arithmetic expressed in the
DataFrame plan and in the DuckDB oracle CTEs, so every query stays
fully hash-checkable on the driver's own data:

- partsupp: 4 suppliers per part. ps_suppkey = (p_partkey*4 + i) % S
  + 1 (S = supplier count; 4 consecutive integers mod S are distinct
  for S >= 4, so the key is guaranteed unique); availqty/supplycost
  from the md5 hash of (partkey, i). Map-only over part — no shuffle.
- lineitem_ext: shipmode/shipinstruct/commitdate/receiptdate from a
  div-chain over ONE md5 per line (integer `div`, never float — the
  60-bit hash exceeds double's 53-bit mantissa). Map-only.
- part_ext: p_container from md5(partkey) over the 40 standard
  TPC-H container names. Map-only.

Reference parity: semantics follow the TPC-H spec variants the
reference's analytics suite models (filters adapted to this corpus's
vocabulary: single-word p_type, 'NATION_n' nations, 'color noun'
part names). Scale notes per query in each docstring.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from data_validator_spark.operators.bucketing import (
    FACT_BUCKETS,
    _source_signature,
    copy_name,
    ensure_copy,
)
from data_validator_spark.queries import (
    DEC,
    SessionCache,
    dsum,
    evict_session_caches,
    load,
    load_lineitem_by_part,
    spread,
    sql_dsum,
)

MODES = ["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"]
INSTRUCTS = ["COLLECT COD", "DELIVER IN PERSON", "NONE", "TAKE BACK RETURN"]
CONTAINERS = [
    f"{s} {t}"
    for s in ["SM", "MED", "LG", "JUMBO", "WRAP"]
    for t in ["BAG", "BOX", "CAN", "CASE", "DRUM", "JAR", "PACK", "PKG"]
]  # 40 values, TPC-H container vocabulary


def _hash60(*cols):
    """First 15 md5 hex digits as a 60-bit bigint — the repo's
    cross-engine hash convention (queries/__init__ docstring)."""
    s = F.concat_ws("|", *[c.cast("string") for c in cols])
    return F.conv(F.substring(F.md5(F.encode(s, "utf-8")), 1, 15), 16, 10).cast("long")


# The derived relations are shared by EIGHT queries (q2/q9/q11/q16/q20
# read partsupp; q12/q19/q21 read lineitem_ext; q16/q19 read part_ext)
# and their md5 div-chains are the expensive part of every one of
# those plans. Worse, the single-row-group test parquet gives the scan
# ONE split, and Catalyst pushes the md5-derived filters BELOW
# spread()'s round-robin exchange — so unpersisted, the md5 chain ran
# single-threaded per query (r6 explain finding on q19). Materializing
# each derived relation once per (session, SF) runs the hash chain in
# parallel at spread()'s partitioning and lets every consumer filter
# in-memory batches instead. Keyed per derived relation name. (These
# relations only exist because the synthetic corpus lacks the columns;
# a real deployment reads real partsupp/shipmode columns and needs no
# cache.)
_EXT_CACHE = SessionCache()


def partsupp_df(spark, sf):
    """Derived partsupp, session-persisted (_EXT_CACHE). Explode part
    x {0..3}; the supplier count arrives as a broadcast 1-row
    aggregate (no collect, no shuffle of part)."""
    return _EXT_CACHE.get(spark, sf, lambda: _partsupp_build(spark, sf), "partsupp")


def _partsupp_build(spark, sf):
    part = spread(load(spark, sf, "part"))
    scnt = load(spark, sf, "supplier").agg(F.count(F.lit(1)).alias("s"))
    raw = (
        part.crossJoin(F.broadcast(scnt))
        .select(
            "p_partkey",
            "s",
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("i"),
        )
        .withColumn("h", _hash60(F.lit("ps"), F.col("p_partkey"), F.col("i")))
    )
    return raw.select(
        F.col("p_partkey").alias("ps_partkey"),
        ((F.col("p_partkey") * 4 + F.col("i")) % F.col("s") + 1).alias("ps_suppkey"),
        (F.col("h") % 9999 + 1).cast("int").alias("ps_availqty"),
        ((F.col("h") % 99900 + 100) / 100.0).alias("ps_supplycost"),
    )


SQL_PARTSUPP_CTE = """
scnt AS (SELECT count(*) AS s FROM supplier),
ps_raw AS (
  SELECT p_partkey, i, s,
         CAST('0x' || substr(md5('ps|' || CAST(p_partkey AS VARCHAR) || '|'
              || CAST(i AS VARCHAR)), 1, 15) AS BIGINT) AS h
  FROM part, range(0,4) t(i), scnt),
partsupp AS (
  SELECT p_partkey AS ps_partkey,
         (p_partkey * 4 + i) % s + 1 AS ps_suppkey,
         CAST(h % 9999 + 1 AS INT) AS ps_availqty,
         (h % 99900 + 100) / 100.0 AS ps_supplycost
  FROM ps_raw)
"""


def lineitem_ext_df(spark, sf):
    """lineitem + derived ship metadata from one md5 per line,
    session-persisted (_EXT_CACHE)."""
    return _EXT_CACHE.get(
        spark, sf, lambda: _lineitem_ext_build(spark, sf), "lineitem_ext"
    )


def _lineitem_ext_build(spark, sf):
    li = spread(load(spark, sf, "lineitem"))
    mode = F.array(*[F.lit(m) for m in MODES])
    instr = F.array(*[F.lit(x) for x in INSTRUCTS])
    ship = F.to_date("l_shipdate")
    return (
        li.withColumn("h", _hash60(F.lit("le"), F.col("l_orderkey"), F.col("l_linenumber")))
        .withColumn("l_shipmode", F.element_at(mode, (F.col("h") % 7 + 1).cast("int")))
        .withColumn(
            "l_shipinstruct",
            F.element_at(instr, (F.expr("h div 7") % 4 + 1).cast("int")),
        )
        .withColumn("l_commitdate", F.date_add(ship, (F.expr("h div 28") % 61 - 30).cast("int")))
        .withColumn("l_receiptdate", F.date_add(ship, (F.expr("h div 1708") % 30 + 1).cast("int")))
        .drop("h")
    )


SQL_LINEITEM_EXT_CTE = f"""
le_raw AS (
  SELECT l.*,
         CAST('0x' || substr(md5('le|' || CAST(l_orderkey AS VARCHAR) || '|'
              || CAST(l_linenumber AS VARCHAR)), 1, 15) AS BIGINT) AS h
  FROM lineitem l),
lineitem_ext AS (
  SELECT * EXCLUDE (h),
         list_extract({MODES!r}, CAST(h % 7 + 1 AS INT)) AS l_shipmode,
         list_extract({INSTRUCTS!r}, CAST((h // 7) % 4 + 1 AS INT)) AS l_shipinstruct,
         CAST(l_shipdate AS DATE) + CAST((h // 28) % 61 - 30 AS INT) AS l_commitdate,
         CAST(l_shipdate AS DATE) + CAST((h // 1708) % 30 + 1 AS INT) AS l_receiptdate
  FROM le_raw)
"""


# -- at-rest bucketed lineitem_ext (r12, r11 verdict item 4) ----------------
# q12/q21 join and aggregate on l_orderkey, but the session-persisted
# derived relation carries spread()'s round-robin partitioning — each
# consumer paid the orderkey shuffle the raw-fact queries
# (q3/q4/q7/q9/q18) already avoid via
# operators/bucketing.ensure_bucketed_fact. Same at-rest trick on the
# DERIVED relation: materialize lineitem_ext once, bucketed + sorted
# on l_orderkey with the fact copies' bucket count, so
# lineitem_ext⨝orders SMJs run colocated (zero exchange) and
# groupBy(l_orderkey) inherits the scan partitioning. Bonus: the
# derived columns (l_shipmode, l_commitdate, l_receiptdate) become
# real parquet columns, so q12's mode/receipt filters push down to
# the scan instead of evaluating above an md5 chain.
#
# Watermark: the sidecar records the SOURCE-FILE signature
# (operators/bucketing._source_signature) of lineitem.parquet plus the
# derivation-formula version; the copy lifecycle itself is
# operators/bucketing.ensure_copy, shared with the raw-fact copies.
LINEITEM_EXT_VERSION = 2  # bump when the derivation formula OR file layout changes (2: r18 one-file-per-bucket)


def ensure_bucketed_lineitem_ext(spark, sf) -> str:
    """The at-rest copy of the derived lineitem_ext relation bucketed on
    l_orderkey; returns the catalog table name. Its name and watermark
    carry no key (the first derived copy, kept as built)."""
    return _ensure_bucketed_derived(
        spark, sf, "lineitem_ext", "l_orderkey",
        _lineitem_ext_build, "lineitem", LINEITEM_EXT_VERSION, keyed=False,
    )


def _part_ext_build(spark, sf):
    part = spread(load(spark, sf, "part"))
    cont = F.array(*[F.lit(c) for c in CONTAINERS])
    h = _hash60(F.lit("pc"), F.col("p_partkey"))
    return part.withColumn(
        "p_container", F.element_at(cont, (h % 40 + 1).cast("int"))
    )


def part_ext_df(spark, sf):
    """part + derived p_container, session-persisted (_EXT_CACHE)."""
    return _EXT_CACHE.get(spark, sf, lambda: _part_ext_build(spark, sf), "part_ext")


# -- generalized derived-relation copies (r15: q19's partkey meet) ----------
# The r12 lineitem_ext trick, parameterized over (relation, bucket
# key): q19 joins lineitem_ext to part_ext on the PART key with no
# orderkey meet anywhere — the l_orderkey ext copy has the wrong
# layout for it, so the derived relations get partkey-bucketed copies
# of their own (the same multiple-layouts-per-table trade the raw
# facts adopted this round; copy names carry the key). Watermarks are
# the shared source-file-signature scheme against the RAW source each
# derivation reads, plus the derivation-formula version.
PART_EXT_VERSION = 2  # bump when the p_container formula OR file layout changes (2: r18 one-file-per-bucket)


def _ensure_bucketed_derived(
    spark, sf, relname: str, key: str, build_df, src_name: str, version: int,
    keyed: bool = True,
) -> str:
    """The at-rest copy of a DERIVED relation bucketed on ``key`` under
    ``dv_bkt_{relname}_{key}_{tag}`` (``dv_bkt_{relname}_{tag}`` when
    not ``keyed``); returns the catalog table name. The watermark is the
    RAW source's file signature plus the derivation version.

    r18 (guide §6): the build repartitions by the bucket key first —
    the repartition hash IS the bucket-id hash (both
    pmod(Murmur3, FACT_BUCKETS)), so each task holds exactly one bucket
    and writes exactly ONE sorted file (unrepartitioned, every spread()
    partition wrote a file per bucket — 1024 files at sf0.1 — which
    multiplied per-file open/listing cost and silently disabled the
    sorted-bucket-scan recognition; see tests/test_bucketing.py
    single-file pins)."""
    import os

    wm = {"version": version, "key": key} if keyed else {"version": version}
    wm["files"] = _source_signature(os.path.join(str(sf), f"{src_name}.parquet"))
    return ensure_copy(
        spark,
        copy_name(sf, "dv_bkt", relname, *([key] if keyed else [])),
        [key],
        FACT_BUCKETS,
        wm,
        lambda: build_df(spark, sf).repartition(FACT_BUCKETS, F.col(key)),
        on_drop=lambda: evict_session_caches(sf),
    )


def ensure_bucketed_lineitem_ext_by_part(spark, sf) -> str:
    """lineitem_ext bucketed on l_partkey — q19's layout (its part
    meet is the whole query; the l_orderkey ext copy serves q12/q21)."""
    return _ensure_bucketed_derived(
        spark, sf, "lineitem_ext", "l_partkey",
        _lineitem_ext_build, "lineitem", LINEITEM_EXT_VERSION,
    )


def ensure_bucketed_part_ext(spark, sf) -> str:
    """part_ext bucketed on p_partkey — the build side of q19's meet."""
    return _ensure_bucketed_derived(
        spark, sf, "part_ext", "p_partkey",
        _part_ext_build, "part", PART_EXT_VERSION,
    )


SQL_PART_EXT_CTE = f"""
part_ext AS (
  SELECT p.*,
         list_extract({CONTAINERS!r},
           CAST(CAST('0x' || substr(md5('pc|' || CAST(p_partkey AS VARCHAR)), 1, 15)
                AS BIGINT) % 40 + 1 AS INT)) AS p_container
  FROM part p)
"""


# -- q2: min-cost supplier -------------------------------------------------
Q2_SIZE_MIN, Q2_SIZE_MAX = 10, 20
Q2_TYPE = "LARGE"
Q2_REGION = "EUROPE"


def q2_min_cost_supplier(spark, sf):
    """TPC-H Q2 shape: for each qualifying part, the supplier(s) whose
    supply cost equals the region-wide minimum for that part.

    Scale: nation/region are broadcast dims; supplier is
    SF-proportional so it carries NO hint (the q7 rule, r9 — the
    planner auto-broadcasts it while it fits, the join degrades to a
    key shuffle at 100 TB); partsupp (fact, derived map-only from
    part) shuffles once on ps_partkey for the min-cost aggregation
    and once for the join back — the same two-exchange shape a stored
    partsupp would give. Equality on ps_supplycost is exact: both
    sides carry the identical IEEE double produced by the same
    derivation."""
    ps = partsupp_df(spark, sf)
    supplier = load(spark, sf, "supplier")
    nation = F.broadcast(load(spark, sf, "nation"))
    region = F.broadcast(
        load(spark, sf, "region").where(F.col("r_name") == Q2_REGION)
    )
    part = load(spark, sf, "part").where(
        F.col("p_size").between(Q2_SIZE_MIN, Q2_SIZE_MAX)
        & (F.col("p_type") == Q2_TYPE)
    )
    eligible = (
        ps.join(supplier, ps.ps_suppkey == F.col("s_suppkey"))
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(region, F.col("n_regionkey") == F.col("r_regionkey"))
    )
    mincost = eligible.groupBy("ps_partkey").agg(
        F.min("ps_supplycost").alias("min_cost")
    )
    return (
        eligible.join(part, F.col("ps_partkey") == F.col("p_partkey"))
        .join(
            mincost.withColumnRenamed("ps_partkey", "mc_partkey"),
            (F.col("ps_partkey") == F.col("mc_partkey"))
            & (F.col("ps_supplycost") == F.col("min_cost")),
        )
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_brand",
            F.col("ps_supplycost").alias("supply_cost"),
        )
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
    )


SQL_Q2 = f"""
WITH {SQL_PARTSUPP_CTE},
eligible AS (
  SELECT ps.*, s_acctbal, s_name, n_name
  FROM partsupp ps
  JOIN supplier ON ps_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = '{Q2_REGION}'),
mincost AS (
  SELECT ps_partkey AS mc_partkey, min(ps_supplycost) AS min_cost
  FROM eligible GROUP BY 1)
SELECT s_acctbal, s_name, n_name, p_partkey, p_brand,
       ps_supplycost AS supply_cost
FROM eligible
JOIN part ON ps_partkey = p_partkey
JOIN mincost ON ps_partkey = mc_partkey AND ps_supplycost = min_cost
WHERE p_size BETWEEN {Q2_SIZE_MIN} AND {Q2_SIZE_MAX} AND p_type = '{Q2_TYPE}'
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
"""


# -- q9: product type profit -----------------------------------------------
Q9_NAME_FRAGMENT = "red"


def q9_product_profit(spark, sf):
    """TPC-H Q9: profit (revenue minus derived supply cost) by supplier
    nation and order year, for parts whose name contains a color.

    r11: lineitem⨝orders runs FIRST over the persisted bucketed fact
    copies (operators/bucketing.ensure_bucketed_fact) — co-located
    bucket scans, zero-exchange SMJ — removing both orderkey shuffles
    from the plan (at 100 TB the dominant cost). The joined fact then
    pays the partkey/(partkey,suppkey) shuffles for part/partsupp;
    part/supplier stay hint-free (SF-proportional, the q7 rule, r9);
    only constant-size nation broadcasts. Decimal accumulation for
    the order-independent profit sum. A/B at sf0.1 (SCALE.md r11):
    1.42s → 0.76s best-of-4, identical output."""
    from data_validator_spark.operators.bucketing import bucketed_fact

    part = load(spark, sf, "part").where(F.col("p_name").contains(Q9_NAME_FRAGMENT))
    supplier = load(spark, sf, "supplier")
    nation = F.broadcast(load(spark, sf, "nation"))
    li = bucketed_fact(spark, sf, "lineitem", "l_orderkey")
    orders = bucketed_fact(spark, sf, "orders", "o_orderkey")
    ps = partsupp_df(spark, sf)
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "ps_supplycost"
    ) * F.col("l_quantity")
    li_o = li.hint("merge").join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_partkey",
        "l_suppkey",
        "l_extendedprice",
        "l_discount",
        "l_quantity",
        "o_orderdate",
    )
    return (
        li_o.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(
            ps,
            (F.col("l_partkey") == F.col("ps_partkey"))
            & (F.col("l_suppkey") == F.col("ps_suppkey")),
        )
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(dsum(amount, "sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


SQL_Q9 = f"""
WITH {SQL_PARTSUPP_CTE}
SELECT n_name AS nation,
       EXTRACT(year FROM o_orderdate) AS o_year,
       {sql_dsum("l_extendedprice * (1 - l_discount) - ps_supplycost * l_quantity", "sum_profit")}
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN partsupp ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
WHERE p_name LIKE '%{Q9_NAME_FRAGMENT}%'
GROUP BY 1, 2 ORDER BY nation, o_year DESC
"""


# -- q11: important stock --------------------------------------------------
Q11_NATION = "NATION_3"
Q11_FRACTION = 0.001


def q11_important_stock(spark, sf):
    """TPC-H Q11: per-part stock value in one nation, keeping parts
    above a fraction of the national total.

    Scale: one shuffle (groupBy ps_partkey); the national total is a
    second tiny aggregate of the SAME grouped relation (reused, not
    recomputed from the fact) broadcast into the filter. supplier is
    SF-proportional → no hint (the q7 rule, r9); nation keeps its
    constant-size hint."""
    ps = partsupp_df(spark, sf)
    supplier = load(spark, sf, "supplier")
    nation = F.broadcast(
        load(spark, sf, "nation").where(F.col("n_name") == Q11_NATION)
    )
    national = (
        ps.join(supplier, ps.ps_suppkey == F.col("s_suppkey"))
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            "ps_partkey",
            (F.col("ps_supplycost") * F.col("ps_availqty")).alias("v"),
        )
    )
    per_part = national.groupBy("ps_partkey").agg(dsum(F.col("v"), "value"))
    total = per_part.agg(
        F.sum(F.col("value").cast(DEC)).cast("double").alias("total")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .where(F.col("value") > F.col("total") * Q11_FRACTION)
        .select("ps_partkey", "value")
        .orderBy(F.col("value").desc(), "ps_partkey")
    )


SQL_Q11 = f"""
WITH {SQL_PARTSUPP_CTE},
national AS (
  SELECT ps_partkey, ps_supplycost * ps_availqty AS v
  FROM partsupp
  JOIN supplier ON ps_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = '{Q11_NATION}'),
per_part AS (
  SELECT ps_partkey, {sql_dsum("v", "value")} FROM national GROUP BY 1),
tot AS (
  SELECT CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total FROM per_part)
SELECT ps_partkey, value FROM per_part, tot
WHERE value > total * {Q11_FRACTION}
ORDER BY value DESC, ps_partkey
"""


# -- q12: shipmode priority ------------------------------------------------
Q12_MODES = ("MAIL", "SHIP")
Q12_YEAR_START = "1997-01-01"
Q12_YEAR_END = "1998-01-01"


def q12_shipmode_priority(spark, sf):
    """TPC-H Q12: late-commit analysis by ship mode over one receipt
    year. r13: reads the at-rest bucketed lineitem_ext copy
    (ensure_bucketed_lineitem_ext) joined to the bucketed orders fact
    — both bucketed+sorted on the order key, so the fact⨝fact join is
    a zero-exchange colocated SMJ instead of shuffling both sides (at
    100 TB that shuffle IS the query). Bonus of the at-rest copy: the
    shipmode/receiptdate/commitdate predicates hit REAL parquet
    columns, so they push down to the scan (PushedFilters) instead of
    evaluating above an md5 div-chain."""
    from data_validator_spark.operators.bucketing import bucketed_fact

    li = spark.table(ensure_bucketed_lineitem_ext(spark, sf))
    orders = bucketed_fact(spark, sf, "orders", "o_orderkey")
    start, end = F.to_date(F.lit(Q12_YEAR_START)), F.to_date(F.lit(Q12_YEAR_END))
    filtered = li.where(
        F.col("l_shipmode").isin(*Q12_MODES)
        & (F.col("l_commitdate") < F.col("l_receiptdate"))
        & (F.col("l_shipdate").cast("date") < F.col("l_commitdate"))
        & (F.col("l_receiptdate") >= start)
        & (F.col("l_receiptdate") < end)
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        filtered.hint("merge")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_shipmode")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_shipmode")
    )


SQL_Q12 = f"""
WITH {SQL_LINEITEM_EXT_CTE}
SELECT l_shipmode,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem_ext
JOIN orders ON l_orderkey = o_orderkey
WHERE CAST(l_shipdate AS DATE) >= DATE '{Q12_YEAR_START}' - 31
  AND CAST(l_shipdate AS DATE) < DATE '{Q12_YEAR_END}'
  AND l_shipmode IN {Q12_MODES!r}
  AND l_commitdate < l_receiptdate
  AND CAST(l_shipdate AS DATE) < l_commitdate
  AND l_receiptdate >= DATE '{Q12_YEAR_START}'
  AND l_receiptdate < DATE '{Q12_YEAR_END}'
GROUP BY l_shipmode ORDER BY l_shipmode
"""


# -- q16: parts/supplier relationship --------------------------------------
Q16_BRAND = "Brand#5"
Q16_TYPE = "PROMO"
Q16_SIZES = (1, 4, 7, 10, 13, 16, 19, 23)


def q16_parts_supplier(spark, sf):
    """TPC-H Q16: distinct supplier count per (brand, type, size),
    excluding 'complaint' suppliers — here a deterministic 1-in-25
    hash subset, since the corpus has no s_comment column.

    Scale: partsupp shuffles once on ps_partkey for the part join,
    the complaint set is an anti-join against a derived supplier
    subset, and the distinct count is one more shuffle on the group
    key. part and supplier are SF-proportional → no hints (the q7
    rule, r9); the planner auto-broadcasts them while they fit."""
    ps = partsupp_df(spark, sf)
    part = load(spark, sf, "part").where(
        (F.col("p_brand") != Q16_BRAND)
        & (F.col("p_type") != Q16_TYPE)
        & F.col("p_size").isin(*Q16_SIZES)
    )
    complaints = (
        load(spark, sf, "supplier")
        .where(_hash60(F.lit("sc"), F.col("s_suppkey")) % 25 == 0)
        .select(F.col("s_suppkey").alias("bad_suppkey"))
    )
    return (
        ps.join(part, F.col("ps_partkey") == F.col("p_partkey"))
        .join(complaints, F.col("ps_suppkey") == F.col("bad_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


SQL_Q16 = f"""
WITH {SQL_PARTSUPP_CTE}
SELECT p_brand, p_type, p_size,
       CAST(COUNT(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
FROM partsupp
JOIN part ON ps_partkey = p_partkey
WHERE p_brand <> '{Q16_BRAND}' AND p_type <> '{Q16_TYPE}'
  AND p_size IN {Q16_SIZES!r}
  AND ps_suppkey NOT IN (
    SELECT s_suppkey FROM supplier
    WHERE CAST('0x' || substr(md5('sc|' || CAST(s_suppkey AS VARCHAR)), 1, 15)
          AS BIGINT) % 25 = 0)
GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


# -- q19: discounted revenue (bracketed OR predicate) ----------------------
def q19_discounted_revenue(spark, sf):
    """TPC-H Q19: revenue from three brand/container/quantity/size
    brackets — the classic OR-of-ANDs predicate — over air shipments
    delivered in person.

    Scale (r15): both sides read partkey-bucketed at-rest copies of
    the DERIVED relations (lineitem_ext on l_partkey — a second ext
    layout next to q12/q21's orderkey one — and part_ext on
    p_partkey), so the meet is a colocated SMJ with ZERO exchanges
    and the shipmode/shipinstruct predicates push into the copy scan
    as real parquet columns. part stays SF-proportional with NO
    broadcast hint (the q7 rule, r9) — at small SF the planner still
    auto-broadcasts it; at 100 TB the colocated layout is what
    removes the shuffle instead of a forced 1e8-row build."""
    # session-persist the COPY scans (not the raw derivations): the
    # InMemoryRelation keeps the bucketed scan's HashPartitioning
    # (the pagerank r10 rule), so the meet stays colocated AND warm
    # executions read columnar memory instead of re-decoding parquet
    # (A/B at sf0.1: 1.14s pure-parquet vs 0.42s cached-copy steady;
    # the old UNBUCKETED session cache was 0.48s and shuffled both
    # sides at scale).
    li = _EXT_CACHE.get(
        spark, sf,
        lambda: spark.table(ensure_bucketed_lineitem_ext_by_part(spark, sf)),
        "lineitem_ext_by_part",
    )
    part = _EXT_CACHE.get(
        spark, sf,
        lambda: spark.table(ensure_bucketed_part_ext(spark, sf)),
        "part_ext_by_key",
    )
    q = F.col("l_quantity")
    sz = F.col("p_size")
    br1 = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_container").isin("SM CASE", "SM BOX", "SM PACK", "SM PKG")
        & q.between(1, 11)
        & sz.between(1, 5)
    )
    br2 = (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_container").isin("MED BAG", "MED BOX", "MED PKG", "MED PACK")
        & q.between(10, 20)
        & sz.between(1, 10)
    )
    br3 = (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_container").isin("LG CASE", "LG BOX", "LG PACK", "LG PKG")
        & q.between(20, 30)
        & sz.between(1, 15)
    )
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .where(
            F.col("l_shipmode").isin("AIR", "REG AIR")
            & (F.col("l_shipinstruct") == "DELIVER IN PERSON")
            & (br1 | br2 | br3)
        )
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


SQL_Q19 = f"""
WITH {SQL_LINEITEM_EXT_CTE},
{SQL_PART_EXT_CTE}
SELECT {sql_dsum("l_extendedprice * (1 - l_discount)", "revenue")},
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem_ext
JOIN part_ext ON l_partkey = p_partkey
WHERE l_shipmode IN ('AIR','REG AIR')
  AND l_shipinstruct = 'DELIVER IN PERSON'
  AND ((p_brand = 'Brand#12'
        AND p_container IN ('SM CASE','SM BOX','SM PACK','SM PKG')
        AND l_quantity BETWEEN 1 AND 11 AND p_size BETWEEN 1 AND 5)
    OR (p_brand = 'Brand#23'
        AND p_container IN ('MED BAG','MED BOX','MED PKG','MED PACK')
        AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 10)
    OR (p_brand = 'Brand#3'
        AND p_container IN ('LG CASE','LG BOX','LG PACK','LG PKG')
        AND l_quantity BETWEEN 20 AND 30 AND p_size BETWEEN 1 AND 15))
"""


# -- q20: potential part promotion -----------------------------------------
Q20_NAME_PREFIX = "small"
Q20_NATION = "NATION_7"
Q20_YEAR_START = "1997-01-01"
Q20_YEAR_END = "1998-01-01"


def q20_potential_promotion(spark, sf):
    """TPC-H Q20: suppliers in one nation holding excess stock
    (availqty > half the year's shipped quantity) of matching parts.

    Scale: the year's shipped quantity is one lineitem aggregate on
    (partkey, suppkey); partsupp joins it shuffle-to-shuffle on the
    same key, part/nation broadcast, and the final supplier pick is a
    left-semi join — no row explosion anywhere."""
    # r19: ride the l_partkey-bucketed copy (q14/q17's layout) instead
    # of spread(load()): the 32 bucket files parallelize the scan with
    # no round-robin exchange, and HashPartitioning(l_partkey)
    # satisfies the (l_partkey, l_suppkey) groupBy's clustering, so
    # the shipped aggregate plans exchange-free. A/B at sf0.1:
    # 1.22s → 0.69s best-of-5, identical output.
    li = load_lineitem_by_part(spark, sf)
    start, end = F.to_date(F.lit(Q20_YEAR_START)), F.to_date(F.lit(Q20_YEAR_END))
    shipped = (
        li.where((F.to_date("l_shipdate") >= start) & (F.to_date("l_shipdate") < end))
        .groupBy("l_partkey", "l_suppkey")
        .agg(dsum(F.col("l_quantity"), "qty"))
    )
    # part is SF-proportional → no hint (the q7 rule, r9)
    part = load(spark, sf, "part").where(F.col("p_name").startswith(Q20_NAME_PREFIX))
    ps = partsupp_df(spark, sf)
    excess = (
        ps.join(part, F.col("ps_partkey") == F.col("p_partkey"))
        .join(
            shipped,
            (F.col("ps_partkey") == F.col("l_partkey"))
            & (F.col("ps_suppkey") == F.col("l_suppkey")),
        )
        .where(F.col("ps_availqty") > 0.5 * F.col("qty"))
        .select(F.col("ps_suppkey").alias("k"))
        .distinct()
    )
    nation = F.broadcast(
        load(spark, sf, "nation").where(F.col("n_name") == Q20_NATION)
    )
    supplier = load(spark, sf, "supplier").join(
        nation, F.col("s_nationkey") == F.col("n_nationkey")
    )
    return (
        supplier.join(excess, F.col("s_suppkey") == F.col("k"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_name")
    )


SQL_Q20 = f"""
WITH {SQL_PARTSUPP_CTE},
shipped AS (
  SELECT l_partkey, l_suppkey, {sql_dsum("l_quantity", "qty")}
  FROM lineitem
  WHERE CAST(l_shipdate AS DATE) >= DATE '{Q20_YEAR_START}'
    AND CAST(l_shipdate AS DATE) < DATE '{Q20_YEAR_END}'
  GROUP BY 1, 2),
excess AS (
  SELECT DISTINCT ps_suppkey
  FROM partsupp
  JOIN part ON ps_partkey = p_partkey
  JOIN shipped ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
  WHERE p_name LIKE '{Q20_NAME_PREFIX}%' AND ps_availqty > 0.5 * qty)
SELECT s_suppkey, s_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = '{Q20_NATION}' AND s_suppkey IN (SELECT ps_suppkey FROM excess)
ORDER BY s_name
"""


# -- q21: suppliers who kept orders waiting --------------------------------
Q21_NATION = "NATION_5"


def q21_waiting_orders(spark, sf):
    """TPC-H Q21: suppliers in one nation who were the SOLE late
    supplier on a finished multi-supplier order.

    Scale: instead of the literal EXISTS/NOT-EXISTS pair (a left-semi
    + left-anti self-join — three passes over the derived lineitem),
    one per-order min/max supplier census answers both arms:
    multi-supplier ⟺ min(suppkey) ≠ max(suppkey); sole late supplier
    ⟺ min/max over late rows coincide — and when they do, THAT key is
    the waiting supplier and the census's late-line count is its
    per-order numwait contribution. min/max/count aggregate in a
    single map-side-combined pass (no countDistinct Expand), so
    lineitem is scanned exactly ONCE (r11 scanned it twice: census +
    late-row re-read; benched 3.9 s → ~2.4 s → ~1.3 s at sf0.1).

    r13: the census reads the at-rest bucketed lineitem_ext copy
    (ensure_bucketed_lineitem_ext) and orders its bucketed fact — both
    bucketed+sorted on the order key, so the groupBy inherits the scan
    partitioning (no exchange) and the census⨝orders SMJ is colocated.
    The supplier/nation dim join runs LAST, on the tiny qualifying
    remainder (inner joins commute; the census conditions don't
    involve supplier), so at 100 TB the only suppkey join sees a few
    rows per nation instead of every late line. The receipt/commit
    comparison evaluates over real parquet columns instead of an md5
    div-chain."""
    from data_validator_spark.operators.bucketing import bucketed_fact

    li = spark.table(ensure_bucketed_lineitem_ext(spark, sf)).select(
        "l_orderkey", "l_suppkey", "l_commitdate", "l_receiptdate"
    )
    is_late = F.col("l_receiptdate") > F.col("l_commitdate")
    flags = li.groupBy("l_orderkey").agg(
        F.min("l_suppkey").alias("min_s"),
        F.max("l_suppkey").alias("max_s"),
        F.min(F.when(is_late, F.col("l_suppkey"))).alias("min_ls"),
        F.max(F.when(is_late, F.col("l_suppkey"))).alias("max_ls"),
        F.count(F.when(is_late, F.lit(1))).alias("n_late"),
    )
    orders = bucketed_fact(spark, sf, "orders", "o_orderkey").where(F.col("o_orderstatus") == "F")
    nation = F.broadcast(
        load(spark, sf, "nation").where(F.col("n_name") == Q21_NATION)
    )
    # supplier is SF-proportional even nation-filtered (1/25) → no
    # hint (the q7 rule, r9); auto-broadcast covers small SFs
    supplier = load(spark, sf, "supplier").join(
        nation, F.col("s_nationkey") == F.col("n_nationkey")
    )
    qualifying = (
        flags.where(
            F.col("min_ls").isNotNull()  # at least one late line
            & (F.col("min_s") != F.col("max_s"))  # another supplier exists
            & (F.col("min_ls") == F.col("max_ls"))  # ... but only one late
        )
        .hint("merge")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(F.col("min_ls").alias("l_suppkey"), "n_late")
    )
    return (
        qualifying.join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.sum("n_late").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
    )


SQL_Q21 = f"""
WITH {SQL_LINEITEM_EXT_CTE}
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM lineitem_ext l1
JOIN orders ON l1.l_orderkey = o_orderkey
JOIN supplier ON l1.l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE o_orderstatus = 'F' AND n_name = '{Q21_NATION}'
  AND l1.l_receiptdate > l1.l_commitdate
  AND EXISTS (
    SELECT 1 FROM lineitem_ext l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
    SELECT 1 FROM lineitem_ext l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_receiptdate > l3.l_commitdate)
GROUP BY s_name
ORDER BY numwait DESC, s_name
"""


QUERIES = {
    "q2_min_cost_supplier": q2_min_cost_supplier,
    "q9_product_profit": q9_product_profit,
    "q11_important_stock": q11_important_stock,
    "q12_shipmode_priority": q12_shipmode_priority,
    "q16_parts_supplier": q16_parts_supplier,
    "q19_discounted_revenue": q19_discounted_revenue,
    "q20_potential_promotion": q20_potential_promotion,
    "q21_waiting_orders": q21_waiting_orders,
}

ORACLES = {
    "q2_min_cost_supplier": SQL_Q2,
    "q9_product_profit": SQL_Q9,
    "q11_important_stock": SQL_Q11,
    "q12_shipmode_priority": SQL_Q12,
    "q16_parts_supplier": SQL_Q16,
    "q19_discounted_revenue": SQL_Q19,
    "q20_potential_promotion": SQL_Q20,
    "q21_waiting_orders": SQL_Q21,
}
