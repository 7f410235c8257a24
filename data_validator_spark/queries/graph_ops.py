"""Graph analytics over the purchase graph: PageRank on the
customer–supplier bipartite graph (who-buys-from-whom), the iterative
DataFrame pattern that complements the connected-components family in
dedup.py / operators/cc_star.py.

Scale shape: the doubled edge relation is checkpointed ONCE,
hash-partitioned on dst; each power iteration broadcasts the
node-count-sized rank relation into the edge join — the edge side
never moves — and the contribution groupBy(dst) inherits the
checkpoint's partitioning, so a round pays ZERO exchanges (r10).
The driver never sees data — iterations are a fixed unrolled chain,
so Catalyst plans the whole thing as one DAG. When node count
outgrows the broadcast threshold (billions of nodes at 100 TB), the
loop flips to a shuffle join against the same dst-partitioned edge
checkpoint, leaving the algebra unchanged; three unrolled rounds at
bench scale keep the oracle a finite CTE chain.

Cross-engine determinism: rank contributions are summed in exact
fixed-point — each per-edge weight pr/deg (IEEE double, identical in
both engines) is quantized to integer units of 2^-50 via
floor(w·2^50 + 0.5) (every step exact: scaling by a power of two
never rounds below 2^53, and 0.5 is a multiple of the ulp at these
magnitudes), and the BIGINT sum is order-independent. Overflow-free
at ANY scale by the stochastic-matrix bound: the true mass into one
node is ≤ Σ pr = 1, so the integer sum stays ≤ 2^50 + indegree/2 ≪
2^63 — unlike money sums, which is why this query may use longs
where the package-wide convention needs decimal(30,6). The final
output rounds to 12 decimals.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from data_validator_spark.queries import SessionCache

DAMPING = 0.85
PR_ITERS = 3
# Fixed-point scale for the per-round contribution sums (module
# docstring): 2^50 units keep every quantization step exact in IEEE
# double and the per-node BIGINT sum overflow-free at any SF.
PR_FIX = 1 << 50
# Target edge rows per checkpoint partition (see _graph): sizes every
# per-iteration stage from the graph itself rather than the session's
# shuffle.partitions.
EDGE_ROWS_PER_PARTITION = 300_000

# The checkpointed pair/node relations are static per (session, SF)
# and every pagerank invocation re-derived them (fact join + distinct
# + two localCheckpoint actions) before a single iteration ran.
_GRAPH_CACHE = SessionCache()


def _pairs(spark, sf):
    """Distinct customer–supplier purchase pairs; node id = 2*custkey
    for customers, 2*suppkey+1 for suppliers. orders is a FACT, so no
    broadcast hint (the q7 rule, r9 — r8 force-broadcast its two-int
    projection, which is still 1.5e11 rows at 100 TB): the planner
    auto-broadcasts the projection while it fits, and at scale the
    join correctly shuffles both facts on orderkey before the pair
    distinct (the wide exchange either way)."""
    # r14: the one-time pair derivation reads both at-rest orderkey-
    # bucketed copies as a zero-exchange colocated SMJ (SCALE.md r14
    # at-scale census) — the only remaining wide exchange in the
    # graph-cache build is the unavoidable pair DISTINCT.
    from data_validator_spark.operators.bucketing import bucketed_fact

    o = bucketed_fact(spark, sf, "orders", "o_orderkey").select(
        "o_orderkey", "o_custkey"
    )
    l = bucketed_fact(spark, sf, "lineitem", "l_orderkey").select(
        "l_orderkey", "l_suppkey"
    )
    return (
        l.hint("merge")
        .join(o, o.o_orderkey == l.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
    )


def _graph(spark, sf):
    """(edges_deg, n) — the persisted (MEMORY_AND_DISK) degree-carrying
    edge relation plus the node count as a driver scalar, once per
    session+SF.

    The edge relation is materialized DOUBLED (both directions) and
    hash-partitioned on dst (r10, the r9-verdict exchange cut):
    HashPartitioning(dst, K) satisfies the per-round contribution
    aggregation's ClusteredDistribution for ANY K, and the
    InMemoryRelation preserves that partitioning — so every
    iteration's groupBy(dst) runs with NO shuffle at all (the
    broadcast rank join preserves the streamed edge side's
    partitioning). Twice the cache footprint of the single-direction
    pair relation it replaces, in exchange for zero per-round
    exchanges; this dst-partitioned layout is also exactly the
    edge-partitioned shape the 100 TB shuffle-join variant wants.

    r14 (r13 verdict item 6, A/B ADOPTED): each edge row now CARRIES
    its source's out-degree (one extra BIGINT, joined once at cache
    build), and the node count collapses to a driver scalar (two
    bounded actions — a count and nothing else — at build time). With
    deg at-rest on the edge and n a literal, an iteration needs ONLY
    the mass relation from the previous round: the per-round
    nodes-join disappears, the broadcast payload halves
    ((dst, mass) instead of (node, deg, n, pr)), and round 1 — whose
    uniform 1/N rank is a constant — needs no join at all, deleting
    one of the three sequential broadcast-build barriers that were
    the documented r13 residue.

    Lineage trade-off (ADVICE r10): persist does NOT truncate lineage
    the way the pre-r10 localCheckpoint did — an evicted edge block
    recomputes the orders⋈lineitem fact join mid-iteration. That is
    accepted deliberately: checkpointed LogicalRDDs report
    UnknownPartitioning under AQE (see the inline comment below),
    which re-inserts the per-round exchange the whole design removes.
    MEMORY_AND_DISK makes eviction a disk spill, not a drop, so the
    recompute path only triggers if executor storage is lost."""
    return _GRAPH_CACHE.get(spark, sf, lambda: _build_graph(spark, sf))


def _build_graph(spark, sf):
    import math

    from pyspark import StorageLevel

    # Size the edge checkpoint from the data, not the session conf
    # (the similarity._derived_params pattern): every per-round stage
    # inherits this partition count, and at bench scale 32 conf-sized
    # partitions mean ~35k-row tasks where scheduling dominates
    # (A/B at sf0.1: 1.15s @ 32 parts -> 0.71s @ 4). The divisor
    # keeps tasks ~300k edges — small enough to stay in cache-friendly
    # memory, large enough that a 100 TB edge set fans out to far more
    # partitions than any cluster's cores.
    pairs = _pairs(spark, sf).persist(StorageLevel.MEMORY_AND_DISK)
    n_edges = 2 * pairs.count()
    nparts = max(1, math.ceil(n_edges / EDGE_ROWS_PER_PARTITION))
    # persist, NOT localCheckpoint: a checkpointed LogicalRDD under
    # AQE reports UnknownPartitioning, so every round would re-insert
    # the ENSURE_REQUIREMENTS exchange the repartition exists to
    # pre-pay. InMemoryRelation preserves the cached plan's
    # HashPartitioning (AQE keeps cached-plan partitioning stable by
    # default), and unpersist() composes with cache eviction.
    raw = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).union(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    # deg is persisted across the TWO build actions (ADVICE r14: the
    # former bare `deg.count()` re-ran the full doubled-edge groupBy a
    # second time — two full-edge aggregations for one scalar); it is
    # node-count-sized, feeds the edges_deg join from cache, and is
    # released as soon as both actions have run.
    deg = raw.groupBy("src").agg(F.count(F.lit(1)).alias("deg")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    edges_deg = (
        raw.join(deg, "src")
        .repartition(nparts, F.col("dst"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    edges_deg.count()  # materialize once, when the cache entry is built
    n = deg.count()  # node count — ONE scalar, served from the persisted deg
    deg.unpersist()
    pairs.unpersist()
    return edges_deg, n


def q_pagerank_bipartite(spark, sf):
    # Materialize the dst-partitioned DOUBLED degree-carrying edge
    # relation once per session (_graph: persisted MEMORY_AND_DISK,
    # partitioning-preserving; see _graph's lineage note — the
    # unrolled iterations would otherwise re-run the fact join every
    # round). Per round the rank join BROADCASTS the node-count-sized
    # (dst, mass) relation — the edge side never moves — and the
    # contribution groupBy(dst) inherits the checkpoint's
    # HashPartitioning(dst), so an iteration pays ZERO exchanges (r10
    # verdict item 3). r14 (r13 verdict item 6, A/B ADOPTED −33/−48%
    # median-of-8 across two boots, identical output): deg rides ON
    # the edge row and n is a driver literal, so the per-round
    # nodes-join is gone, the broadcast halves, and round 1 — whose
    # uniform 1/N rank is a constant — runs joinless, deleting one of
    # the three sequential broadcast-build barriers (the documented
    # r13 residue). The rank recurrence is applied INSIDE the next
    # round's contribution projection (same IEEE double ops in the
    # same order as the oracle's per-round spelling — outputs
    # hash-identical). At node counts beyond the broadcast threshold
    # (billions of nodes at 100 TB) the loop flips to a shuffle join
    # against the same dst-partitioned checkpoint without touching
    # the algebra.
    #
    # Cost note (r7, measured): decimal(38,18) contribution sums were
    # ~half the warm runtime at sf0.1 (0.84s double vs 1.6s decimal,
    # best-of-3). Plain double sums are out — the cross-engine error
    # window (~1e-14 after 3 rounds) against the ROUND(pr,12) emission
    # grid flips last digits for ~2% of nodes depending on summation
    # order. The fixed-point BIGINT sums (module docstring) give the
    # same order-independent exactness at long-sum speed, because the
    # per-node mass — unlike a money column — is mathematically
    # bounded by 1, so 2^50-unit integers can never overflow.
    #
    # The inner join is lossless: the edge set is the symmetric union
    # of both pair directions, so every node is the dst of at least
    # one edge and every round's sums covers the full node universe
    # (the oracle keeps its LEFT JOIN + COALESCE spelling — same rows
    # either way).
    edges_deg, n = _graph(spark, sf)
    pr0 = 1.0 / n  # uniform start
    base = (1.0 - DAMPING) / n  # teleport mass, constant per node
    w = edges_deg.select(
        "dst",
        F.expr(f"CAST(floor({pr0!r} / deg * {PR_FIX} + 0.5D) AS BIGINT)").alias("w"),
    )
    for _ in range(1, PR_ITERS):
        sums = w.groupBy("dst").agg(
            (F.sum("w").cast("double") / F.lit(float(PR_FIX))).alias("mass")
        )
        w = edges_deg.join(
            F.broadcast(sums.withColumnRenamed("dst", "src")), "src"
        ).select(
            "dst",
            F.expr(
                f"CAST(floor(({base!r} + {DAMPING!r} * mass) / deg * {PR_FIX} + 0.5D)"
                " AS BIGINT)"
            ).alias("w"),
        )
    final = w.groupBy("dst").agg(
        (F.sum("w").cast("double") / F.lit(float(PR_FIX))).alias("mass")
    )
    pr = final.select(
        F.col("dst").alias("node"),
        (F.lit(base) + F.lit(DAMPING) * F.col("mass")).alias("pr"),
    )
    return (
        pr.select(
            F.when(F.col("node") % 2 == 0, F.lit("customer"))
            .otherwise(F.lit("supplier"))
            .alias("node_type"),
            F.expr("node div 2").alias("orig_id"),
            F.round("pr", 12).alias("pr"),
        )
        .orderBy(F.desc("pr"), "orig_id", "node_type")
        .limit(20)
    )


def _sql_pagerank() -> str:
    its = []
    prev = "pr0"
    for i in range(1, PR_ITERS + 1):
        its.append(
            f"""
pr{i} AS (
  SELECT n.node, n.deg, n.n,
         {1.0 - DAMPING!r} / n.n + {DAMPING} * COALESCE(s.mass, 0.0) AS pr
  FROM nodes n LEFT JOIN (
    SELECT e.dst,
           CAST(SUM(CAST(floor(p.pr / p.deg * {PR_FIX} + 0.5) AS BIGINT))
                AS DOUBLE) / {PR_FIX} AS mass
    FROM edges e JOIN {prev} p ON e.src = p.node
    GROUP BY e.dst) s ON n.node = s.dst)"""
        )
        prev = f"pr{i}"
    return f"""
WITH pairs AS (
  SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
edges AS (
  SELECT c AS src, s AS dst FROM pairs
  UNION ALL
  SELECT s AS src, c AS dst FROM pairs),
deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
nn AS (SELECT COUNT(*) AS n FROM deg),
nodes AS (SELECT src AS node, deg, n FROM deg CROSS JOIN nn),
pr0 AS (SELECT node, deg, n, 1.0 / n AS pr FROM nodes),
{','.join(its)}
SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
       node // 2 AS orig_id,
       ROUND(pr, 12) AS pr
FROM {prev}
ORDER BY pr DESC, orig_id, node_type LIMIT 20
"""


# -- triangle_count --------------------------------------------------------
def q_triangle_count(spark, sf):
    """Triangle census of the near-duplicate candidate graph (the LSH
    pair relation shared with the dedup family): node/edge counts,
    wedge count Σ C(deg,2), triangle count, and global transitivity
    3·T/W — the cluster-cohesion diagnostic that separates tight dup
    clusters (cliques → transitivity ≈ 1) from chains of borderline
    matches (transitivity ≈ 0), i.e. how trustworthy transitive
    dedup (`dedup_clusters`) is on this corpus.

    Scale shape: the compact-forward pattern on id-ordered edges
    (doc_a < doc_b, the orientation `_lsh_pairs_df` already emits):
    wedges anchored at the minimum vertex join back against the edge
    relation, so each triangle is found exactly once and the join
    never expands beyond (edges × avg-degree). The edge relation is
    O(near-duplicates) — orders of magnitude below the corpus — and
    persisted once per session; degrees come from one
    map-side-combined groupBy. At 100 TB the same plan holds because
    every relation here is candidate-scale, not corpus-scale.

    Determinism: all counts are integers; transitivity is one exact
    int/int division rounded through decimal(30,6).
    """
    from data_validator_spark.queries import DEC
    from data_validator_spark.queries.dedup import _lsh_pairs_df

    pairs = _lsh_pairs_df(spark, sf)
    deg = (
        pairs.select(F.col("doc_a").alias("node"))
        .union(pairs.select(F.col("doc_b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    node_stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.expr("d * (d - 1) div 2")).alias("n_wedges"),
    )
    edge_stats = pairs.agg(F.count(F.lit(1)).alias("n_edges"))
    e1 = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    e2 = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("c"))
    e3 = pairs.select(F.col("doc_a").alias("b"), F.col("doc_b").alias("c"))
    tri = (
        e1.join(e2, "a")
        .where(F.col("b") < F.col("c"))
        .join(e3, ["b", "c"])
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        node_stats.crossJoin(edge_stats)
        .crossJoin(tri)
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.when(
                F.col("n_wedges") > 0,
                (F.col("n_triangles") * 3).cast("double")
                / F.col("n_wedges").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .cast(DEC)
            .cast("double")
            .alias("transitivity"),
        )
    )


def _sql_triangles() -> str:
    from data_validator_spark.queries.dedup import MAX_BUCKET, _sql_minhash_ctes

    return f"""
WITH {_sql_minhash_ctes()},
bsize AS (SELECT band, sig, count(*) AS c FROM bands GROUP BY 1, 2),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
  JOIN bsize ON a.band = bsize.band AND a.sig = bsize.sig
            AND bsize.c <= {MAX_BUCKET}),
deg AS (
  SELECT node, COUNT(*) AS d FROM (
    SELECT doc_a AS node FROM pairs UNION ALL SELECT doc_b FROM pairs)
  GROUP BY node),
node_stats AS (
  SELECT COUNT(*) AS n_nodes,
         CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges
  FROM deg),
edge_stats AS (SELECT COUNT(*) AS n_edges FROM pairs),
tri AS (
  SELECT COUNT(*) AS n_triangles
  FROM pairs e1
  JOIN pairs e2 ON e1.doc_a = e2.doc_a AND e1.doc_b < e2.doc_b
  JOIN pairs e3 ON e3.doc_a = e1.doc_b AND e3.doc_b = e2.doc_b)
SELECT n_nodes, n_edges, n_wedges, n_triangles,
       CAST(CAST(CASE WHEN n_wedges > 0
                 THEN CAST(n_triangles * 3 AS DOUBLE) / n_wedges
                 ELSE 0.0 END AS DECIMAL(30,6)) AS DOUBLE) AS transitivity
FROM node_stats CROSS JOIN edge_stats CROSS JOIN tri
"""


QUERIES = {
    "pagerank_bipartite": q_pagerank_bipartite,
    "triangle_count": q_triangle_count,
}
ORACLES = {
    "pagerank_bipartite": _sql_pagerank(),
    "triangle_count": _sql_triangles(),
}
