"""Corpus-preparation operators for LLM training pipelines — relevance
scoring (BM25), clustering (k-means over embeddings), language-model
quality scoring (char-trigram LM), exact-substring near-dup detection
(rolling windows), balanced sharding, domain-mix resampling,
k-anonymity auditing, and count-min-sketch heavy hitters.

Like pipeline_ops.py, these rows extend the reference engine
(target/data-validator has no LLM-pipeline surface) per the build
brief. Every operator is the declarative DataFrame API — native
column functions, map-side partial aggregation, broadcast for every
small relation — and each docstring states the 100 TB shape. The
cross-engine determinism rules are the package conventions
(queries/__init__.py): 60-bit md5-prefix hashes, decimal(30,6) exact
sums, explicit double casts, unique-key tiebreakers on every top-k.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F

from data_validator_spark.queries import (
    DEC,
    SessionCache,
    _sql_hash60,
    load,
    load_documents_by_id,
    load_embeddings_by_id,
)
from data_validator_spark.functions.text import hash60, normalized_text, token_count, tokens
from data_validator_spark.queries.textops import SQL_NORM, SQL_TOKENS


# -- bm25_topk -------------------------------------------------------------
BM25_TERMS = ["spark", "query", "window", "stream"]
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 20


def q_bm25_topk(spark, sf):
    """BM25 relevance: score every document against a fixed query-term
    set, return the top-20.

    Scale shape: per-term tf is computed with `filter(tokens, ...)`
    inside the row — NO explode, NO shuffle for term frequencies. The
    corpus statistics (N, per-term doc frequency, avg doc length) are
    ONE fused scalar aggregate (a single reduce to one row), broadcast
    back via crossJoin. The only ordered step is the final top-k,
    which Spark executes as TakeOrderedAndProject (per-partition heaps,
    no global sort). At 100 TB this is two scans and a 20-row result.

    Determinism: idf/score arithmetic is fixed-order double IEEE; the
    four per-term scores are added left-to-right explicitly in both
    engines; the emitted score passes through decimal(30,6).
    """
    df = load_documents_by_id(spark, sf)
    toks = tokens(F.col("text"))
    dl = token_count(F.col("text"))

    def tf(term: str):
        # single-arg lambda: a second parameter would be bound to
        # F.filter's element-index argument
        return F.size(F.filter(toks, lambda x: x == F.lit(term)))

    proj = df.select(
        "doc_id",
        dl.alias("dl"),
        *[tf(t).alias(f"tf_{t}") for t in BM25_TERMS],
    )
    stats = proj.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf_{t}") > 0).cast("long")).alias(f"df_{t}")
            for t in BM25_TERMS
        ],
    )
    scored = proj.crossJoin(F.broadcast(stats))
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")

    def term_score(t: str):
        tf = F.col(f"tf_{t}").cast("double")
        dfreq = F.col(f"df_{t}").cast("double")
        n = F.col("n_docs").cast("double")
        idf = F.log((n - dfreq + 0.5) / (dfreq + 0.5) + 1.0)
        denom = tf + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / avgdl)
        return idf * tf * (BM25_K1 + 1.0) / denom

    # left-to-right fixed-order addition, mirrored verbatim in the SQL
    score = term_score(BM25_TERMS[0])
    for t in BM25_TERMS[1:]:
        score = score + term_score(t)
    return (
        scored.select(
            "doc_id",
            *[f"tf_{t}" for t in BM25_TERMS],
            score.cast(DEC).cast("double").alias("score"),
        )
        .orderBy(F.desc("score"), "doc_id")
        .limit(BM25_TOPK)
    )


def _sql_bm25() -> str:
    tf_cols = ", ".join(
        f"len(list_filter({SQL_TOKENS}, x -> x = '{t}')) AS tf_{t}" for t in BM25_TERMS
    )
    df_cols = ", ".join(
        f"SUM(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS df_{t}" for t in BM25_TERMS
    )
    score_terms = " + ".join(
        f"(ln((CAST(n_docs AS DOUBLE) - df_{t} + 0.5) / (df_{t} + 0.5) + 1.0)"
        f" * tf_{t} * ({BM25_K1} + 1.0)"
        f" / (tf_{t} + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl"
        f" / (CAST(sum_dl AS DOUBLE) / n_docs))))"
        for t in BM25_TERMS
    )
    tf_out = ", ".join(f"tf_{t}" for t in BM25_TERMS)
    return f"""
WITH proj AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len({SQL_TOKENS}) END AS dl,
         {tf_cols}
  FROM documents),
stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl, {df_cols} FROM proj)
SELECT doc_id, {tf_out},
       CAST(CAST({score_terms} AS DECIMAL(30,6)) AS DOUBLE) AS score
FROM proj CROSS JOIN stats
ORDER BY score DESC, doc_id LIMIT {BM25_TOPK}
"""


# -- kmeans_embeddings -----------------------------------------------------
KMEANS_K = 8
KMEANS_ITERS = 2
EMB_DIM = 64


def _assign(df, centroids: list[tuple[int, list[float]]]):
    """Assign each vector to its nearest centroid (squared L2, exact
    integer arithmetic, ties to the lowest cluster id).

    Components quantize ONCE to integer milli-units (floor(x*1e3+0.5),
    identical in IEEE double on both engines — half-up on the same
    grid for vectors AND centroids), then the distance is the exact
    integer ||q_v - q_c||^2 in micro-units, computed via the
    ||q_v||^2 - 2<q_v,q_c> + ||q_c||^2 expansion as ONE Arrow-batched
    numpy matmul over all k centroids. Measured at sf0.1 (r17 A/B,
    10k vectors, k=8, dim=64): 0.55s vs 1.2-1.5s for the previous
    per-centroid zip_with/aggregate fold (interpreted lambda per
    element — 512 dispatches/row) and ~6s for a fully-unrolled 512-
    term codegen projection (generated method too wide for JIT — the
    same failure class as the minhash explode A/B). The rare
    justified Pandas-UDF hot path, like dedup's minhash kernel.

    Exactness: int64 throughout (|q| <= ~1e3·|x|, so the matmul is
    orders of magnitude under 2^63); argmin ties break to the first
    (= lowest, centroids arrive sorted) cluster id, mirroring the
    oracle's row_number ORDER BY d, cl."""
    import math

    import numpy as np

    qcs = np.array(
        [[int(math.floor(v * 1000.0 + 0.5)) for v in cent] for _, cent in centroids],
        dtype=np.int64,
    )
    cids = np.array([cid for cid, _ in centroids], dtype=np.int64)
    qc2 = (qcs * qcs).sum(axis=1)

    @F.pandas_udf("struct<cluster_id: bigint, dist: bigint>")
    def kassign(emb: pd.Series) -> pd.DataFrame:
        if len(emb) == 0:
            return pd.DataFrame({"cluster_id": [], "dist": []})
        m = np.stack([np.asarray(e, dtype=np.float64) for e in emb])
        q = np.floor(m * 1000.0 + 0.5).astype(np.int64)
        n2 = (q * q).sum(axis=1)
        d = n2[:, None] - 2 * (q @ qcs.T) + qc2[None, :]
        best = d.argmin(axis=1)
        return pd.DataFrame(
            {"cluster_id": cids[best], "dist": d[np.arange(len(best)), best]}
        )

    a = df.select(
        "vec_id",
        "embedding",
        kassign(F.col("embedding").cast("array<double>")).alias("a"),
    )
    return a.select(
        "vec_id",
        "embedding",
        F.col("a.cluster_id").alias("cluster_id"),
        F.col("a.dist").alias("dist"),
    )


_KMEANS_CENTROIDS_CACHE = SessionCache()


def q_kmeans_embeddings(spark, sf):
    """Distributed Lloyd's k-means over the embedding column: k=8,
    2 assignment rounds, deterministic init (the k lowest vec_ids).
    Output: per-cluster size, exact sum of squared distances, lowest
    member id.

    Scale shape — the canonical broadcast-centroid pattern (what
    MLlib's KMeans does): only k*dim doubles ever reach the driver;
    assignment is a map stage against centroids closed over the
    Arrow-vectorized kernel (one numpy matmul per batch, see _assign);
    recomputation is one posexplode + groupBy(cluster, dim) with
    map-side partial sums, so the shuffle carries k*dim partial
    aggregates per partition — bytes, not vectors. Iterations scale
    as O(iters) scans of the corpus.

    Determinism: distances are exact integer micro-units on a shared
    milli-unit quantization grid (order-independent; see _assign),
    argmin ties break to the lowest cluster id,
    and recomputed centroid components go through the package's
    exact-sum-then-double-divide rule so both engines iterate on
    bit-identical centroids. Clusters that lose all members drop out
    (same natural semantics in both engines).
    """
    df = load_embeddings_by_id(spark, sf).select("vec_id", "embedding")
    # the trained centroids are a pure function of the dataset
    # (deterministic init + bit-exact fixed-point arithmetic), so the
    # iterate loop — 2 corpus scans with a driver collect each — runs
    # once per (session, dataset); repeat executions pay only the
    # final assignment scan (r16, the trigram-model caching rule).
    # k*dim plain floats on the driver: eviction-safe scalar cache.
    def train():
        init = df.orderBy("vec_id").limit(KMEANS_K).collect()
        centroids = [(i, [float(x) for x in r.embedding]) for i, r in enumerate(init)]
        for _ in range(KMEANS_ITERS - 1):
            comp = (
                _assign(df, centroids)
                .select("cluster_id", F.posexplode(F.col("embedding").cast("array<double>")))
                .groupBy("cluster_id", "pos")
                .agg((F.sum(F.col("col").cast(DEC)).cast("double") / F.count("*")).alias("c"))
            )
            rows = comp.collect()
            by_cluster: dict[int, list[float]] = {}
            for r in rows:
                by_cluster.setdefault(r.cluster_id, [0.0] * EMB_DIM)[r.pos] = r.c
            centroids = sorted((cid, cent) for cid, cent in by_cluster.items())
        return centroids

    centroids = _KMEANS_CENTROIDS_CACHE.get(spark, sf, train)
    assigned = _assign(df, centroids)
    return (
        assigned.groupBy("cluster_id")
        .agg(
            F.count("*").alias("n_members"),
            # micro-units back to squared distance: exact integer sum,
            # one double division — identical in the oracle
            (F.sum("dist").cast("double") / F.lit(1000000.0)).alias("sum_sqdist"),
            F.min("vec_id").alias("min_vec_id"),
        )
        .orderBy("cluster_id")
    )


def _sql_kmeans() -> str:
    # quantize-then-subtract on the shared milli-unit grid (r17, must
    # mirror _assign's integer kernel exactly): q = floor(x*1e3+0.5)
    # for vector AND centroid components, d = sum((q_v - q_c)^2)
    def assign(cent_cte: str, out: str) -> str:
        return f"""
{out}_d AS (
  SELECT e.vec_id, c.cl,
         SUM((CAST(FLOOR(CAST(e.embedding[g.i] AS DOUBLE) * 1000.0 + 0.5) AS BIGINT)
              - CAST(FLOOR(c.cent[g.i] * 1000.0 + 0.5) AS BIGINT))
             * (CAST(FLOOR(CAST(e.embedding[g.i] AS DOUBLE) * 1000.0 + 0.5) AS BIGINT)
              - CAST(FLOOR(c.cent[g.i] * 1000.0 + 0.5) AS BIGINT))) AS d
  FROM embeddings e
  CROSS JOIN {cent_cte} c
  CROSS JOIN generate_series(1, {EMB_DIM}) g(i)
  GROUP BY e.vec_id, c.cl),
{out} AS (
  SELECT vec_id, cl, d FROM (
    SELECT vec_id, cl, d,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, cl) AS rn
    FROM {out}_d) WHERE rn = 1)"""

    return f"""
WITH c0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cl,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cent
  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT {KMEANS_K})),
{assign('c0', 'a1')},
c1 AS (
  SELECT cl, list(c ORDER BY i) AS cent FROM (
    SELECT a.cl, g.i,
           CAST(SUM(CAST(CAST(e.embedding[g.i] AS DOUBLE) AS DECIMAL(30,6)))
                AS DOUBLE) / COUNT(*) AS c
    FROM a1 a JOIN embeddings e USING (vec_id)
    CROSS JOIN generate_series(1, {EMB_DIM}) g(i)
    GROUP BY a.cl, g.i)
  GROUP BY cl),
{assign('c1', 'a2')}
SELECT cl AS cluster_id, COUNT(*) AS n_members,
       CAST(SUM(d) AS DOUBLE) / 1000000.0 AS sum_sqdist,
       MIN(vec_id) AS min_vec_id
FROM a2 GROUP BY cl ORDER BY cluster_id
"""


# -- trigram_lm_score ------------------------------------------------------
def q_trigram_lm_score(spark, sf, base=None):
    """Char-trigram language-model quality score (the CCNet-style
    perplexity filter shape): estimate trigram probabilities from the
    corpus itself, then score each document by its mean log-probability.

    Scale shape: the trigram model is a groupBy over an alphabet-bounded
    key space (≤ |charset|³ distinct trigrams regardless of corpus
    size) with map-side combine — the model RELATION is fixed-size, so
    it broadcasts to the scoring join no matter how big the corpus is.
    Scoring is explode + broadcast-hash-join + one groupBy(doc_id) with
    partial aggregation: two corpus scans, no large shuffle.

    Determinism: p = cnt/total is exact-int division in double;
    ln(p) values accumulate through decimal(30,6) so the per-doc sum
    is order-independent.

    `base` (optional): quality_ensemble's shared persisted
    (doc_id, text, norm) relation — the `tri` relation is consumed by
    THREE subplan arms (model counts, total, scoring join), so reading
    norm from a materialized base turns three parquet scans into three
    in-memory scans.
    """
    if base is not None:
        docs = base.select("doc_id", "norm")
    else:
        df = load_documents_by_id(spark, sf)
        docs = df.select("doc_id", normalized_text(F.col("text")).alias("norm"))
    tri = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN length(norm) >= 3 THEN "
                "transform(sequence(1, length(norm) - 2), i -> substring(norm, i, 3)) "
                "ELSE array() END"
            )
        ).alias("t"),
    )

    def build():
        counts = tri.groupBy("t").agg(F.count("*").alias("cnt"))
        # total trigram count derived from the VOCABULARY-scale counts
        # relation (≤ |charset|³ rows) with one empty-frame window — a
        # corpus-scale `tri.count()` here would re-run the whole
        # explode a second time just to produce one integer (sum(cnt)
        # is the same exact long either way; the oracle keeps its
        # CROSS JOIN spelling)
        total = F.sum("cnt").over(Window.partitionBy())
        return counts.select("t", (F.col("cnt").cast("double") / total).alias("p"))

    # the model is a vocabulary-scale relation (≤|Σ|³ rows) shared by
    # trigram_lm_score, quality_ensemble, and ccnet_buckets — persist
    # it so repeat consumers pay only the scoring pass
    model = _TRIGRAM_MODEL_CACHE.get(spark, sf, build)
    return (
        tri.join(F.broadcast(model), "t")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_trigrams"),
            (F.sum(F.log(F.col("p")).cast(DEC)).cast("double") / F.count("*")).alias(
                "avg_logp"
            ),
        )
    )


SQL_TRIGRAM_LM = f"""
WITH d AS (SELECT doc_id, {SQL_NORM} AS norm FROM documents),
tri AS (
  SELECT doc_id,
         unnest(list_transform(range(1, CAST(length(norm) AS BIGINT) - 1),
                               i -> substr(norm, CAST(i AS INTEGER), 3))) AS t
  FROM d),
counts AS (SELECT t, COUNT(*) AS cnt FROM tri GROUP BY t),
tot AS (SELECT COUNT(*) AS total FROM tri),
model AS (SELECT t, CAST(cnt AS DOUBLE) / total AS p
          FROM counts CROSS JOIN tot)
SELECT doc_id, COUNT(*) AS n_trigrams,
       CAST(SUM(CAST(ln(p) AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*) AS avg_logp
FROM tri JOIN model USING (t)
GROUP BY doc_id ORDER BY doc_id
"""


# -- substring_dedup -------------------------------------------------------
SUBSTR_WIN = 24


def q_substring_dedup(spark, sf):
    """Exact-substring near-dup detection (the Lee-et-al. "deduplicating
    training data" shape, bucketed): fingerprint every WORD-ALIGNED
    24-char window of normalized text, hash each window, and flag any
    document that shares a window hash with an earlier (lower doc_id)
    document.

    Word-boundary anchoring is content-defined chunking: a run shared
    by two documents produces the SAME windows in both regardless of
    where the run sits in each doc — a fixed stride would misalign the
    copies and miss them (suffix arrays solve this exhaustively;
    anchored windows are the bucketed approximation that distributes).

    Scale shape: windows are generated in-row (sequence + transform +
    filter, all array ops — no Python, no per-char explode reaches the
    shuffle), the per-hash canonical owner is min(doc_id) — a groupBy
    with map-side partial min, never a pair expansion, so a window
    shared by k docs costs k rows, not k². The join back to windows is
    on the window hash, partition-pruned by AQE. Two shuffles total.
    """
    df = load_documents_by_id(spark, sf)
    docs = df.select("doc_id", normalized_text(F.col("text")).alias("norm"))
    wins = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                f"filter(transform(sequence(1, greatest(length(norm) - {SUBSTR_WIN - 1}, 1)),"
                f" i -> CASE WHEN (i = 1 OR substring(norm, i - 1, 1) = ' ')"
                f"        AND i <= length(norm) - {SUBSTR_WIN - 1}"
                f"       THEN substring(norm, i, {SUBSTR_WIN}) END),"
                " x -> x IS NOT NULL)"
            )
        ).alias("w"),
    ).select("doc_id", hash60(F.col("w")).alias("h"))
    canon = wins.groupBy("h").agg(F.min("doc_id").alias("canon"))
    return (
        wins.join(canon, "h")
        .where(F.col("canon") < F.col("doc_id"))
        .groupBy("doc_id")
        .agg(F.min("canon").alias("dup_of"), F.count("*").alias("n_shared_windows"))
    )


SQL_SUBSTRING_DEDUP = f"""
WITH d AS (SELECT doc_id, {SQL_NORM} AS norm FROM documents),
wins AS (
  SELECT doc_id, {_sql_hash60("w")} AS h
  FROM (
    SELECT doc_id,
           unnest(list_filter(
             list_transform(range(1, CAST(length(norm) AS BIGINT) - {SUBSTR_WIN - 2}),
               i -> CASE WHEN i = 1 OR substr(norm, CAST(i AS INTEGER) - 1, 1) = ' '
                    THEN substr(norm, CAST(i AS INTEGER), {SUBSTR_WIN}) END),
             x -> x IS NOT NULL)) AS w
    FROM d)),
canon AS (SELECT h, MIN(doc_id) AS canon FROM wins GROUP BY h)
SELECT doc_id, MIN(canon) AS dup_of, COUNT(*) AS n_shared_windows
FROM wins JOIN canon USING (h)
WHERE canon < doc_id
GROUP BY doc_id ORDER BY doc_id
"""


# -- quantile_shard --------------------------------------------------------
N_SHARDS = 16


def q_quantile_shard(spark, sf):
    """Balanced training-shard assignment: split the corpus into 16
    shards by token-count quantile (shard 0 = shortest docs, 15 =
    longest), reporting per-shard doc/token totals — the "equal-work
    shards" primitive for distributed tokenization jobs.

    Scale shape: a global ntile would force a single-partition window
    over the full corpus; instead the shard boundaries come from the
    token-count HISTOGRAM — groupBy(token_count) with map-side combine
    collapses 100 TB to ≤ |distinct lengths| rows, the cumulative sum
    runs as a window over that tiny aggregated relation, and the
    assignment joins back by broadcast. shard = (16 * cum_before) DIV N
    is integer arithmetic — exact in both engines, no float boundary.
    """
    df = load_documents_by_id(spark, sf)
    docs = df.select("doc_id", token_count(F.col("text")).alias("tc"))
    hist = docs.groupBy("tc").agg(F.count("*").alias("cnt"))
    w = Window.orderBy("tc").rowsBetween(Window.unboundedPreceding, -1)
    tot = hist.agg(F.sum("cnt").alias("n")).withColumnRenamed("n", "n_total")
    edges = (
        hist.withColumn("cum_before", F.coalesce(F.sum("cnt").over(w), F.lit(0)))
        .crossJoin(F.broadcast(tot))
        .select(
            "tc",
            # `div` is INTEGER division on longs — exact, matching the
            # oracle's `//`; true `/` would round through double first
            F.expr(f"({N_SHARDS} * cum_before) div n_total").alias("shard"),
        )
    )
    return (
        docs.join(F.broadcast(edges), "tc")
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("tc").alias("min_tokens"),
            F.max("tc").alias("max_tokens"),
            F.sum("tc").alias("sum_tokens"),
        )
        .orderBy("shard")
    )


SQL_QUANTILE_SHARD = f"""
WITH docs AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) END AS tc
  FROM documents),
hist AS (SELECT tc, COUNT(*) AS cnt FROM docs GROUP BY tc),
tot AS (SELECT SUM(cnt) AS n_total FROM hist),
edges AS (
  SELECT tc,
         CAST(({N_SHARDS} * COALESCE(SUM(cnt) OVER (ORDER BY tc
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
         // (SELECT n_total FROM tot) AS BIGINT) AS shard
  FROM hist)
SELECT shard, COUNT(*) AS n_docs, MIN(tc) AS min_tokens,
       MAX(tc) AS max_tokens, CAST(SUM(tc) AS BIGINT) AS sum_tokens
FROM docs JOIN edges USING (tc)
GROUP BY shard ORDER BY shard
"""


# -- domain_mix_sample -----------------------------------------------------
MIX_SALT = "dv-mix-v1"
MIX_SCALE = float(2**60)


def q_domain_mix_sample(spark, sf):
    """Domain-mix resampling: downsample over-represented source
    domains toward a uniform target mix (the data-mixing step before
    LLM pretraining), with deterministic hash-based keep decisions.

    Scale shape: per-source counts are one map-side-combined groupBy
    collapsing to |domains| rows; the keep-rate table broadcasts; the
    keep decision is a pure map filter (salted 60-bit hash vs
    rate * 2^60 — same IEEE double product in both engines). Output is
    the per-source audit: kept counts and an id-checksum proving
    membership, not just cardinality.
    """
    df = load_documents_by_id(spark, sf)
    docs = df.select("doc_id", "source")
    counts = docs.groupBy("source").agg(F.count("*").alias("cnt"))
    tot = docs.agg(
        F.count("*").alias("n_total"), F.countDistinct("source").alias("n_src")
    )
    rates = counts.crossJoin(F.broadcast(tot)).select(
        "source",
        "cnt",
        F.least(
            F.lit(1.0),
            (F.col("n_total").cast("double") / F.col("n_src")) / F.col("cnt"),
        ).alias("rate"),
    )
    bucket = hash60(F.concat(F.lit(f"{MIX_SALT}:"), F.col("doc_id").cast("string")))
    return (
        docs.join(F.broadcast(rates), "source")
        .where(bucket < F.col("rate") * MIX_SCALE)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_kept"),
            F.max("cnt").alias("n_before"),
            F.sum("doc_id").alias("id_checksum"),
        )
        .orderBy("source")
    )


SQL_DOMAIN_MIX = f"""
WITH counts AS (SELECT source, COUNT(*) AS cnt FROM documents GROUP BY source),
tot AS (SELECT COUNT(*) AS n_total, COUNT(DISTINCT source) AS n_src FROM documents),
rates AS (
  SELECT source, cnt,
         LEAST(1.0, (CAST(n_total AS DOUBLE) / n_src) / cnt) AS rate
  FROM counts CROSS JOIN tot)
SELECT source, COUNT(*) AS n_kept, MAX(cnt) AS n_before,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM documents JOIN rates USING (source)
WHERE {_sql_hash60(f"'{MIX_SALT}:' || CAST(doc_id AS VARCHAR)")} < rate * {MIX_SCALE:.1f}
GROUP BY source ORDER BY source
"""


# -- k_anonymity -----------------------------------------------------------
K_ANON = 10


def q_k_anonymity(spark, sf):
    """k-anonymity audit over quasi-identifiers (nation, market
    segment) on the customer table: emit every QI group smaller than
    k=10 — the groups whose members a released dataset would expose.

    Scale shape: one groupBy over the QI tuple with map-side combine;
    the HAVING filter runs post-aggregation on |QI-space| rows, which
    is data-independent. This is the validator-flavored privacy check
    (reference parity: the reference's uniqueCheck is the k=1 special
    case of this — ValidatorTable.scala's groupBy/count/where shape).
    """
    df = load(spark, sf, "customer")
    return (
        df.groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count("*").alias("group_size"))
        .where(F.col("group_size") < K_ANON)
        .orderBy("c_nationkey", "c_mktsegment")
    )


SQL_K_ANONYMITY = f"""
SELECT c_nationkey, c_mktsegment, COUNT(*) AS group_size
FROM customer
GROUP BY c_nationkey, c_mktsegment
HAVING COUNT(*) < {K_ANON}
ORDER BY c_nationkey, c_mktsegment
"""


# -- l_diversity -------------------------------------------------------------
L_DIVERSITY = 3


def q_l_diversity(spark, sf):
    """Distinct-l-diversity audit — k-anonymity's necessary companion:
    a QI group can be large (k-anonymous) yet still leak if everyone
    in it shares the same SENSITIVE value. Sensitive attribute here is
    the account-balance band ($1000 bands computed on exact cents;
    negative balances are their own "in debt" class — the genuinely
    sensitive fact). Emits every (nation, segment) group holding fewer
    than L={L_DIVERSITY} distinct bands. The full census is emitted
    (every QI group with its size, distinct-band count, top-band
    share, and the violation flag) — a release decision needs the
    margin of safe groups, not just the violator list.

    Scale shape: the (QI, band) census collapses map-side to
    ≤ |QI-space|×|bands| rows; diversity is one more aggregation over
    that census. No distinct-expansion over rows, no window.

    Determinism: the band is integer cents floor-div (numerator
    clamped non-negative via the explicit debt class, so Spark `div`
    == DuckDB `//`); shares are micro-unit floor divisions; everything
    else is counts."""
    df = load(spark, sf, "customer")
    band = F.expr(
        "CASE WHEN c_acctbal < 0 THEN -1 "
        "ELSE CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) div 100000 END"
    )
    cells = (
        df.groupBy("c_nationkey", "c_mktsegment", band.alias("band"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        cells.groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.sum("cnt").cast("bigint").alias("group_size"),
            F.count(F.lit(1)).alias("n_sensitive_bands"),
            F.max("cnt").cast("bigint").alias("top_band_n"),
        )
        .select(
            "c_nationkey",
            "c_mktsegment",
            "group_size",
            "n_sensitive_bands",
            F.expr("(top_band_n * 1000000) div group_size").alias(
                "top_band_share_micro"
            ),
            (F.col("n_sensitive_bands") < L_DIVERSITY)
            .cast("int")
            .alias("violates_l"),
        )
        .orderBy("c_nationkey", "c_mktsegment")
    )


SQL_L_DIVERSITY = f"""
WITH cells AS (
  SELECT c_nationkey, c_mktsegment,
         CASE WHEN c_acctbal < 0 THEN -1
              ELSE CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) // 100000 END
           AS band,
         count(*) AS cnt
  FROM customer GROUP BY 1, 2, 3)
SELECT c_nationkey, c_mktsegment,
       CAST(sum(cnt) AS BIGINT) AS group_size,
       count(*) AS n_sensitive_bands,
       (CAST(max(cnt) AS BIGINT) * 1000000) // CAST(sum(cnt) AS BIGINT)
         AS top_band_share_micro,
       CAST(count(*) < {L_DIVERSITY} AS INT) AS violates_l
FROM cells GROUP BY 1, 2
ORDER BY c_nationkey, c_mktsegment
"""


# -- heavy_hitters_cms -----------------------------------------------------
CMS_D = 4
CMS_W = 1024
CMS_TOPK = 20


def q_heavy_hitters_cms(spark, sf):
    """Count-min-sketch heavy hitters: build a 4×1024 CMS over the
    token stream, then report the top-20 tokens by sketch estimate
    next to their exact counts (est ≥ exact always; the gap shows the
    collision error).

    Scale shape: exactly ONE corpus-scale shuffle — the map-side-
    combined term-frequency groupBy (needed anyway for the exact
    column this query reports). Everything downstream runs at
    VOCABULARY scale: the 4×1024 sketch cells are weighted sums over
    the tf relation, the finished sketch broadcasts to the estimation
    join, and top-k is TakeOrdered. (A pure-sketch pipeline that skips
    exact counts entirely would feed raw tokens straight into the
    fixed 4096-cell groupBy — map-side combine collapses any corpus to
    ≤ 4096 rows per partition, no vocabulary shuffle at all.)
    Deterministic: pure integer counts and 60-bit md5 bucket hashes,
    identical in both engines.
    """
    df = load_documents_by_id(spark, sf)
    toks = df.select(F.explode(tokens(F.col("text"))).alias("token")).where(F.length("token") > 0)
    tf = toks.groupBy("token").agg(F.count("*").alias("exact_count"))
    hashed = tf.select(
        "token",
        "exact_count",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        (
                            hash60(F.concat(F.lit(f"cms{j}:"), F.col("token")))
                            % CMS_W
                        ).alias("bucket"),
                    )
                    for j in range(CMS_D)
                ]
            )
        ).alias("jb"),
    ).select(
        "token",
        "exact_count",
        F.col("jb.j").alias("j"),
        F.col("jb.bucket").alias("bucket"),
    )
    sketch = hashed.groupBy("j", "bucket").agg(F.sum("exact_count").alias("cell"))
    est = (
        hashed.join(F.broadcast(sketch), ["j", "bucket"])
        .groupBy("token")
        .agg(
            F.min("cell").alias("est_count"),
            F.max("exact_count").alias("exact_count"),
        )
    )
    return (
        est.select("token", "est_count", "exact_count")
        .orderBy(F.desc("est_count"), "token")
        .limit(CMS_TOPK)
    )


def _sql_cms() -> str:
    arms = []
    for j in range(CMS_D):
        h = _sql_hash60(f"'cms{j}:' || token")
        arms.append(
            f"SELECT token, exact_count, {j} AS j, {h} % {CMS_W} AS bucket FROM tf"
        )
    buckets = " UNION ALL ".join(arms)
    return f"""
WITH toks AS (
  SELECT unnest(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) AS token
  FROM documents),
tf AS (SELECT token, COUNT(*) AS exact_count
       FROM toks WHERE length(token) > 0 GROUP BY token),
hashed AS ({buckets}),
sketch AS (SELECT j, bucket, CAST(SUM(exact_count) AS BIGINT) AS cell
           FROM hashed GROUP BY j, bucket)
SELECT token, MIN(cell) AS est_count, MAX(exact_count) AS exact_count
FROM hashed JOIN sketch USING (j, bucket)
GROUP BY token
ORDER BY est_count DESC, token LIMIT {CMS_TOPK}
"""


# -- dsir_importance --------------------------------------------------------
DSIR_BUCKETS = 4096  # hashed n-gram feature space (DSIR's 10^4 analog)


# The trigram-LM probability model, shared by three registry entries.
_TRIGRAM_MODEL_CACHE = SessionCache()


# dsir's (doc_id, bucket, count, keep) relation feeds THREE subplan
# arms (bucket model, model totals, per-doc scoring); unmaterialized,
# Catalyst re-runs the gram explode + gopher target join per arm (the
# r5 plan audit counted 8 scans / 22 exchanges). Collapsing to
# per-(doc, bucket) counts BEFORE the joins bounds the persisted
# relation at |docs| × min(grams/doc, DSIR_BUCKETS) rows — far below
# gram scale.
_DSIR_CACHE = SessionCache()


def _dsir_tagged(spark, sf):
    return _DSIR_CACHE.get(spark, sf, lambda: _build_dsir_tagged(spark, sf))


def _build_dsir_tagged(spark, sf):
    from data_validator_spark.queries.mining_ops import q_gopher_quality

    df = load_documents_by_id(spark, sf)
    toks = df.select("doc_id", tokens(F.col("text")).alias("toks"))
    grams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "concat(toks, CASE WHEN size(toks) >= 2 THEN "
                "transform(sequence(1, size(toks) - 1), "
                " i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1))) "
                "ELSE array() END)"
            )
        ).alias("g"),
    ).select("doc_id", F.pmod(hash60(F.col("g")), F.lit(DSIR_BUCKETS)).alias("b"))
    dcounts = grams.groupBy("doc_id", "b").agg(F.count(F.lit(1)).alias("c"))
    target = q_gopher_quality(spark, sf).select("doc_id", "keep")
    return dcounts.join(target, "doc_id")


def q_dsir_importance(spark, sf):
    """DSIR-style importance weights: score every document by how much
    its hashed unigram+bigram features look like the TARGET
    distribution (here: documents passing the Gopher repetition
    rules) vs the RAW corpus — avg_g [ln p_target(b(g)) − ln
    p_raw(b(g))] with add-1 smoothing over 4096 hash buckets. The
    data-selection-with-importance-resampling primitive (Xie et al.):
    rank by weight, resample the corpus toward the target domain.

    Scale shape: grams are built in-row and hashed to a FIXED
    4096-bucket space, then IMMEDIATELY collapsed to per-(doc, bucket)
    counts — the relation every downstream arm consumes is bounded at
    |docs| × min(grams/doc, 4096) rows and session-persisted
    (_dsir_tagged), so the gram explode and the gopher target join run
    ONCE, not once per arm. The bucket model is one map-side-combined
    groupBy(bucket) over it (conditional target sums riding the same
    aggregate, weighted by the pre-collapsed counts); the log-ratio
    term is then evaluated INSIDE the 4096-row model relation (one
    crossJoin against the 1-row totals, both broadcast-scale) so the
    corpus-scale scoring join carries a single pre-rounded decimal per
    bucket and the per-row work is one decimal multiply — the ln() and
    the DEC rounding run 4096 times, not once per (doc, bucket) row.
    Scoring collapses per doc with map-side combine. Target membership
    reuses the graded `gopher_quality` implementation.

    Determinism: each log-ratio term is ln() of exact (int+1)/(int+B)
    ratios, DEC-rounded per BUCKET and THEN multiplied by the exact
    integer bucket count — bit-identical to rounding per gram (every
    gram of a bucket carries the same term, so round-then-multiply
    commutes with multiply-then-round-per-term); the final per-doc
    mean is one division by the integer gram count.
    """
    tagged = _dsir_tagged(spark, sf)
    model = tagged.groupBy("b").agg(
        F.sum("c").alias("ca"),
        F.sum(F.col("c") * F.col("keep").cast("long")).alias("ct"),
    )
    totals = model.agg(
        F.sum("ca").alias("A"), F.sum("ct").alias("T")
    )
    term = F.log(
        (F.col("ct") + 1).cast("double") / (F.col("T") + DSIR_BUCKETS).cast("double")
    ) - F.log(
        (F.col("ca") + 1).cast("double") / (F.col("A") + DSIR_BUCKETS).cast("double")
    )
    # 4096-row relation: term folded to one DEC per bucket BEFORE the
    # corpus-scale join (bit-identical — the term depends only on the
    # bucket model and the totals, never on the document row).
    bucket_terms = (
        model.crossJoin(F.broadcast(totals))
        .select("b", term.cast(DEC).alias("t_dec"))
    )
    scored = tagged.join(F.broadcast(bucket_terms), "b")
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_grams"),
            (
                F.sum(F.col("t_dec") * F.col("c")).cast("double")
                / F.sum("c")
            )
            .cast(DEC)
            .cast("double")
            .alias("dsir_logw"),
        )
    )


def _sql_dsir() -> str:
    from data_validator_spark.queries.mining_ops import SQL_GOPHER

    return f"""
WITH t AS (
  SELECT doc_id, {SQL_TOKENS} AS toks FROM documents),
grams AS (
  SELECT doc_id,
         {_sql_hash60("g")} % {DSIR_BUCKETS} AS b
  FROM (
    SELECT doc_id, unnest(list_concat(toks,
             list_transform(range(1, len(toks)),
               i -> toks[CAST(i AS INTEGER)] || ' ' ||
                    toks[CAST(i AS INTEGER) + 1]))) AS g
    FROM t)),
target AS (SELECT doc_id, keep FROM ({SQL_GOPHER})),
tagged AS (SELECT g.doc_id, g.b, t.keep
           FROM grams g JOIN target t ON g.doc_id = t.doc_id),
model AS (
  SELECT b, COUNT(*) AS ca,
         CAST(SUM(CASE WHEN keep = 1 THEN 1 ELSE 0 END) AS BIGINT) AS ct
  FROM tagged GROUP BY b),
totals AS (SELECT CAST(SUM(ca) AS BIGINT) AS A, CAST(SUM(ct) AS BIGINT) AS T
           FROM model),
scored AS (
  SELECT tagged.doc_id,
         ln(CAST(ct + 1 AS DOUBLE) / (T + {DSIR_BUCKETS}))
         - ln(CAST(ca + 1 AS DOUBLE) / (A + {DSIR_BUCKETS})) AS term
  FROM tagged JOIN model ON tagged.b = model.b, totals)
SELECT doc_id, COUNT(*) AS n_grams,
       CAST(CAST(CAST(SUM(CAST(term AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*)
            AS DECIMAL(30,6)) AS DOUBLE) AS dsir_logw
FROM scored GROUP BY doc_id ORDER BY doc_id
"""


QUERIES = {
    "dsir_importance": q_dsir_importance,
    "bm25_topk": q_bm25_topk,
    "kmeans_embeddings": q_kmeans_embeddings,
    "trigram_lm_score": q_trigram_lm_score,
    "substring_dedup": q_substring_dedup,
    "quantile_shard": q_quantile_shard,
    "domain_mix_sample": q_domain_mix_sample,
    "k_anonymity": q_k_anonymity,
    "l_diversity": q_l_diversity,
    "heavy_hitters_cms": q_heavy_hitters_cms,
}

ORACLES = {
    "dsir_importance": _sql_dsir(),
    "bm25_topk": _sql_bm25(),
    "kmeans_embeddings": _sql_kmeans(),
    "trigram_lm_score": SQL_TRIGRAM_LM,
    "substring_dedup": SQL_SUBSTRING_DEDUP,
    "quantile_shard": SQL_QUANTILE_SHARD,
    "domain_mix_sample": SQL_DOMAIN_MIX,
    "k_anonymity": SQL_K_ANONYMITY,
    "l_diversity": SQL_L_DIVERSITY,
    "heavy_hitters_cms": _sql_cms(),
}
