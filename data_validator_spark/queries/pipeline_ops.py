"""Training-data pipeline operators over `documents` / `embeddings`
(SURVEY §2 LLM-pipeline rows pii_scrub / stratified_sample /
sequence_pack / dedup_keep_best / embedding_norm_quant).

Everything here is the declarative DataFrame API — native column
functions, window functions, one shuffle where the semantics require
one (groupBy/window key), zero Python workers — so each op scales
linearly with executors over a 100 TB corpus. Cross-engine rules
follow the package conventions (queries/__init__.py): RE2-safe
regexes only, 60-bit md5-prefix hashes, explicit CASTs so DuckDB
reproduces every value bit-for-bit.

Parity note: the reference engine (target/data-validator) has no
LLM-pipeline surface; these rows extend it per the build brief.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from data_validator_spark.functions.text import hash60, token_count
from data_validator_spark.queries import (
    DEC,
    _sql_hash60,
    load,
    load_documents_by_id,
    load_embeddings_by_id,
    spread,
)
from data_validator_spark.queries.textops import (
    SQL_NORM,
    SQL_SPLIT_BUCKET,
    TRAIN_CUT,
    VAL_CUT,
)


# -- pii_scrub -------------------------------------------------------------
# RE2-safe patterns (no lookarounds, no backrefs) that Java regex and
# RE2 evaluate identically. Replacement order matters (emails contain
# dots that would otherwise feed the IP pattern) and is fixed:
# email -> ipv4 -> phone.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"
PII_PHONE = r"\+?[0-9][0-9()\- ]{6,}[0-9]"


def scrub_expr(col):
    """The canonical PII scrub: email -> ipv4 -> phone, in that order
    (emails contain dots that would otherwise feed the IP pattern).
    Shared by q_pii_scrub and the pipeline runner's piiScrub step so
    the two can never diverge."""
    return F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(col, PII_EMAIL, "<EMAIL>"), PII_IPV4, "<IP>"
        ),
        PII_PHONE,
        "<PHONE>",
    )


def q_pii_scrub(spark, sf):
    """PII redaction pass: replace emails / IPv4s / phone-shaped number
    runs with typed placeholder tokens, and count each class per doc.

    One narrow projection — no shuffle, whole-stage codegen; at 100 TB
    this is a pure map stage that scales linearly with executors. The
    scrubbed text is emitted as its 60-bit hash (proves the exact
    transformation without shipping full text through the comparator).
    """
    df = load_documents_by_id(spark, sf)
    t = F.col("text")
    n_emails = F.size(F.regexp_extract_all(t, F.lit(PII_EMAIL), F.lit(0)))
    n_ips = F.size(F.regexp_extract_all(t, F.lit(PII_IPV4), F.lit(0)))
    n_phones = F.size(F.regexp_extract_all(t, F.lit(PII_PHONE), F.lit(0)))
    scrubbed = scrub_expr(t)
    return df.select(
        "doc_id",
        n_emails.alias("n_emails"),
        n_ips.alias("n_ips"),
        n_phones.alias("n_phones"),
        hash60(scrubbed).alias("scrub_hash"),
    )


_SQL_SCRUBBED = (
    f"regexp_replace(regexp_replace(regexp_replace(text, "
    f"'{PII_EMAIL}', '<EMAIL>', 'g'), "
    f"'{PII_IPV4}', '<IP>', 'g'), "
    f"'{PII_PHONE}', '<PHONE>', 'g')"
)

SQL_PII_SCRUB = f"""
SELECT doc_id,
       len(regexp_extract_all(text, '{PII_EMAIL}')) AS n_emails,
       len(regexp_extract_all(text, '{PII_IPV4}')) AS n_ips,
       len(regexp_extract_all(text, '{PII_PHONE}')) AS n_phones,
       {_sql_hash60(_SQL_SCRUBBED)} AS scrub_hash
FROM documents ORDER BY doc_id
"""


# -- stratified_sample -----------------------------------------------------
# Deterministic hash sampling: stable under repartition, re-runs, and
# engine (same md5 bucket on both sides) — the property that matters
# for reproducible corpus subsets. Per-stratum rate keeps every lang
# represented instead of letting a head language swamp the sample.
SAMPLE_SALT = "dv-sample-v1"
SAMPLE_BUCKETS = 1000
SAMPLE_KEEP = 200  # 20% per stratum


def sample_bucket():
    """0-999 salted hash bucket of doc_id — THE sample function, shared
    by q_stratified_sample and the pipeline `sample` step (a row is
    kept when its bucket is below the kept-bucket count)."""
    return (
        hash60(F.concat(F.lit(f"{SAMPLE_SALT}:"), F.col("doc_id").cast("string")))
        % SAMPLE_BUCKETS
    )


def q_stratified_sample(spark, sf):
    """Per-language 20% deterministic sample, reported as per-stratum
    totals plus an id-checksum of the kept set (proves membership, not
    just counts, without emitting 0.2*N rows through the comparator).

    The bucket hash is salted so a later re-deal (bump the salt) can't
    correlate with the train/val/test split hash in textops. Map stage
    + one partial-aggregated groupBy on `lang` — at 100 TB the shuffle
    carries only (lang, partial sums): bytes, not rows."""
    df = load_documents_by_id(spark, sf)
    kept = (sample_bucket() < SAMPLE_KEEP).cast("int")
    return (
        df.select("lang", "doc_id", kept.alias("kept"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum("kept").alias("n_sampled"),
            F.sum(F.col("doc_id") * F.col("kept")).alias("sampled_id_sum"),
        )
        .orderBy("lang")
    )


SQL_STRATIFIED_SAMPLE = f"""
WITH b AS (
  SELECT lang, doc_id,
         CASE WHEN CAST('0x' || substr(
                md5('{SAMPLE_SALT}:' || CAST(doc_id AS VARCHAR)), 1, 15)
              AS BIGINT) % {SAMPLE_BUCKETS} < {SAMPLE_KEEP}
              THEN 1 ELSE 0 END AS kept
  FROM documents)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(SUM(kept) AS BIGINT) AS n_sampled,
       CAST(SUM(doc_id * kept) AS BIGINT) AS sampled_id_sum
FROM b GROUP BY lang ORDER BY lang
"""


# -- sequence_pack ---------------------------------------------------------
PACK_BUDGET = 512  # whitespace tokens per pack


def q_sequence_pack(spark, sf):
    """Sequence packing for LLM pre-training batches: assign documents
    to fixed token-budget packs by contiguous fill in (lang, doc_id)
    order — pack id = floor(exclusive-cumulative-tokens / budget), so a
    document belongs to the pack where it STARTS (a doc may straddle a
    boundary; the trainer's loader handles the tail overlap).

    One window (partition lang, order doc_id) = one shuffle on lang,
    then a groupBy on (lang, pack). At 100 TB the window key would be
    (lang, shard) to bound partition width — same two-stage shape.
    Emitted per pack: size, token load, and the doc-id span.

    Reads the doc_id-bucketed copy (r18: last members of the raw-scan
    class — the window re-keys on lang, but the token_count kernel
    runs pre-shuffle on the scan's bucket splits, whose count is
    sized to the dataset (bucketing.dataset_buckets); spread() bought
    the same parallelism with a round-robin exchange)."""
    df = load_documents_by_id(spark, sf)
    toks = token_count(F.col("text"))
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    packed = (
        df.select("lang", "doc_id", toks.alias("n_tokens"))
        .withColumn(
            "pack_id",
            F.floor((cum - F.col("n_tokens")) / F.lit(float(PACK_BUDGET))).cast(
                "bigint"
            ),
        )
    )
    return (
        packed.groupBy("lang", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("lang", "pack_id")
    )


SQL_SEQUENCE_PACK = f"""
WITH t AS (
  SELECT lang, doc_id,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) END AS n_tokens
  FROM documents),
c AS (
  SELECT lang, doc_id, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM t),
p AS (
  SELECT lang, doc_id, n_tokens,
         CAST(FLOOR((cum - n_tokens) / {PACK_BUDGET}.0) AS BIGINT) AS pack_id
  FROM c)
SELECT lang, pack_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM p GROUP BY lang, pack_id ORDER BY lang, pack_id
"""


# -- dedup_keep_best -------------------------------------------------------
def q_dedup_keep_best(spark, sf):
    """Winner selection for exact-dup clusters: group by the normalized
    content fingerprint, keep the best document per cluster (longest,
    then lowest doc_id — a deterministic quality rule), report the
    keeper and the drop count.

    This is the step after dedup detection that an actual corpus
    pipeline runs: detection says which docs collide, keep-best decides
    which survives. One shuffle on the fingerprint; the window never
    materializes more than a cluster per task. At 100 TB the
    fingerprint is high-cardinality (no skew) and partial aggregation
    bounds the shuffle.

    Reads the doc_id-bucketed copy (r18): the fingerprint kernel runs
    pre-shuffle on the scan's bucket splits (a dataset-sized count,
    bucketing.dataset_buckets), with no round-robin exchange."""
    df = load_documents_by_id(spark, sf)
    from data_validator_spark.functions.text import fingerprint60

    fp = fingerprint60(F.col("text"))
    w = Window.partitionBy("fp").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    ranked = df.select(
        fp.alias("fp"), "doc_id", "n_chars"
    ).withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("keeper_doc_id"),
            F.max(F.when(F.col("rn") == 1, F.col("n_chars"))).alias("keeper_chars"),
        )
        .select(
            F.col("fp").alias("cluster_fp"),
            "keeper_doc_id",
            "keeper_chars",
            "n_members",
            (F.col("n_members") - 1).alias("n_dropped"),
        )
        .orderBy("cluster_fp")
    )


SQL_DEDUP_KEEP_BEST = f"""
WITH f AS (
  SELECT doc_id, n_chars,
         {_sql_hash60(SQL_NORM)} AS fp
  FROM documents),
r AS (
  SELECT fp, doc_id, n_chars,
         row_number() OVER (PARTITION BY fp
                            ORDER BY n_chars DESC, doc_id ASC) AS rn
  FROM f)
SELECT fp AS cluster_fp,
       min(CASE WHEN rn = 1 THEN doc_id END) AS keeper_doc_id,
       max(CASE WHEN rn = 1 THEN n_chars END) AS keeper_chars,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(count(*) - 1 AS BIGINT) AS n_dropped
FROM r GROUP BY fp ORDER BY cluster_fp
"""


# -- embedding_norm_quant --------------------------------------------------
def q_embedding_norm_quant(spark, sf):
    """L2-normalize + int8-quantize every embedding — the storage-side
    prep for large-scale ANN (4x smaller vectors, dot products in
    int arithmetic). Quantized value = floor(127 * x / ||v|| + 0.5)
    (explicit floor(+0.5) because round() half-case behavior differs
    across engines). Emitted per vector: the norm and the quantized
    sum/min/max — scalar proof of the whole transform without pushing
    arrays through the comparator.

    Pure map stage over (vec_id, embedding) — array lambdas run inside
    codegen, no shuffle, no Python. Zero vectors pass through as
    all-zero quants (norm guard)."""
    df = load_embeddings_by_id(spark, sf)
    q = df.select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> CAST(x AS DOUBLE))"
        ).alias("v"),
    ).select(
        "vec_id",
        "v",
        F.sqrt(
            F.expr("aggregate(transform(v, x -> x * x), 0.0D, (a, x) -> a + x)")
        ).alias("nrm"),
    ).select(
        "vec_id",
        "nrm",
        F.expr(
            "CASE WHEN nrm = 0.0 THEN transform(v, x -> CAST(0 AS BIGINT)) "
            "ELSE transform(v, x -> CAST(FLOOR(127.0 * x / nrm + 0.5) AS BIGINT)) "
            "END"
        ).alias("q"),
    )
    return q.select(
        "vec_id",
        F.round(F.col("nrm"), 6).alias("l2_norm"),
        F.expr(
            "aggregate(q, CAST(0 AS BIGINT), (a, x) -> a + x)"
        ).alias("q_sum"),
        F.array_min("q").alias("q_min"),
        F.array_max("q").alias("q_max"),
    )


SQL_EMBEDDING_NORM_QUANT = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings),
n AS (
  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
q AS (
  SELECT vec_id, nrm,
         CASE WHEN nrm = 0.0
              THEN list_transform(v, x -> CAST(0 AS BIGINT))
              ELSE list_transform(v, x -> CAST(FLOOR(127.0 * x / nrm + 0.5) AS BIGINT))
         END AS qv
  FROM n)
SELECT vec_id,
       round(nrm, 6) AS l2_norm,
       CAST(list_sum(qv) AS BIGINT) AS q_sum,
       list_min(qv) AS q_min,
       list_max(qv) AS q_max
FROM q ORDER BY vec_id
"""


# -- split_contamination ---------------------------------------------------
def q_split_contamination(spark, sf):
    """Train/eval contamination check: how many val/test documents
    share an exact content fingerprint with ANY train document. The
    benchmark-leakage question every training pipeline must answer
    before a corpus ships — run after dedup, because near-dup removal
    does not guarantee the eval splits are fingerprint-disjoint from
    train.

    Reuses THE split function (textops.split_bucket — same salt, same
    hash, so this can never disagree with doc_split_sample) and the
    normalized-content fingerprint from dedup. Plan: one map stage to
    (fp, split), then an equi-join of eval rows against distinct train
    fingerprints — high-cardinality key, no skew, partial-agg bounded
    shuffle. Emits one row per eval split that contains documents
    (zero-CONTAMINATION rows are included because the eval side is the
    left of the join; an eval split with zero documents emits no
    row)."""
    from data_validator_spark.functions.text import fingerprint60
    from data_validator_spark.queries.textops import split_bucket

    # doc_id-bucketed copy (r18): the fp/split projection is the heavy
    # per-row stage and runs on the scan splits directly.
    df = load_documents_by_id(spark, sf)
    bucket = split_bucket()
    split = (
        F.when(bucket < TRAIN_CUT, "train")
        .when(bucket < VAL_CUT, "val")
        .otherwise("test")
    )
    tagged = df.select(
        "doc_id", fingerprint60(F.col("text")).alias("fp"), split.alias("split")
    )
    train_fps = (
        tagged.where(F.col("split") == "train").select("fp").distinct()
        .withColumn("in_train", F.lit(1))
    )
    ev = tagged.where(F.col("split") != "train")
    joined = ev.join(train_fps, "fp", "left")
    hit = F.coalesce(F.col("in_train"), F.lit(0))
    return (
        joined.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(hit).alias("n_contaminated"),
            F.countDistinct(F.when(hit == 1, F.col("fp"))).alias(
                "n_leaked_fingerprints"
            ),
            F.sum(F.col("doc_id") * hit).alias("contaminated_id_sum"),
        )
        .orderBy("split")
    )


SQL_SPLIT_CONTAMINATION = f"""
WITH tagged AS (
  SELECT doc_id,
         {_sql_hash60(SQL_NORM)} AS fp,
         CASE WHEN {SQL_SPLIT_BUCKET} < {TRAIN_CUT} THEN 'train'
              WHEN {SQL_SPLIT_BUCKET} < {VAL_CUT} THEN 'val'
              ELSE 'test' END AS split
  FROM documents),
train_fps AS (SELECT DISTINCT fp FROM tagged WHERE split = 'train'),
ev AS (
  SELECT t.doc_id, t.split,
         CASE WHEN tf.fp IS NOT NULL THEN 1 ELSE 0 END AS hit, t.fp
  FROM tagged t LEFT JOIN train_fps tf ON t.fp = tf.fp
  WHERE t.split != 'train')
SELECT split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(hit) AS BIGINT) AS n_contaminated,
       CAST(count(DISTINCT CASE WHEN hit = 1 THEN fp END) AS BIGINT)
         AS n_leaked_fingerprints,
       CAST(SUM(doc_id * hit) AS BIGINT) AS contaminated_id_sum
FROM ev GROUP BY split ORDER BY split
"""


# -- weighted_sample: deterministic Efraimidis–Spirakis weighted pick -------
WSAMPLE_SALT = "dv-wsample-v1"
WSAMPLE_K = 20


def wsample_key(ident, weight):
    """The A-ES key ln(u)/w of a row whose draw identity is the string
    column ``ident``: u = (hash60(salt:ident) + 1) / 2^60 ∈ (0,1], so
    the key is ≤ 0 and the k LARGEST keys are the sample. Shared by
    q_weighted_sample and the pipeline `weightedSample` step; callers
    round it through decimal(30,6) before ordering (see
    q_weighted_sample)."""
    u = (hash60(F.concat(F.lit(WSAMPLE_SALT + ":"), ident)) + 1).cast("double") / F.lit(
        float(2**60)
    )
    return F.log(u) / weight.cast("double")


def q_weighted_sample(spark, sf):
    """Weighted sampling without replacement (Efraimidis–Spirakis
    A-ES): pick 20 documents with probability proportional to length
    (n_chars) — the quality/importance-weighted selection step of a
    curation pipeline — made fully deterministic by deriving each
    item's uniform draw from a salted 60-bit hash instead of an RNG,
    so the sample is stable under re-partitioning, retries, and
    engine swap (the same property as `doc_split_sample`).

    A-ES: key = ln(u) / w with u ∈ (0,1]; the k LARGEST keys are the
    sample. One map stage computes keys; the top-k is
    TakeOrderedAndProject (per-partition heaps, no global sort).

    Determinism: u = (hash60 + 1) / 2^60 is an exact dyadic rational;
    ln(u)/w rounds through decimal(30,6) BEFORE the ordering (the
    tfidf rule) and ties break on doc_id, so a 1-ulp ln() difference
    cannot reorder the cut.
    """
    df = load_documents_by_id(spark, sf)
    key = wsample_key(F.col("doc_id").cast("string"), F.col("n_chars")).cast(DEC).cast("double")
    return (
        df.select("doc_id", "n_chars", key.alias("sample_key"))
        .orderBy(F.desc("sample_key"), "doc_id")
        .limit(WSAMPLE_K)
    )


def _sql_weighted_sample() -> str:
    salted = f"'{WSAMPLE_SALT}:' || CAST(doc_id AS VARCHAR)"
    u = f"CAST({_sql_hash60(salted)} + 1 AS DOUBLE) / {float(2**60)!r}"
    return f"""
SELECT doc_id, n_chars,
       CAST(CAST(ln({u}) / CAST(n_chars AS DOUBLE) AS DECIMAL(30,6)) AS DOUBLE)
         AS sample_key
FROM documents
ORDER BY sample_key DESC, doc_id LIMIT {WSAMPLE_K}
"""


# -- global_shuffle --------------------------------------------------------
SHUFFLE_SALT = "shuf"
N_SHARDS = 8


def q_global_shuffle(spark, sf):
    """Deterministic training-order shuffle + shard assignment: the
    step that turns a curated corpus into the randomized, sharded
    order a training loader consumes. Each document gets a stable
    pseudo-random key (salted 60-bit hash of its id), a shard
    (key mod N_SHARDS), and its position within the shard.

    Scale shape: this is the scale-honest global shuffle — there is NO
    global row_number (which would funnel 100 TB through one window
    partition). The shard id is computed map-side from the hash, so
    the one shuffle in the plan is the partitionBy(shard) exchange,
    and each shard orders independently (in a real write this is
    exactly repartition(shard) + sortWithinPartitions(key)). Changing
    the salt reshuffles every epoch, still deterministically.

    Determinism: the hash is the package md5-prefix rule; within-shard
    ties (impossible for distinct ids, but stated) break on doc_id.
    """
    df = load_documents_by_id(spark, sf)
    h = hash60(F.concat(F.lit(f"{SHUFFLE_SALT}:"), F.col("doc_id").cast("string")))
    proj = df.select(
        "doc_id",
        h.alias("h"),
        F.pmod(h, F.lit(N_SHARDS)).cast("int").alias("shard_id"),
    )
    w = Window.partitionBy("shard_id").orderBy("h", "doc_id")
    return (
        proj.withColumn("shard_pos", F.row_number().over(w))
        .select("doc_id", "shard_id", "shard_pos")
    )


def _sql_global_shuffle() -> str:
    salted = f"'{SHUFFLE_SALT}:' || CAST(doc_id AS VARCHAR)"
    return f"""
WITH s AS (
  SELECT doc_id, {_sql_hash60(salted)} AS h FROM documents),
p AS (SELECT doc_id, h, CAST(h % {N_SHARDS} AS INT) AS shard_id FROM s)
SELECT doc_id, shard_id,
       CAST(row_number() OVER (PARTITION BY shard_id ORDER BY h, doc_id) AS INT)
         AS shard_pos
FROM p ORDER BY doc_id
"""


QUERIES = {
    "global_shuffle": q_global_shuffle,
    "weighted_sample": q_weighted_sample,
    "pii_scrub": q_pii_scrub,
    "stratified_sample": q_stratified_sample,
    "sequence_pack": q_sequence_pack,
    "dedup_keep_best": q_dedup_keep_best,
    "embedding_norm_quant": q_embedding_norm_quant,
    "split_contamination": q_split_contamination,
}

ORACLES = {
    "global_shuffle": _sql_global_shuffle(),
    "weighted_sample": _sql_weighted_sample(),
    "pii_scrub": SQL_PII_SCRUB,
    "stratified_sample": SQL_STRATIFIED_SAMPLE,
    "sequence_pack": SQL_SEQUENCE_PACK,
    "dedup_keep_best": SQL_DEDUP_KEEP_BEST,
    "embedding_norm_quant": SQL_EMBEDDING_NORM_QUANT,
    "split_contamination": SQL_SPLIT_CONTAMINATION,
}
