"""Corpus- and telemetry-mining operators — sketch-based distinct
counting (HyperLogLog), Gopher-style repetition quality filtering,
TF-IDF term weighting, PMI collocation mining, inverted-index
construction, and time-series gap filling with linear interpolation.

Like corpus_ops.py these extend the reference engine
(target/data-validator stops at per-column validation — its colstats
first/second pass in ValidatorTable.scala:1 has no corpus surface);
they cover the remaining primitives a training-data pipeline needs
between raw ingestion and tokenization. All plans are declarative
DataFrame API with map-side partial aggregation; the cross-engine
determinism rules are the package conventions (queries/__init__.py):
60-bit md5-prefix hashes, decimal(30,6) exact sums, shared-literal
double constants, unique-key tiebreakers on every top-k.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from data_validator_spark.queries import (
    DEC,
    SessionCache,
    load,
    load_documents_by_id,
    load_events_by_user,
    spread,
    sql_dsum,
)
from data_validator_spark.queries.pipeline_ops import _hash60, _sql_hash60
from data_validator_spark.queries.textops import SQL_NORM
from data_validator_spark.functions.text import normalized_text

SQL_TOKENS = r"string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')"


# -- hll_distinct ----------------------------------------------------------
HLL_P = 10
HLL_M = 1 << HLL_P  # 1024 registers
# 60-bit hash = 10 bucket bits + 50 estimator bits; an empty register
# contributes 2^50-scaled weight 2^51... all register weights are the
# integers 2^(51 - M), so the harmonic-mean denominator sum(2^-M) is
# S / 2^51 with S a BIGINT (max 1024 * 2^51 = 2^61): exact and
# order-independent in both engines without any decimal rounding.
HLL_WBITS = 60 - HLL_P
_HLL_SHIFT = HLL_WBITS + 1  # 51
# alpha_m * m^2 * 2^51, materialized ONCE in Python and embedded as the
# same repr() literal in Spark and DuckDB so both engines divide the
# bit-identical double by S.
HLL_ALPHA_NUM = repr(0.7213 / (1.0 + 1.079 / HLL_M) * HLL_M * HLL_M * float(2**_HLL_SHIFT))
HLL_SMALL_CUT = repr(2.5 * HLL_M)


def q_hll_distinct(spark, sf):
    """HyperLogLog distinct-count sketch (p=10, 1024 registers) over
    two document streams — the token stream (small cardinality, hits
    the linear-counting correction branch) and the normalized-text
    fingerprint stream (corpus cardinality, hits the raw-estimate
    branch) — each next to its exact distinct count.

    Scale shape: the sketch is the canonical distributed distinct
    estimator; the exact column (for the accuracy report) is the only
    corpus-scale shuffle, and a production run at 100 TB would drop
    it and keep just the sketch (≤1024-row register files shuffled
    per partition). r18, two steps: (1) sketch and exact count share
    ONE DISTINCT pass per stream — max(rho) per bucket is
    duplicate-insensitive, so registers over distinct values are
    bit-identical to registers over the raw stream, and the exact
    count is the sum of per-bucket distinct-value counts (the old
    shape ran each stream's explode/md5 pipeline twice: sketch arm +
    countDistinct arm — 4 corpus scans, and paid the distinct shuffle
    anyway inside countDistinct); (2) the two streams fuse into ONE
    corpus scan — each doc emits its token structs plus its
    fingerprint struct from a single tagged in-row array, and every
    downstream stage keys on (stream, …), so the whole query is 1
    corpus scan + 1 distinct shuffle + the register reduction, down
    from 4 scans + 4 corpus-scale shuffles in r17. The 2-row stream
    spine left-join keeps the empty-input semantics of the old
    per-stream global aggregates (a stream with no values still
    emits its row: n_exact 0, all registers empty).

    Determinism: register weights are exact integers 2^(51-M) summed
    in BIGINT (S ≤ 2^61); the estimate is one double division by the
    shared alpha*m²*2^51 literal (identical bits in both engines);
    the linear-counting branch condition compares that exact double,
    so both engines take the same branch.
    """
    # no parallelism spread: it would shuffle the full-width text
    # column only to feed split/md5 work the register groupBy already
    # combines map-side (A/B 1.23s vs 0.78s at sf0.1, r7)
    df = load_documents_by_id(spark, sf)
    # NULL-text semantics are DELIBERATE here (ADVICE r18): the oracle
    # emits a NULL fingerprint row for a NULL-text doc (md5(NULL) in
    # SQL_HLL_FPS), which its register GROUP BY keeps as a NULL bucket
    # — occupying one COUNT(*) slot while contributing nothing to the
    # register sum or COUNT(DISTINCT v). Without the coalesce below,
    # concat's NULL propagation silently dropped the doc from BOTH
    # streams (zero rows), so estimates would drift the moment NULL
    # text appears. The coalesced empty token array keeps the token
    # stream empty (matching the oracle's unnest of an empty split)
    # while letting the NULL fingerprint struct through.
    tagged = df.select(
        F.explode(
            F.concat(
                F.coalesce(
                    F.transform(
                        F.filter(
                            F.split(F.trim(F.col("text")), r"[ \t\n\x0B\f\r]+"),
                            lambda v: F.length(v) > 0,
                        ),
                        lambda v: F.struct(F.lit(0).alias("s"), v.alias("v")),
                    ),
                    F.array().cast("array<struct<s:int,v:string>>"),
                ),
                F.array(
                    F.struct(
                        F.lit(1).alias("s"),
                        F.md5(
                            F.encode(normalized_text(F.col("text")), "utf-8")
                        ).alias("v"),
                    )
                ),
            )
        ).alias("e")
    ).select(F.col("e.s").alias("stream"), F.col("e.v").alias("v"))
    hashed = tagged.distinct().select(
        "stream", _hash60(F.col("v")).alias("h")
    ).select(
        "stream",
        "h",
        F.pmod(F.col("h"), F.lit(HLL_M)).alias("bucket"),
        # integer `div`, not `/`: h spans 60 bits, past double's 2^53
        F.expr(f"h div {HLL_M}").alias("w"),
    )
    rho = F.when(F.col("w") == 0, F.lit(_HLL_SHIFT)).otherwise(
        F.lit(_HLL_SHIFT) - F.length(F.expr("bin(w)"))
    )
    regs = (
        # nv counts h, not *, so the NULL row never inflates n_exact —
        # COUNT(DISTINCT v) parity (the NULL bucket still occupies its
        # n_buckets slot via the count(*) one level up, like the
        # oracle's GROUP BY)
        hashed.select("stream", "bucket", rho.alias("rho"), "h")
        .groupBy("stream", "bucket")
        .agg(F.max("rho").alias("m"), F.count("h").alias("nv"))
    )
    per_stream = regs.groupBy("stream").agg(
        F.sum(F.expr(f"shiftleft(cast(1 as bigint), {_HLL_SHIFT} - m)")).alias(
            "s_present"
        ),
        F.count("*").alias("n_buckets"),
        F.sum("nv").alias("nv_sum"),
    )
    spine = spark.range(2).select(F.col("id").cast("int").alias("stream"))
    stats = (
        spine.join(F.broadcast(per_stream), "stream", "left")
        .select(
            "stream",
            # s_present stays NULL for an absent stream — exactly the
            # old global-agg semantics (sum over zero rows), so the
            # estimate degrades to NULL identically on empty input
            (
                F.col("s_present")
                + (F.lit(HLL_M) - F.coalesce("n_buckets", F.lit(0)))
                * F.lit(1 << _HLL_SHIFT)
            ).alias("s"),
            (F.lit(HLL_M) - F.coalesce("n_buckets", F.lit(0))).alias("v_empty"),
            # countDistinct parity: empty stream counts 0
            F.coalesce(F.col("nv_sum"), F.lit(0).cast("bigint")).alias("n_exact"),
        )
    )
    raw = F.lit(float(HLL_ALPHA_NUM)) / F.col("s").cast("double")
    est = F.when(
        (F.col("v_empty") > 0) & (raw <= F.lit(float(HLL_SMALL_CUT))),
        F.lit(float(HLL_M))
        * F.log(F.lit(float(HLL_M)) / F.col("v_empty").cast("double")),
    ).otherwise(raw)
    return stats.select(
        F.when(F.col("stream") == 0, F.lit("tokens"))
        .otherwise(F.lit("fingerprints"))
        .alias("metric"),
        "n_exact",
        est.cast(DEC).cast("double").alias("n_est"),
        "v_empty",
    ).orderBy("metric")


def _sql_hll_branch(vals_sql: str, metric: str) -> str:
    return f"""
SELECT '{metric}' AS metric,
       (SELECT COUNT(DISTINCT v) FROM ({vals_sql})) AS n_exact,
       CAST(CAST(CASE WHEN v_empty > 0 AND {HLL_ALPHA_NUM} / CAST(s AS DOUBLE) <= {HLL_SMALL_CUT}
                 THEN {float(HLL_M)!r} * ln({float(HLL_M)!r} / CAST(v_empty AS DOUBLE))
                 ELSE {HLL_ALPHA_NUM} / CAST(s AS DOUBLE) END
            AS DECIMAL(30,6)) AS DOUBLE) AS n_est,
       v_empty
FROM (
  SELECT CAST(SUM(1::BIGINT << ({_HLL_SHIFT} - m)) + ({HLL_M} - COUNT(*)) * (1::BIGINT << {_HLL_SHIFT}) AS BIGINT) AS s,
         {HLL_M} - COUNT(*) AS v_empty
  FROM (
    SELECT bucket, MAX(CASE WHEN w = 0 THEN {_HLL_SHIFT}
                            ELSE {_HLL_SHIFT} - length(bin(w)) END) AS m
    FROM (
      SELECT h % {HLL_M} AS bucket, h // {HLL_M} AS w
      FROM (SELECT {_sql_hash60('v')} AS h FROM ({vals_sql})))
    GROUP BY bucket))
"""


SQL_HLL_TOKS = f"""SELECT t AS v FROM (
  SELECT unnest({SQL_TOKENS}) AS t FROM documents) WHERE length(t) > 0"""
SQL_HLL_FPS = f"SELECT md5({SQL_NORM}) AS v FROM documents"

SQL_HLL_DISTINCT = (
    "SELECT * FROM ("
    + _sql_hll_branch(SQL_HLL_TOKS, "tokens")
    + " UNION ALL "
    + _sql_hll_branch(SQL_HLL_FPS, "fingerprints")
    + ") ORDER BY metric"
)


# -- gopher_quality --------------------------------------------------------
# Gopher-rule thresholds (Rae et al. 2021 repetition filters, adapted
# to the whitespace-token corpus): a doc fails if its vocabulary is
# too small, one token dominates, or most bigram mass is repeats.
GOPHER_MIN_DISTINCT_RATIO = 0.10
GOPHER_MAX_TOP_TOKEN_FRAC = 0.30
GOPHER_MAX_DUP_BIGRAM_FRAC = 0.90


# Gopher's per-doc stats relation is consumed by THREE registry
# entries (gopher_quality itself, quality_ensemble's first arm, and
# dsir_importance's target membership) — session-persist it like the
# shingle/basket relations so each consumer reads the collapsed
# doc-scale rows instead of re-running both explode+groupBy pipelines.
_GOPHER_CACHE = SessionCache()

# char_entropy's per-doc relation, shared with quality_ensemble.
_ENTROPY_CACHE = SessionCache()


def q_gopher_quality(spark, sf, base=None):
    """Repetition-based quality filter (the Gopher/MassiveText rules):
    per-document distinct-token ratio, most-common-token fraction, and
    duplicate-bigram mass fraction, plus the combined keep/drop flag.
    The per-doc stats relation is session-persisted (_GOPHER_CACHE);
    the ordered projection below it stays lazy per call.

    Scale shape: two shuffles, both map-side combined and both keyed
    by (doc_id, gram) — per-doc token counts and per-doc bigram
    counts; each collapses to per-doc scalars with a groupBy(doc_id)
    whose input is already vocabulary-bounded per doc. Bigrams are
    built in-row (sequence + element_at over the split array) so
    nothing wider than (doc_id, gram) ever reaches an exchange. The
    final join of two per-doc relations is doc-keyed and AQE-planned.

    Determinism: each ratio is ONE IEEE division of exact integers
    (identical in both engines; the keep flag compares those exact
    doubles, so branch decisions agree bit-for-bit); emitted ratios
    then round through decimal(30,6).

    `base` (optional): a pre-persisted (doc_id, text, norm) relation —
    quality_ensemble passes its shared cached docs so all three signal
    arms read ONE materialized scan instead of each re-reading parquet.
    """
    return _GOPHER_CACHE.get(spark, sf, lambda: _build_gopher_stats(spark, sf, base))


def _build_gopher_stats(spark, sf, base):
    df = base if base is not None else load_documents_by_id(spark, sf)
    toks = df.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), r"[ \t\n\x0B\f\r]+")).alias("t")
    ).where(F.length("t") > 0)
    tf = toks.groupBy("doc_id", "t").agg(F.count("*").alias("c"))
    tok_stats = tf.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count("*").alias("n_distinct"),
        F.max("c").alias("max_c"),
    )
    # toks is materialized as a column FIRST: element_at inside the
    # transform lambda then reads the bound array — inlining split()
    # into the lambda would re-split the text per element (O(n²)/doc)
    bi = df.select(
        "doc_id", F.split(F.trim(F.col("text")), r"[ \t\n\x0B\f\r]+").alias("toks")
    ).select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(toks) >= 2 THEN "
                "transform(sequence(1, size(toks) - 1), "
                " i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1))) "
                "ELSE array() END"
            )
        ).alias("g"),
    )
    bf = bi.groupBy("doc_id", "g").agg(F.count("*").alias("c"))
    bi_stats = bf.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"),
        F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(F.lit(0))).alias("dup_bi"),
    )
    joined = tok_stats.join(bi_stats, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        (F.col("n_distinct").cast("double") / F.col("n_tokens")).alias("dr"),
        (F.col("max_c").cast("double") / F.col("n_tokens")).alias("ttf"),
        F.when(
            F.coalesce(F.col("n_bigrams"), F.lit(0)) > 0,
            F.col("dup_bi").cast("double") / F.col("n_bigrams"),
        )
        .otherwise(F.lit(0.0))
        .alias("dbf"),
    )
    keep = (
        (F.col("dr") >= GOPHER_MIN_DISTINCT_RATIO)
        & (F.col("ttf") <= GOPHER_MAX_TOP_TOKEN_FRAC)
        & (F.col("dbf") <= GOPHER_MAX_DUP_BIGRAM_FRAC)
    )
    return joined.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        F.col("dr").cast(DEC).cast("double").alias("distinct_ratio"),
        F.col("ttf").cast(DEC).cast("double").alias("top_token_frac"),
        F.col("dbf").cast(DEC).cast("double").alias("dup_bigram_frac"),
        keep.cast("int").alias("keep"),
    )


SQL_GOPHER = f"""
WITH toks AS (
  SELECT doc_id, t FROM (
    SELECT doc_id, unnest({SQL_TOKENS}) AS t FROM documents)
  WHERE length(t) > 0),
tf AS (SELECT doc_id, t, COUNT(*) AS c FROM toks GROUP BY doc_id, t),
tok_stats AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens, COUNT(*) AS n_distinct,
         MAX(c) AS max_c
  FROM tf GROUP BY doc_id),
bi AS (
  SELECT doc_id, g FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(toks)),
             i -> toks[CAST(i AS INTEGER)] || ' ' ||
                  toks[CAST(i AS INTEGER) + 1])) AS g
    FROM (SELECT doc_id, {SQL_TOKENS} AS toks FROM documents))),
bf AS (SELECT doc_id, g, COUNT(*) AS c FROM bi GROUP BY doc_id, g),
bi_stats AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
         CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup_bi
  FROM bf GROUP BY doc_id),
j AS (
  SELECT t.doc_id, t.n_tokens, t.n_distinct,
         CAST(t.n_distinct AS DOUBLE) / t.n_tokens AS dr,
         CAST(t.max_c AS DOUBLE) / t.n_tokens AS ttf,
         CASE WHEN COALESCE(b.n_bigrams, 0) > 0
              THEN CAST(b.dup_bi AS DOUBLE) / b.n_bigrams ELSE 0.0 END AS dbf
  FROM tok_stats t LEFT JOIN bi_stats b ON t.doc_id = b.doc_id)
SELECT doc_id, n_tokens, n_distinct,
       CAST(CAST(dr AS DECIMAL(30,6)) AS DOUBLE) AS distinct_ratio,
       CAST(CAST(ttf AS DECIMAL(30,6)) AS DOUBLE) AS top_token_frac,
       CAST(CAST(dbf AS DECIMAL(30,6)) AS DOUBLE) AS dup_bigram_frac,
       CAST(dr >= {GOPHER_MIN_DISTINCT_RATIO} AND ttf <= {GOPHER_MAX_TOP_TOKEN_FRAC}
            AND dbf <= {GOPHER_MAX_DUP_BIGRAM_FRAC} AS INTEGER) AS keep
FROM j ORDER BY doc_id
"""


# -- tfidf_topk ------------------------------------------------------------
TFIDF_K = 3


def q_tfidf_topk(spark, sf):
    """Top-3 TF-IDF terms per document — the classic term-weighting
    step for keyword extraction / sparse retrieval indexes.

    Scale shape: term frequencies are one map-side-combined
    groupBy(doc_id, term); document frequency REUSES that relation
    (one additional vocabulary-scale groupBy — never a second corpus
    scan); the idf join is on the aggregated vocab relation. The
    per-doc top-k is a doc-partitioned window over the tf relation —
    the shuffle is keyed by doc_id and each partition ranks only its
    own docs' vocabularies. No corpus-scale sort anywhere.

    Determinism: the ranking key is tf*ln(N/df) ROUNDED to
    decimal(30,6) BEFORE the window in both engines, so 1-ulp ln()
    differences cannot flip ranks; remaining ties break on the term.
    N reaches the plan as a broadcast 1-row aggregate (bm25's stats
    pattern) — no driver-side count() action, no extra corpus scan.
    """
    df = load_documents_by_id(spark, sf)
    n = df.agg(F.count("*").cast("double").alias("n_docs"))
    toks = df.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), r"[ \t\n\x0B\f\r]+")).alias("t")
    ).where(F.length("t") > 0)
    tf = toks.groupBy("doc_id", "t").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("t").agg(F.count("*").alias("df"))
    scored = (
        tf.join(dfreq, "t")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "t",
            "tf",
            "df",
            (
                F.col("tf").cast("double")
                * F.log(F.col("n_docs") / F.col("df").cast("double"))
            )
            .cast(DEC)
            .cast("double")
            .alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "t")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TFIDF_K)
        .select("doc_id", "rank", F.col("t").alias("term"), "tf", "df", "tfidf")
    )


def _sql_tfidf() -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, t FROM (
    SELECT doc_id, unnest({SQL_TOKENS}) AS t FROM documents)
  WHERE length(t) > 0),
tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM toks GROUP BY doc_id, t),
dfreq AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY t),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, t, tf, df,
         CAST(CAST(CAST(tf AS DOUBLE) * ln(n_docs / CAST(df AS DOUBLE))
              AS DECIMAL(30,6)) AS DOUBLE) AS tfidf
  FROM tf JOIN dfreq USING (t) CROSS JOIN n),
ranked AS (
  SELECT doc_id, t, tf, df, tfidf,
         row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, t) AS rank
  FROM scored)
SELECT doc_id, rank, t AS term, tf, df, tfidf
FROM ranked WHERE rank <= {TFIDF_K} ORDER BY doc_id, rank
"""


# -- pmi_collocations ------------------------------------------------------
PMI_MIN_COUNT = 5
PMI_TOPK = 20


def q_pmi_collocations(spark, sf):
    """Corpus collocation mining: the top-20 token bigrams by pointwise
    mutual information (with a min-count support filter) — the phrase
    detection step (word2vec-phrases / NSP-style corpus prep).

    Scale shape: bigrams are built in-row (no positional self-join),
    then ONE map-side-combined groupBy per n-gram order collapses the
    corpus to vocabulary scale; the two unigram joins run against the
    (bounded) unigram relation, broadcast when small. The top-k is
    TakeOrdered on the filtered bigram relation. The corpus is scanned
    twice and nothing un-aggregated is ever shuffled.

    Determinism: PMI is ln() of ONE double ratio whose numerator and
    denominator are products written in the same order in both
    engines; the emitted value and the ranking key round through
    decimal(30,6), ties break on the bigram string.

    The corpus totals come from 1-row aggregates OVER the grouped
    relations (sum of unigram counts / sum of bigram counts), cross-
    joined as broadcasts: no driver-side count() action, and because
    the total branch shares the groupBy exchange with the join branch
    Catalyst reuses it (ReusedExchange) instead of re-scanning.
    """
    df = load_documents_by_id(spark, sf)
    toks = df.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), r"[ \t\n\x0B\f\r]+")).alias("t")
    ).where(F.length("t") > 0)
    uni = toks.groupBy("t").agg(F.count("*").alias("c"))
    n_uni = uni.agg(F.sum("c").cast("double").alias("n_uni"))
    # materialize toks before the lambda — see q_gopher_quality
    bi = df.select(F.split(F.trim(F.col("text")), r"[ \t\n\x0B\f\r]+").alias("toks")).select(
        F.explode(
            F.expr(
                "CASE WHEN size(toks) >= 2 THEN "
                "transform(sequence(1, size(toks) - 1), "
                " i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1))) "
                "ELSE array() END"
            )
        ).alias("g")
    )
    bc = bi.groupBy("g").agg(F.count("*").alias("c_xy"))
    n_bi = bc.agg(F.sum("c_xy").cast("double").alias("n_bi"))
    parts = bc.select(
        "g",
        "c_xy",
        F.split_part(F.col("g"), F.lit(" "), F.lit(1)).alias("w1"),
        F.split_part(F.col("g"), F.lit(" "), F.lit(2)).alias("w2"),
    )
    j = (
        parts.join(F.broadcast(uni.withColumnRenamed("c", "c_x")), parts.w1 == uni.t)
        .drop("t")
        .join(
            F.broadcast(uni.withColumnRenamed("c", "c_y").withColumnRenamed("t", "t2")),
            parts.w2 == F.col("t2"),
        )
        .drop("t2")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi))
    )
    pmi = F.log(
        (F.col("c_xy").cast("double") * F.col("n_uni") * F.col("n_uni"))
        / (F.col("n_bi") * F.col("c_x").cast("double") * F.col("c_y").cast("double"))
    )
    return (
        j.where(F.col("c_xy") >= PMI_MIN_COUNT)
        .select(
            F.col("g").alias("bigram"),
            "c_xy",
            "c_x",
            "c_y",
            pmi.cast(DEC).cast("double").alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "bigram")
        .limit(PMI_TOPK)
    )


def _sql_pmi() -> str:
    return f"""
WITH toks AS (
  SELECT t FROM (SELECT unnest({SQL_TOKENS}) AS t FROM documents)
  WHERE length(t) > 0),
uni AS (SELECT t, COUNT(*) AS c FROM toks GROUP BY t),
n_uni AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM toks),
bi AS (
  SELECT unnest(list_transform(range(1, len(toks)),
           i -> toks[CAST(i AS INTEGER)] || ' ' ||
                toks[CAST(i AS INTEGER) + 1])) AS g
  FROM (SELECT {SQL_TOKENS} AS toks FROM documents)),
bc AS (SELECT g, COUNT(*) AS c_xy FROM bi GROUP BY g),
n_bi AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM bi),
j AS (
  SELECT bc.g, bc.c_xy, ux.c AS c_x, uy.c AS c_y,
         ln((CAST(bc.c_xy AS DOUBLE) * n_uni.n * n_uni.n)
            / (n_bi.n * CAST(ux.c AS DOUBLE) * CAST(uy.c AS DOUBLE))) AS pmi
  FROM bc
  JOIN uni ux ON split_part(bc.g, ' ', 1) = ux.t
  JOIN uni uy ON split_part(bc.g, ' ', 2) = uy.t
  CROSS JOIN n_uni CROSS JOIN n_bi)
SELECT g AS bigram, c_xy, c_x, c_y,
       CAST(CAST(pmi AS DECIMAL(30,6)) AS DOUBLE) AS pmi
FROM j WHERE c_xy >= {PMI_MIN_COUNT}
ORDER BY pmi DESC, bigram LIMIT {PMI_TOPK}
"""


# -- inverted_index --------------------------------------------------------
IDX_TOP_TERMS = 50
IDX_POSTINGS = 20


def q_inverted_index(spark, sf):
    """Inverted-index construction: for the 50 highest-df terms, the
    document frequency, total term frequency, and the first 20 doc_ids
    of the posting list (ascending, CSV-serialized — list columns
    crash the driver's pandas compare, package convention).

    Scale shape: postings are CAPPED BEFORE collection — a
    term-partitioned row_number window keeps ≤20 doc ids per term, so
    collect_list never materializes an unbounded posting list on any
    executor (the classic inverted-index OOM). df/tf come from the
    map-side-combined (doc, term) relation; top terms via TakeOrdered.

    Determinism: posting order is doc_id ascending (unique), term
    ranking breaks ties on the term string, counts are exact integers.
    """
    df = load_documents_by_id(spark, sf)
    toks = df.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), r"[ \t\n\x0B\f\r]+")).alias("t")
    ).where(F.length("t") > 0)
    tf = toks.groupBy("doc_id", "t").agg(F.count("*").alias("tf"))
    term_stats = tf.groupBy("t").agg(
        F.count("*").alias("df"), F.sum("tf").alias("total_tf")
    )
    w = Window.partitionBy("t").orderBy("doc_id")
    capped = tf.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= IDX_POSTINGS
    )
    postings = capped.groupBy("t").agg(
        F.array_join(F.sort_array(F.collect_list("doc_id")), ",").alias("postings")
    )
    return (
        term_stats.join(postings, "t")
        .select(F.col("t").alias("term"), "df", "total_tf", "postings")
        .orderBy(F.desc("df"), "term")
        .limit(IDX_TOP_TERMS)
    )


def _sql_inverted_index() -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, t FROM (
    SELECT doc_id, unnest({SQL_TOKENS}) AS t FROM documents)
  WHERE length(t) > 0),
tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM toks GROUP BY doc_id, t),
term_stats AS (
  SELECT t, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS total_tf
  FROM tf GROUP BY t),
capped AS (
  SELECT doc_id, t FROM (
    SELECT doc_id, t, row_number() OVER (PARTITION BY t ORDER BY doc_id) AS rn
    FROM tf) WHERE rn <= {IDX_POSTINGS}),
postings AS (
  SELECT t, string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
  FROM capped GROUP BY t)
SELECT t AS term, df, total_tf, postings
FROM term_stats JOIN postings USING (t)
ORDER BY df DESC, term LIMIT {IDX_TOP_TERMS}
"""


# -- events_gap_fill -------------------------------------------------------
def q_events_gap_fill(spark, sf):
    """Time-series gap filling: per-(event_type, hour) event counts
    and mean values on a DENSE hourly grid — missing hours get count 0
    and a linearly interpolated mean (the gap-fill + interpolate
    primitive of time-series stores, e.g. timescale's
    time_bucket_gapfill/locf).

    Scale shape: the raw stream collapses FIRST via one
    map-side-combined groupBy((type, hour)) — the grid, the joins, and
    the interpolation windows all run at grid scale (|types| × hours),
    which is data-rate-independent; the grid generation is an in-row
    sequence() explode per type. One window shuffle keyed by type.

    Determinism: hour buckets are epoch-second integer division;
    means are DEC-sum / count; interpolation is fixed-order double
    arithmetic on identical inputs. The emitted value rounds via
    floor(x*1e6 + 0.5)/1e6, NOT a decimal cast — hourly means land on
    exact .xxxxxx5 halves constantly (2-decimal values / small
    counts), where Spark's decimal cast rounds half-up but DuckDB's
    rounds half-even (same rule as warehouse_ops._r2).
    """
    # no parallelism spread — trivial per-row bucketing, map-side
    # combined hourly groupBy (drift_psi rule; A/B 0.93s vs 0.63s, r7)
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
            (F.sum(F.col("value").cast(DEC)).cast("double") / F.count("*")).alias(
                "avg_value"
            ),
        )
    )
    spans = hourly.groupBy("event_type").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    grid = spans.select(
        "event_type", F.explode(F.expr("sequence(h0, h1)")).alias("h")
    )
    joined = grid.join(hourly, ["event_type", "h"], "left")
    wb = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    obs_h = F.when(F.col("cnt").isNotNull(), F.col("h"))
    prev_v = F.last("avg_value", ignorenulls=True).over(wb)
    prev_h = F.last(obs_h, ignorenulls=True).over(wb)
    next_v = F.first("avg_value", ignorenulls=True).over(wf)
    next_h = F.first(obs_h, ignorenulls=True).over(wf)
    interp = F.when(F.col("cnt").isNotNull(), F.col("avg_value")).otherwise(
        prev_v
        + (next_v - prev_v)
        * (F.col("h") - prev_h).cast("double")
        / (next_h - prev_h).cast("double")
    )
    return joined.select(
        "event_type",
        "h",
        F.coalesce(F.col("cnt"), F.lit(0)).alias("n_events"),
        (F.floor(interp * 1000000.0 + 0.5) / 1000000.0).alias("avg_value_filled"),
        F.col("cnt").isNull().cast("int").alias("is_gap"),
    )


SQL_GAP_FILL = """
WITH hourly AS (
  SELECT event_type,
         CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
         COUNT(*) AS cnt,
         CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*) AS avg_value
  FROM events GROUP BY event_type, CAST(floor(epoch(ts)) AS BIGINT) // 3600),
spans AS (SELECT event_type, MIN(h) AS h0, MAX(h) AS h1 FROM hourly GROUP BY event_type),
grid AS (
  SELECT event_type, unnest(generate_series(h0, h1)) AS h FROM spans),
j AS (
  SELECT g.event_type, g.h, hourly.cnt, hourly.avg_value
  FROM grid g LEFT JOIN hourly ON g.event_type = hourly.event_type AND g.h = hourly.h),
w AS (
  SELECT event_type, h, cnt, avg_value,
         last_value(avg_value IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY h
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
         last_value(CASE WHEN cnt IS NOT NULL THEN h END IGNORE NULLS)
             OVER (PARTITION BY event_type ORDER BY h
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_h,
         first_value(avg_value IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY h
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
         first_value(CASE WHEN cnt IS NOT NULL THEN h END IGNORE NULLS)
             OVER (PARTITION BY event_type ORDER BY h
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_h
  FROM j)
SELECT event_type, h,
       COALESCE(cnt, 0) AS n_events,
       floor((CASE WHEN cnt IS NOT NULL THEN avg_value
                   ELSE prev_v + (next_v - prev_v)
                        * CAST(h - prev_h AS DOUBLE) / CAST(next_h - prev_h AS DOUBLE) END
             ) * 1000000.0 + 0.5) / 1000000.0 AS avg_value_filled,
       CAST(cnt IS NULL AS INTEGER) AS is_gap
FROM w ORDER BY event_type, h
"""


# -- events_time_weighted --------------------------------------------------
def q_events_time_weighted(spark, sf):
    """Time-weighted average per event type (the timescale
    time_weight/LOCF primitive): each observation's value holds until
    the next observation of that type; the mean weights each value by
    its holding duration — the correct average for irregularly sampled
    series, where the arithmetic mean over-counts bursts.

    Scale shape: ONE window shuffle keyed by event_type (lead() for
    the successor timestamp), then a map-side-combined groupBy — two
    exchanges total, both on the type key; nothing is ever collected
    or densified.

    Determinism: durations are exact µs integers (timestamp_micros
    arithmetic, never float seconds); value×duration products are
    decimal(30,6)×BIGINT = exact decimals, summed exactly; ordering
    ties on identical timestamps break on event_id.
    """
    # no parallelism spread — the window exchange on event_type is the
    # first real stage either way (A/B 0.83s vs 0.60s at sf0.1, r7)
    ev = load(spark, sf, "events").select("event_type", "ts", "value", "event_id")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    timed = ev.select(
        "event_type",
        "value",
        F.unix_micros("ts").alias("t"),
        F.unix_micros(F.lead("ts").over(w)).alias("t_next"),
    )
    return (
        timed.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            (F.max("t") - F.min("t")).alias("span_us"),
            F.sum(
                F.when(
                    F.col("t_next").isNotNull(),
                    F.col("value").cast(DEC) * (F.col("t_next") - F.col("t")),
                )
            ).alias("wsum"),
        )
        .select(
            "event_type",
            "n_events",
            "span_us",
            (F.col("wsum").cast("double") / F.col("span_us").cast("double"))
            .cast(DEC)
            .cast("double")
            .alias("tw_avg"),
        )
        .orderBy("event_type")
    )


SQL_TIME_WEIGHTED = """
WITH timed AS (
  SELECT event_type, value,
         epoch_us(ts) AS t,
         epoch_us(lead(ts) OVER (PARTITION BY event_type ORDER BY ts, event_id)) AS t_next
  FROM events)
SELECT event_type, COUNT(*) AS n_events,
       MAX(t) - MIN(t) AS span_us,
       CAST(CAST(CAST(SUM(CASE WHEN t_next IS NOT NULL
                      THEN CAST(value AS DECIMAL(30,6)) * (t_next - t) END) AS DOUBLE)
            / CAST(MAX(t) - MIN(t) AS DOUBLE) AS DECIMAL(30,6)) AS DOUBLE) AS tw_avg
FROM timed GROUP BY event_type ORDER BY event_type
"""


# -- char_entropy ----------------------------------------------------------
ENTROPY_MIN = 3.0


def q_char_entropy(spark, sf, base=None):
    """Character-entropy quality filter: Shannon entropy of each
    document's normalized character distribution — near-zero for
    degenerate/repetitive text, ~4 bits-in-nats for natural English;
    low-entropy docs get flagged (the cheap screen before the
    trigram-LM scorer, which shares this module's explode shape).

    Scale shape: chars are generated in-row (sequence + substring,
    the trigram_lm_score pattern), one map-side-combined
    groupBy((doc, char)) — bounded by |doc|×|alphabet| — then one
    groupBy(doc). Two shuffles, both after partial aggregation.

    Determinism: p = cnt/n is one exact division; the p·ln(p) terms
    accumulate through decimal(30,6) so the per-doc sum is
    order-independent; the keep flag compares the PRE-rounded decimal
    sum in both engines.

    `base` (optional): quality_ensemble's shared persisted
    (doc_id, text, norm) relation — norm is read from it instead of
    recomputed off a fresh parquet scan. The per-doc entropy relation
    is session-persisted (_ENTROPY_CACHE — consumed by both
    char_entropy and quality_ensemble's second arm).
    """
    return _ENTROPY_CACHE.get(spark, sf, lambda: _build_char_entropy(spark, sf, base))


def _build_char_entropy(spark, sf, base):
    if base is not None:
        docs = base.select("doc_id", "norm")
    else:
        df = load_documents_by_id(spark, sf)
        docs = df.select("doc_id", normalized_text(F.col("text")).alias("norm"))
    chars = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN length(norm) > 0 THEN "
                "transform(sequence(1, length(norm)), i -> substring(norm, i, 1)) "
                "ELSE array() END"
            )
        ).alias("c"),
    )
    counts = chars.groupBy("doc_id", "c").agg(F.count("*").alias("cnt"))
    n = counts.groupBy("doc_id").agg(F.sum("cnt").alias("n"))
    p = F.col("cnt").cast("double") / F.col("n").cast("double")
    ent = (
        counts.join(n, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.max("n").alias("n_chars_norm"),
            (-F.sum((p * F.log(p)).cast(DEC))).alias("ent_dec"),
        )
    )
    return ent.select(
        "doc_id",
        "n_chars_norm",
        F.col("ent_dec").cast("double").alias("entropy"),
        (F.col("ent_dec") >= ENTROPY_MIN).cast("int").alias("keep"),
    )


SQL_CHAR_ENTROPY = f"""
WITH d AS (SELECT doc_id, {SQL_NORM} AS norm FROM documents),
chars AS (
  SELECT doc_id,
         unnest(list_transform(range(1, CAST(length(norm) AS BIGINT) + 1),
                               i -> substr(norm, CAST(i AS INTEGER), 1))) AS c
  FROM d WHERE length(norm) > 0),
counts AS (SELECT doc_id, c, COUNT(*) AS cnt FROM chars GROUP BY doc_id, c),
n AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n FROM counts GROUP BY doc_id),
ent AS (
  SELECT counts.doc_id, MAX(n.n) AS n_chars_norm,
         -SUM(CAST((CAST(cnt AS DOUBLE) / n.n) * ln(CAST(cnt AS DOUBLE) / n.n)
              AS DECIMAL(30,6))) AS ent_dec
  FROM counts JOIN n ON counts.doc_id = n.doc_id
  GROUP BY counts.doc_id)
SELECT doc_id, n_chars_norm,
       CAST(ent_dec AS DOUBLE) AS entropy,
       CAST(ent_dec >= {ENTROPY_MIN} AS INTEGER) AS keep
FROM ent ORDER BY doc_id
"""


# -- copurchase_similarity -------------------------------------------------
# Baskets (orders) above this line-count are excluded from pair
# expansion: per-basket pair fan-out is quadratic in basket size, and
# one degenerate 10k-line order would emit 5*10^7 pairs. Same
# cap-and-mirror rule as dedup.py MAX_BUCKET / similarity MAX_EMB_BUCKET.
MAX_BASKET = 64
MIN_CO_ORDERS = 2
COPURCHASE_TOPK = 100

# The capped per-order basket-array relation (r18: elements carry
# their part's order-count) backs the pair fan-out; without
# materialization Catalyst re-runs the distinct + collect_list +
# count-attach shuffles per call. One |orders|-sized relation with
# ≤MAX_BASKET-element struct arrays — smaller than the distinct
# (order, part) line relation it replaced (r7).
_BASKET_CACHE = SessionCache()


def _basket_lines(spark, sf):
    """Capped baskets with embedded frequencies: one row per order
    whose DISTINCT part set has ≤ MAX_BASKET elements, as an `items`
    array of (part, n_orders) structs sorted ascending by part —
    n_orders is the part's order count over the SAME capped universe.

    r18 (opt round): the per-part order counts moved INTO the basket
    array at build time. The steady-state pair pass previously joined
    the pair census back to a part-frequency relation twice (fa/fb),
    and each join side built its own broadcast — two extra traversals
    of this relation per call (stage profile: ~0.6s of the 1.4s warm
    wall at sf0.1). With the counts riding the array elements, the
    numerator AND both denominators fall out of the single pair
    groupBy — steady state is one shuffle, zero joins, zero broadcast
    builds. Build cost: one part-keyed shuffle for the counts and a
    second map-side pass to re-collect the arrays (no hint on the
    count join — part frequencies are SF-proportional, the q7 rule;
    AQE broadcasts them while they fit, an at-scale build runs it as
    a partkey join) — one-time, amortized like every session cache.
    """
    return _BASKET_CACHE.get(spark, sf, lambda: _build_basket_lines(spark, sf))


def _build_basket_lines(spark, sf):
    # r14: scan the at-rest orderkey-bucketed lineitem copy (no
    # spread() — it would repartition away the bucketing). Both wide
    # exchanges of the old build vanish: the (l_orderkey, l_partkey)
    # DISTINCT and the groupBy(l_orderkey) are each satisfied by the
    # scan's HashPartitioning(l_orderkey) (subset clustering), so the
    # basket build is now map-side only — at 100 TB those two
    # lineitem-scale shuffles WERE the cache-build cost (SCALE.md r14
    # at-scale census).
    from data_validator_spark.operators.bucketing import bucketed_fact

    li = (
        bucketed_fact(spark, sf, "lineitem", "l_orderkey")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    sized = (
        li.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_list("l_partkey")).alias("parts"))
        .where(F.size("parts") <= MAX_BASKET)
    )
    # part order-counts over the capped universe (the oracle's `small`
    # CTE); computed once at build, never at query time
    freq = (
        sized.select(F.explode("parts").alias("p"))
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        sized.select("l_orderkey", F.explode("parts").alias("p"))
        .join(freq, "p")
        .groupBy("l_orderkey")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(F.col("p").alias("part"), F.col("n").alias("n_orders"))
                )
            ).alias("items")
        )
    )


def q_copurchase_similarity(spark, sf):
    """Market-basket item-item similarity (the co-purchase /
    'customers also bought' recommender primitive): for every pair of
    parts appearing in the same order, count co-occurrences and score
    Jaccard = co / (n_a + n_b - co); emit the strongest 100 pairs.

    Scale shape: pairs are generated ONLY within an order — each
    order's distinct part set is collected to a sorted
    ≤MAX_BASKET-element array once (the persisted _basket_lines
    relation; baskets over the cap are excluded, the standard
    degenerate-bucket rule), with each element carrying its
    order-count (r18 — see _basket_lines), so the quadratic fan-out
    is a self-explode of that array: ≤ C(64,2) rows per order, no
    self-join, no basket-census join (r7 replaced an order-keyed
    self-join shape, 2.4s→1.1s at sf0.1; r18 removed the two
    part-frequency broadcast joins, 1.4s→0.7s warm). Numerator and
    both denominators fall out of the ONE pair groupBy — n_orders is
    constant per part so min() just reads it — making the pair
    exchange the query's only shuffle; counts share the capped
    universe, so Jaccard never mixes universes. The final top-k is
    TakeOrdered over the MIN_CO_ORDERS-filtered pair relation — no
    global sort materializes.

    Determinism: co/n_a/n_b are exact integers; Jaccard is emitted as
    fixed-point floor(x*1e6+0.5) micro-units (int/int rationals can
    sit exactly on decimal midpoints — the multimodal_features rule);
    ordering ties break on (part_a, part_b).
    """
    baskets = _basket_lines(spark, sf)
    # all a.part < b.part pairs of the sorted array via double
    # explode: pure codegen (GenerateExec), measured at parity with
    # the interpreted higher-order transform/slice formulation it
    # replaces and simpler over struct elements
    pairs = (
        baskets.select(F.explode("items").alias("a"), "items")
        .select("a", F.explode("items").alias("b"))
        .where(F.col("a.part") < F.col("b.part"))
    )
    co = (
        pairs.groupBy(
            F.col("a.part").alias("part_a"), F.col("b.part").alias("part_b")
        )
        .agg(
            F.count(F.lit(1)).alias("co_orders"),
            F.min("a.n_orders").alias("na"),
            F.min("b.n_orders").alias("nb"),
        )
        .where(F.col("co_orders") >= MIN_CO_ORDERS)
    )
    jac = F.col("co_orders").cast("double") / (
        F.col("na") + F.col("nb") - F.col("co_orders")
    ).cast("double")
    return (
        co.select(
            "part_a",
            "part_b",
            "co_orders",
            F.col("na").alias("n_orders_a"),
            F.col("nb").alias("n_orders_b"),
            F.floor(jac * F.lit(1000000.0) + F.lit(0.5)).cast("long").alias("jaccard_q6"),
        )
        .orderBy(F.col("co_orders").desc(), "part_a", "part_b")
        .limit(COPURCHASE_TOPK)
    )


SQL_COPURCHASE = f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
bsz AS (SELECT l_orderkey, count(*) AS basket FROM li GROUP BY l_orderkey),
small AS (SELECT li.* FROM li JOIN bsz USING (l_orderkey)
          WHERE basket <= {MAX_BASKET}),
co AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         CAST(count(*) AS BIGINT) AS co_orders
  FROM small a JOIN small b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY part_a, part_b
  HAVING count(*) >= {MIN_CO_ORDERS}),
freq AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_orders
         FROM small GROUP BY l_partkey)
SELECT part_a, part_b, co_orders,
       fa.n_orders AS n_orders_a, fb.n_orders AS n_orders_b,
       CAST(floor(CAST(co_orders AS DOUBLE)
                  / (fa.n_orders + fb.n_orders - co_orders) * 1000000 + 0.5)
            AS BIGINT) AS jaccard_q6
FROM co JOIN freq fa ON co.part_a = fa.l_partkey
        JOIN freq fb ON co.part_b = fb.l_partkey
ORDER BY co_orders DESC, part_a, part_b LIMIT {COPURCHASE_TOPK}
"""


# -- event_seasonality -------------------------------------------------------
def q_event_seasonality(spark, sf):
    """Hour-of-week seasonality profile of the event stream — the load
    census behind capacity planning, anomaly baselines ("is Tuesday
    3am traffic normal?"), and train/serve drift checks on
    time-of-day features.

    Scale: one map-side-combined groupBy over ≤ 7×24 cells — the
    aggregate state is constant-size regardless of stream volume —
    then share-of-total on the 168-row relation via a broadcast
    one-row total. One shuffle.

    Determinism: counts are BIGINT; the value sum goes through the
    package dsum (DECIMAL(18,6) terms — order-independent in both
    engines); shares are micro-unit integer floor divisions.
    Day-of-week conventions differ (Spark 1=Sunday..7, DuckDB
    0=Sunday..6): Spark emits dayofweek-1 to land on DuckDB's frame.
    """
    # no parallelism spread: per-row work is two timestamp field
    # extractions — the map-side combine is the first real stage
    # (the r7 A/B rule; see spread()'s docstring)
    return seasonality_census(load(spark, sf, "events"))


def seasonality_census(events):
    """(dow, hour) census + micro-unit shares over an events relation —
    shared by the batch entry and streaming_queries' live twin (the
    streaming side aggregates on the stream, then reuses the share
    block on the ≤168-row final table)."""
    from data_validator_spark.queries import dsum

    cells = (
        events.select(
            (F.dayofweek("ts") - 1).alias("dow"),
            F.hour("ts").alias("hour"),
            "value",
        )
        .groupBy("dow", "hour")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum(F.col("value"), "value_sum"))
    )
    return seasonality_shares(cells)


def seasonality_shares(cells):
    """Attach total-share micro units to a (dow, hour, n_events,
    value_sum) cell relation (≤168 rows) via one broadcast 1-row
    total."""
    tot = cells.agg(F.sum("n_events").alias("n_total"))
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "dow",
            "hour",
            "n_events",
            "value_sum",
            F.expr("(n_events * 1000000) div n_total").alias("share_micro"),
        )
        .orderBy("dow", "hour")
    )


SQL_EVENT_SEASONALITY = f"""
WITH cells AS (
  SELECT CAST(dayofweek(ts) AS INT) AS dow,
         CAST(hour(ts) AS INT) AS hour,
         count(*) AS n_events,
         {sql_dsum("value", "value_sum")}
  FROM events GROUP BY 1, 2),
t AS (SELECT CAST(sum(n_events) AS BIGINT) AS n_total FROM cells)
SELECT dow, hour, n_events, value_sum,
       (n_events * 1000000) // n_total AS share_micro
FROM cells, t ORDER BY dow, hour
"""


# -- user_activity_gini -------------------------------------------------------
def q_user_activity_gini(spark, sf):
    """Per-event-type Gini coefficient of user activity — the
    inequality audit behind bot/power-user detection and per-user
    contribution caps in training-data collection (a type whose Gini
    → 1 is dominated by a handful of accounts; capping them changes
    the corpus, so you measure BEFORE you cap).

    Scale: the naive Gini ranks every user (corpus-scale sort). Here
    it runs on the COUNT-OF-COUNTS histogram: per-user activity
    (map-side-combined groupBy, user-scale) collapses to (k = events
    per user, f = users with k) — bounded by distinct activity
    levels, thousands of rows at any corpus size — and the rank terms
    come from one cumulative window over that tiny relation,
    partitioned by event type. For a group of f users each with k
    events occupying ranks r+1..r+f (ascending), 2·Σ rank·k =
    k·f·(2r+f+1) exactly; with A = Σ that term, N users, S events,
    Gini = (A - S·(N+1)) / (N·S) — a single non-negative rational
    (Chebyshev's sum inequality gives A ≥ S·(N+1)), emitted as one
    micro-unit floor division.

    Determinism/overflow: BIGINT end to end; A ≤ 2·S·N stays under
    2^63 through ~10^9 events × 10^5-active users per type — past
    that the census aggregate promotes to DECIMAL(38,0), same
    expressions (the domain_diversity note)."""
    # no parallelism spread: per-row work is nil — the per-user
    # map-side combine is the first real stage (the r7 A/B rule)
    df = load(spark, sf, "events")
    per_user = df.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("k")
    )
    hist = per_user.groupBy("event_type", "k").agg(
        F.count(F.lit(1)).alias("f")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("k")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    terms = hist.select(
        "event_type",
        "k",
        "f",
        F.coalesce(F.sum("f").over(w), F.lit(0)).alias("r_before"),
    )
    agg = terms.groupBy("event_type").agg(
        F.sum("f").cast("bigint").alias("n_users"),
        F.sum(F.col("k") * F.col("f")).cast("bigint").alias("n_events"),
        F.sum(
            F.col("k") * F.col("f") * (F.lit(2) * F.col("r_before") + F.col("f") + F.lit(1))
        )
        .cast("bigint")
        .alias("a_term"),
        F.max("k").cast("bigint").alias("max_events_per_user"),
    )
    return agg.select(
        "event_type",
        "n_users",
        "n_events",
        "max_events_per_user",
        F.expr(
            "((a_term - n_events * (n_users + 1)) * 1000000) div (n_users * n_events)"
        ).alias("gini_micro"),
    ).orderBy("event_type")


SQL_USER_ACTIVITY_GINI = """
WITH per_user AS (
  SELECT event_type, user_id, count(*) AS k
  FROM events GROUP BY event_type, user_id),
hist AS (
  SELECT event_type, k, count(*) AS f
  FROM per_user GROUP BY event_type, k),
terms AS (
  SELECT event_type, k, f,
         COALESCE(SUM(f) OVER (PARTITION BY event_type ORDER BY k
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS r_before
  FROM hist),
agg AS (
  SELECT event_type,
         CAST(sum(f) AS BIGINT) AS n_users,
         CAST(sum(k * f) AS BIGINT) AS n_events,
         CAST(sum(k * f * (2 * r_before + f + 1)) AS BIGINT) AS a_term,
         CAST(max(k) AS BIGINT) AS max_events_per_user
  FROM terms GROUP BY event_type)
SELECT event_type, n_users, n_events, max_events_per_user,
       ((a_term - n_events * (n_users + 1)) * 1000000) // (n_users * n_events)
         AS gini_micro
FROM agg ORDER BY event_type
"""


# -- events_user_cap ----------------------------------------------------------
USER_CAP = 20


def q_events_user_cap(spark, sf):
    """Per-user contribution cap — the REMOVE half of the
    user_activity_gini audit: keep each user's FIRST ``USER_CAP``
    events (deterministic (ts, event_id) order — stable under
    re-partitioning, retries, and engine swap) and report what the cap
    removes per event type. Training-data collection applies exactly
    this before a power user or bot dominates the corpus.

    Scale: one shuffle — a row_number window over the user_id
    partition (per-user state, the partition is one user's events;
    key_skew_audit is the companion that tells you when a user is
    large enough to need salting). The census collapses map-side to
    ≤ |event types| rows.

    Determinism: pure integer counts; the keep set is a pure function
    of (ts, event_id), both unique per row."""
    df = load_events_by_user(spark, sf)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = df.select(
        "event_type", F.row_number().over(w).alias("rn")
    )
    return (
        ranked.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum((F.col("rn") <= USER_CAP).cast("bigint")).alias("n_kept"),
            F.sum((F.col("rn") > USER_CAP).cast("bigint")).alias("n_dropped"),
        )
        .orderBy("event_type")
    )


SQL_EVENTS_USER_CAP = f"""
WITH ranked AS (
  SELECT event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events)
SELECT event_type,
       count(*) AS n_total,
       CAST(sum(CASE WHEN rn <= {USER_CAP} THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN rn > {USER_CAP} THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
FROM ranked GROUP BY event_type ORDER BY event_type
"""


QUERIES = {
    "copurchase_similarity": q_copurchase_similarity,
    "hll_distinct": q_hll_distinct,
    "gopher_quality": q_gopher_quality,
    "tfidf_topk": q_tfidf_topk,
    "pmi_collocations": q_pmi_collocations,
    "inverted_index": q_inverted_index,
    "events_gap_fill": q_events_gap_fill,
    "events_time_weighted": q_events_time_weighted,
    "char_entropy": q_char_entropy,
    "event_seasonality": q_event_seasonality,
    "user_activity_gini": q_user_activity_gini,
    "events_user_cap": q_events_user_cap,
}

ORACLES = {
    "copurchase_similarity": SQL_COPURCHASE,
    "hll_distinct": SQL_HLL_DISTINCT,
    "gopher_quality": SQL_GOPHER,
    "tfidf_topk": _sql_tfidf(),
    "pmi_collocations": _sql_pmi(),
    "inverted_index": _sql_inverted_index(),
    "events_gap_fill": SQL_GAP_FILL,
    "events_time_weighted": SQL_TIME_WEIGHTED,
    "char_entropy": SQL_CHAR_ENTROPY,
    "event_seasonality": SQL_EVENT_SEASONALITY,
    "user_activity_gini": SQL_USER_ACTIVITY_GINI,
    "events_user_cap": SQL_EVENTS_USER_CAP,
}
