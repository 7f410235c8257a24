"""Corpus-curation audit operators (SURVEY §2 LLM-pipeline rows
vocab_growth / domain_diversity / lang_id_confusion).

Training-data curation needs more than filters: before committing a
100 TB mix you audit its *composition* — is the vocabulary still
growing (Heaps' law) or has crawl dedup saturated it, is any language
dominated by a single source (diversity / data-mixing audit), and how
well does the cheap language-ID heuristic agree with the gold labels
(the router every downstream lang-conditional step trusts)?

All three operators are **integer-exact end to end** — counts, floor
divisions in micro-units, no floats — so the driver's cross-engine
value hash cannot drift: there is nothing to round. Floor division is
written `a div b` (Spark) / `a // b` (DuckDB) with every numerator
non-negative, where the two engines agree (Spark `div` truncates
toward zero, DuckDB `//` floors — identical for non-negatives).

Scale notes per operator are in the docstrings; none of the three
materializes anything bigger than vocabulary-scale, and every join is
a ≤10-row broadcast.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from data_validator_spark.functions.text import (
    lang_best_struct,
    normalized_text,
)
from data_validator_spark.queries import load_documents_by_id
from data_validator_spark.queries.textops import SQL_NORM

# -- vocab_growth: Heaps-law vocabulary growth curve -------------------------
N_DECILES = 10


def q_vocab_growth(spark, sf):
    """Vocabulary-growth (Heaps' law) curve: cumulative distinct-token
    count and token-occurrence count at 10 doc_id-ordered checkpoints.
    A healthy natural corpus grows its vocabulary ~ N^beta (beta≈0.5);
    a flat tail means the crawl is re-reading the same material (dedup
    saturation), a linear tail means degenerate/unique-junk tokens
    (boilerplate ids, hashes) — both are pre-training red flags.

    Scale: the cumulative-distinct problem is rewritten as a
    first-occurrence aggregation — ONE map-side-combined
    groupBy(token).min(doc_id) produces a vocabulary-scale relation,
    and each checkpoint's distinct count is the number of tokens whose
    first occurrence precedes it. Per-doc occurrence counts are
    computed in-row (no occurrence-scale shuffle). Each row then maps
    IN-ROW to its earliest qualifying decile (the threshold function
    thr(d) = mn + (span·d div 10) is monotone, so doc < thr(d) ⟺
    d ≥ ceil(10·(doc−mn+1)/span) — one integer expression via a
    broadcast 1-row bounds scalar; floor(x/10) ≥ q ⟺ x ≥ 10q makes
    the inversion exact), the per-decile census collapses map-side to
    ≤10 rows, and the cumulative curve is a running sum over those 10
    rows (the bounded-window rule). No ≤10× row fan-out, no
    BroadcastNestedLoopJoin predicate per row, no global sort.

    Determinism: all outputs are BIGINT counts; checkpoint thresholds
    and decile assignment are integer floor-divisions of the doc_id
    span (numerators non-negative, so Spark `div` == DuckDB `//`)."""
    docs = load_documents_by_id(spark, sf).select(
        "doc_id", normalized_text(F.col("text")).alias("norm")
    )
    bounds = docs.agg(F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx"))
    cps = (
        bounds.select(
            F.explode(F.sequence(F.lit(1), F.lit(N_DECILES))).alias("decile"),
            "mn",
            "mx",
        )
        .select(
            "decile",
            (
                F.col("mn")
                + F.expr(f"((mx - mn + 1) * decile) div {N_DECILES}")
            ).alias("thr"),
        )
    )
    # earliest decile whose threshold exceeds the id:
    # d_min = ceil(N_DECILES * (id - mn + 1) / span), clamped to the
    # decile domain (never needed on real ids; pure safety)
    d_min = (
        f"least({N_DECILES}, greatest(1, CAST("
        f"({N_DECILES} * (%s - mn + 1) + (mx - mn + 1) - 1) div (mx - mn + 1)"
        f" AS INT)))"
    )
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("norm"), " ")).alias("token")
    ).where(F.col("token") != "")
    firsts = toks.groupBy("token").agg(F.min("doc_id").alias("first_doc"))
    dtoks = docs.select(
        "doc_id",
        F.when(F.col("norm") == "", F.lit(0))
        .otherwise(F.size(F.split(F.col("norm"), " ")))
        .alias("n_toks"),
    )
    dcells = (
        dtoks.crossJoin(F.broadcast(bounds))
        .select(
            F.expr(d_min % "doc_id").alias("decile"),
            "n_toks",
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("d_docs"),
            F.sum("n_toks").cast("bigint").alias("d_occ"),
        )
    )
    vcells = (
        firsts.crossJoin(F.broadcast(bounds))
        .select(F.expr(d_min % "first_doc").alias("decile"))
        .groupBy("decile")
        .agg(F.count(F.lit(1)).alias("d_vocab"))
    )
    run = (
        Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        cps.join(dcells, "decile", "left")
        .join(vcells, "decile", "left")
        .select(
            "decile",
            F.col("thr").alias("threshold_doc"),
            F.sum(F.coalesce("d_docs", F.lit(0)))
            .over(run)
            .cast("bigint")
            .alias("n_docs"),
            F.sum(F.coalesce("d_occ", F.lit(0)))
            .over(run)
            .cast("bigint")
            .alias("n_token_occurrences"),
            F.sum(F.coalesce("d_vocab", F.lit(0)))
            .over(run)
            .cast("bigint")
            .alias("vocab_size"),
        )
        .orderBy("decile")
    )


SQL_VOCAB_GROWTH = f"""
WITH docs AS (SELECT doc_id, {SQL_NORM} AS norm FROM documents),
b AS (SELECT min(doc_id) AS mn, max(doc_id) AS mx FROM docs),
cps AS (SELECT CAST(i AS INT) AS decile,
               mn + ((mx - mn + 1) * i) // {N_DECILES} AS thr
        FROM b, range(1, {N_DECILES + 1}) r(i)),
toks AS (SELECT doc_id, unnest(string_split(norm, ' ')) AS token FROM docs),
firsts AS (SELECT token, min(doc_id) AS first_doc
           FROM toks WHERE token <> '' GROUP BY token),
dtoks AS (SELECT doc_id,
                 CASE WHEN norm = '' THEN 0
                      ELSE len(string_split(norm, ' ')) END AS n_toks
          FROM docs),
dstats AS (SELECT decile, count(*) AS n_docs,
                  CAST(sum(n_toks) AS BIGINT) AS n_token_occurrences
           FROM cps JOIN dtoks ON doc_id < thr GROUP BY decile),
vstats AS (SELECT decile, count(*) AS vocab_size
           FROM cps JOIN firsts ON first_doc < thr GROUP BY decile)
SELECT c.decile, c.thr AS threshold_doc,
       CAST(COALESCE(d.n_docs, 0) AS BIGINT) AS n_docs,
       CAST(COALESCE(d.n_token_occurrences, 0) AS BIGINT) AS n_token_occurrences,
       CAST(COALESCE(v.vocab_size, 0) AS BIGINT) AS vocab_size
FROM cps c LEFT JOIN dstats d USING (decile) LEFT JOIN vstats v USING (decile)
ORDER BY decile
"""


# -- domain_diversity: per-language source-mix indices ------------------------
MICRO = 1_000_000


def q_domain_diversity(spark, sf):
    """Per-language source-diversity audit — the data-mixing check run
    before freezing a corpus blend: Simpson concentration Σ(c_i/T)²,
    its inverse (the "effective number of sources"), and the
    Berger-Parker top-source share, each in exact integer micro-units
    ((x * 1e6) floor-div denominator — no float division anywhere).
    A language whose inv_simpson ≈ 1 is effectively a single-source
    corpus however many sources nominally appear.

    Scale: one map-side-combined (lang, source) census — the only
    corpus-scale pass — then an index computation on the census
    relation (≤ |langs|×|sources| rows). Two shuffles total, both
    after partial aggregation.

    Determinism/overflow: BIGINT throughout; sum_sq*1e6 and n_docs²*1e6
    stay under 2^63 up to ~10^6 docs/language per source-census cell
    bound — beyond that (real 100 TB runs) the same expressions promote
    to DECIMAL(38,0) sums, a one-line change noted here for the census
    aggregate; the micro-unit floor-div contract is unchanged."""
    # doc_id-bucketed copy (r18): same scan cost — the census combine
    # is still the first real stage (the r7 A/B rule) — but the last
    # non-deliberate raw documents scan leaves the registry census
    df = load_documents_by_id(spark, sf)
    cells = df.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("c"))
    agg = cells.groupBy("lang").agg(
        F.sum("c").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).alias("n_sources"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sum_sq"),
        F.max("c").alias("max_c"),
    )
    return agg.select(
        "lang",
        "n_docs",
        F.col("n_sources").cast("bigint").alias("n_sources"),
        F.expr(f"(sum_sq * {MICRO}) div (n_docs * n_docs)").alias("simpson_micro"),
        F.expr(f"(n_docs * n_docs * {MICRO}) div sum_sq").alias("inv_simpson_micro"),
        F.expr(f"(max_c * {MICRO}) div n_docs").alias("top_source_share_micro"),
    ).orderBy("lang")


SQL_DOMAIN_DIVERSITY = f"""
WITH cells AS (SELECT lang, source, count(*) AS c
               FROM documents GROUP BY lang, source),
agg AS (SELECT lang,
               CAST(sum(c) AS BIGINT) AS n_docs,
               count(*) AS n_sources,
               CAST(sum(c * c) AS BIGINT) AS sum_sq,
               max(c) AS max_c
        FROM cells GROUP BY lang)
SELECT lang, n_docs,
       CAST(n_sources AS BIGINT) AS n_sources,
       (sum_sq * {MICRO}) // (n_docs * n_docs) AS simpson_micro,
       (n_docs * n_docs * {MICRO}) // sum_sq AS inv_simpson_micro,
       (max_c * {MICRO}) // n_docs AS top_source_share_micro
FROM agg ORDER BY lang
"""


# -- lang_id_confusion: heuristic language-ID vs gold labels -----------------
def q_lang_id_confusion(spark, sf):
    """Confusion matrix of the stopword-hit language-ID heuristic
    (functions.text.lang_best_struct — the same argmax the `lang_id`
    registry entry emits) against the corpus's gold `lang` labels.
    This is the eval every pipeline owes its cheapest classifier: the
    lang-ID routes documents into per-language quality/dedup arms, so
    a systematically confused pair (or a large 'und' column) silently
    misroutes data at 100 TB.

    Scale: the prediction is one map-only projection (the struct is
    selected into a column first so each language's hit count is
    evaluated exactly once per row); the matrix is a
    map-side-combined groupBy over ≤ (|langs|+1)² cells. One shuffle.

    Determinism: counts only; ties in the argmax break on language
    code in BOTH engines (array_min struct order here, the
    GREATEST/CASE mirror in the oracle).

    Reads the doc_id-bucketed copy (r18): the stopword-scan struct is
    the heavy per-row stage and runs on the scan's bucket splits (a
    dataset-sized count, bucketing.dataset_buckets), with no
    round-robin exchange."""
    df = load_documents_by_id(spark, sf)
    pred = df.select(
        "lang", lang_best_struct(F.col("text")).alias("b")
    ).select(
        F.col("lang").alias("gold_lang"),
        F.when(-F.col("b.neg") > 0, F.col("b.lang"))
        .otherwise(F.lit("und"))
        .alias("pred_lang"),
    )
    return (
        pred.groupBy("gold_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(
            "gold_lang",
            "pred_lang",
            "n_docs",
            (F.col("gold_lang") == F.col("pred_lang")).cast("int").alias("is_match"),
        )
        .orderBy("gold_lang", "pred_lang")
    )


def _sql_lang_id_confusion() -> str:
    """GREATEST/CASE mirror of the lang-ID argmax — fragments shared
    with textops._sql_lang_id via lang_pred_sql_parts(), aggregated
    into the (gold, pred) matrix."""
    from data_validator_spark.queries.textops import lang_pred_sql_parts

    hits, best, whens = lang_pred_sql_parts()
    return f"""
WITH h AS (SELECT lang, {hits} FROM documents),
b AS (SELECT *, {best} AS best FROM h),
p AS (SELECT lang AS gold_lang,
             CASE {whens} ELSE 'und' END AS pred_lang
      FROM b)
SELECT gold_lang, pred_lang, count(*) AS n_docs,
       CAST(gold_lang = pred_lang AS INT) AS is_match
FROM p GROUP BY gold_lang, pred_lang ORDER BY gold_lang, pred_lang
"""


# -- boilerplate_prefix: shared-opening-template audit ------------------------
PREFIX_TOKENS = 3


def prefix_expr(norm, n_tokens: int = PREFIX_TOKENS):
    """THE opening-prefix expression (first n tokens of the normalized
    text, space-joined) — shared by the boilerplate_prefix audit and
    the pipeline's boilerplateFilter step so the filter can never
    desynchronize from the audit it implements."""
    return F.array_join(F.slice(F.split(norm, " "), 1, n_tokens), " ")


def q_boilerplate_prefix(spark, sf):
    """Boilerplate-prefix audit: documents that OPEN with the same
    normalized PREFIX_TOKENS-token prefix share a template (scraped
    headers, license banners, autogenerated intros) even when the full
    text is unique — the exact-dup pass misses them entirely. This
    census reports, per language, how much of the corpus sits in
    shared-prefix groups; a rising share is the classic symptom of a
    crawler caught in a template farm.

    Scale: the prefix is computed in-row (slice of the normalized
    token array — no explode); the corpus collapses in ONE
    map-side-combined groupBy((prefix, lang)) to the prefix-cell
    census, GLOBAL group sizes come from a window over the prefix
    partition of that CELL relation (≤ |langs| rows per partition —
    the bounded-window rule), and the |langs| census falls out of one
    more aggregation. The corpus is touched exactly once; nothing
    row-scale is ever joined or windowed (the earlier join-back plan
    re-shuffled the full doc relation — measured 1.23s → this shape
    at sf0.1). r18: the scan rides the session-persisted
    (doc_id, lang, text, norm) ensemble relation
    (quality_ops._ensemble_docs — the shared normalized_text
    materialization), so the corpus-wide normalization regex runs
    once per session instead of once per call (measured 0.83-0.98s →
    0.51-0.56s warm at sf0.1; at scale the norm pass IS the cost).

    Determinism: counts and micro-unit floor divisions only; docs
    whose normalized text is empty are excluded in BOTH engines."""
    from data_validator_spark.queries.quality_ops import _ensemble_docs

    docs = (
        _ensemble_docs(spark, sf)
        .select("lang", "norm")
        .where(F.col("norm") != "")
    )
    cells = (
        docs.select("lang", prefix_expr(F.col("norm")).alias("prefix"))
        .groupBy("prefix", "lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("prefix")
    sized = cells.select(
        "lang", "cnt", F.sum("cnt").over(w).alias("group_size")
    )
    return (
        sized.groupBy("lang")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).alias("n_prefixes"),
            F.sum(
                F.when(F.col("group_size") > 1, F.col("cnt")).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("n_docs_shared_prefix"),
            F.max("group_size").alias("max_prefix_group"),
        )
        .select(
            "lang",
            "n_docs",
            F.col("n_prefixes").cast("bigint").alias("n_prefixes"),
            "n_docs_shared_prefix",
            F.col("max_prefix_group").cast("bigint").alias("max_prefix_group"),
            F.expr("(n_docs_shared_prefix * 1000000) div n_docs").alias(
                "shared_share_micro"
            ),
        )
        .orderBy("lang")
    )


SQL_BOILERPLATE_PREFIX = f"""
WITH docs AS (
  SELECT doc_id, lang, {SQL_NORM} AS norm FROM documents),
pref AS (
  SELECT doc_id, lang,
         array_to_string(list_slice(string_split(norm, ' '), 1, {PREFIX_TOKENS}), ' ')
           AS prefix
  FROM docs WHERE norm <> ''),
groups AS (SELECT prefix, count(*) AS group_size FROM pref GROUP BY prefix),
flagged AS (SELECT p.lang, p.prefix, g.group_size
            FROM pref p JOIN groups g USING (prefix))
SELECT lang,
       count(*) AS n_docs,
       CAST(count(DISTINCT prefix) AS BIGINT) AS n_prefixes,
       CAST(sum(CASE WHEN group_size > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_docs_shared_prefix,
       CAST(max(group_size) AS BIGINT) AS max_prefix_group,
       (CAST(sum(CASE WHEN group_size > 1 THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
         // count(*) AS shared_share_micro
FROM flagged GROUP BY lang ORDER BY lang
"""


QUERIES = {
    "vocab_growth": q_vocab_growth,
    "domain_diversity": q_domain_diversity,
    "lang_id_confusion": q_lang_id_confusion,
    "boilerplate_prefix": q_boilerplate_prefix,
}

ORACLES = {
    "vocab_growth": SQL_VOCAB_GROWTH,
    "domain_diversity": SQL_DOMAIN_DIVERSITY,
    "lang_id_confusion": _sql_lang_id_confusion(),
    "boilerplate_prefix": SQL_BOILERPLATE_PREFIX,
}
