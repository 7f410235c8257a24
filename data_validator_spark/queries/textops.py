"""Text-analysis queries over `documents` (SURVEY §2 LLM-pipeline rows
token_count / text_quality / lang_id / doc_fingerprint).

All computation is per-row native pyspark.sql.functions — zero
shuffles, zero Python workers, whole-stage codegen — so throughput
scales linearly with executors over a 100 TB corpus. The DuckDB
oracles reproduce each expression exactly (RE2-safe regexes only: no
lookarounds; every DuckDB regexp_replace carries the 'g' flag).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from data_validator_spark.functions.text import (
    LANG_STOPWORDS,
    bpe_ish_token_count,
    doc_fingerprint,
    hash60,
    lang_id,
    normalized_text,
    quality_features,
    quality_score,
    token_count,
    tokens,
)
from data_validator_spark.queries import DEC, load_documents_by_id


# -- token_count -----------------------------------------------------------
def q_token_count(spark, sf):
    df = load_documents_by_id(spark, sf)
    return df.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        bpe_ish_token_count(F.col("text")).alias("n_bpe_tokens"),
    )


SQL_TOKEN_COUNT = r"""
SELECT doc_id,
       CASE WHEN length(trim(text)) = 0 THEN 0
            ELSE len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) END AS n_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0B\f\r]')) AS n_bpe_tokens
FROM documents ORDER BY doc_id
"""


# -- text_quality ----------------------------------------------------------
def q_text_quality(spark, sf):
    df = load_documents_by_id(spark, sf)
    feats = quality_features(F.col("text"))
    return df.select(
        "doc_id",
        feats["n_chars"].alias("n_chars"),
        feats["n_tokens"].alias("n_tokens"),
        feats["alpha_ratio"].alias("alpha_ratio"),
        feats["digit_ratio"].alias("digit_ratio"),
        feats["punct_ratio"].alias("punct_ratio"),
        feats["space_ratio"].alias("space_ratio"),
        feats["mean_token_len"].alias("mean_token_len"),
        quality_score(F.col("text"), feats=feats).alias("quality"),
    )


SQL_TEXT_QUALITY = r"""
WITH f AS (
  SELECT doc_id,
         length(text) AS n_chars,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) END AS n_tokens,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
         length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
         length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS n_punct,
         length(regexp_replace(text, '[^ \t\n]', '', 'g')) AS n_space
  FROM documents)
SELECT doc_id, n_chars, n_tokens,
       CAST(n_alpha AS DOUBLE) / nullif(n_chars, 0) AS alpha_ratio,
       CAST(n_digit AS DOUBLE) / nullif(n_chars, 0) AS digit_ratio,
       CAST(n_punct AS DOUBLE) / nullif(n_chars, 0) AS punct_ratio,
       CAST(n_space AS DOUBLE) / nullif(n_chars, 0) AS space_ratio,
       CASE WHEN n_tokens > 0
            THEN CAST(n_chars - n_space AS DOUBLE) / n_tokens END AS mean_token_len,
       (CASE WHEN n_chars BETWEEN 50 AND 100000 THEN 1.0 ELSE 0.0 END
        + CASE WHEN n_tokens > 0
               AND CAST(n_chars - n_space AS DOUBLE) / n_tokens BETWEEN 2.0 AND 12.0
               THEN 1.0 ELSE 0.0 END
        + COALESCE(CAST(n_alpha AS DOUBLE) / nullif(n_chars, 0), 0.0) * 2.0) / 4.0 AS quality
FROM f ORDER BY doc_id
"""


# -- lang_id ---------------------------------------------------------------
def q_lang_id(spark, sf):
    df = load_documents_by_id(spark, sf)
    # two projections so the argmin struct is a real column evaluated
    # once per row (a single-expression form would re-evaluate the
    # whole entry array for each field access — HOF scores sit outside
    # codegen subexpression elimination)
    from data_validator_spark.functions.text import lang_best_struct

    return (
        df.select("doc_id", lang_best_struct(F.col("text")).alias("b"))
        .select(
            "doc_id",
            F.when(-F.col("b.neg") > 0, F.col("b.lang"))
            .otherwise(F.lit("und"))
            .alias("lang_pred"),
        )
    )


def lang_pred_sql_parts() -> tuple[str, str, str]:
    """The three SQL fragments of the lang-ID argmax mirror — THE
    single source for every oracle that re-derives the prediction
    (lang_id itself and curation_ops.lang_id_confusion), so the
    tokenization regex / tie-break can never drift between them.
    Returns (hits_select_list, best_expr, case_whens)."""
    hits = []
    for code in sorted(LANG_STOPWORDS):
        words = ", ".join(f"'{w}'" for w in LANG_STOPWORDS[code])
        hits.append(
            f"len(list_filter(string_split_regex(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+'),"
            f" t -> t IN ({words}))) AS s_{code}"
        )
    best = "GREATEST(" + ", ".join(f"s_{c}" for c in sorted(LANG_STOPWORDS)) + ")"
    whens = "\n       ".join(
        f"WHEN s_{c} = best AND best > 0 THEN '{c}'" for c in sorted(LANG_STOPWORDS)
    )
    return ", ".join(hits), best, whens


def _sql_lang_id() -> str:
    """CASE mirror of functions.text.lang_id: per-language stopword-hit
    counts, argmax with ties broken by sorted language code."""
    hits, best, whens = lang_pred_sql_parts()
    return f"""
WITH h AS (SELECT doc_id, {hits} FROM documents),
b AS (SELECT *, {best} AS best FROM h)
SELECT doc_id,
       CASE {whens} ELSE 'und' END AS lang_pred
FROM b ORDER BY doc_id
"""


# -- doc_fingerprint -------------------------------------------------------
def q_doc_fingerprint(spark, sf):
    df = load_documents_by_id(spark, sf)
    return df.select(
        "doc_id",
        doc_fingerprint(F.col("text")).alias("fingerprint"),
        F.length(normalized_text(F.col("text"))).alias("n_norm_chars"),
    )


# Normalization mirror of functions.text.normalized_text: lower →
# strip non-word/space (ASCII classes, identical in Java regex & RE2)
# → collapse whitespace → trim.
SQL_NORM = (
    "trim(regexp_replace(regexp_replace(lower(text), "
    "'[^a-z0-9_ \\t\\n]', '', 'g'), '[ \\t\\n]+', ' ', 'g'))"
)
# Tokens of `text`: split on runs of ASCII whitespace, the same class the
# Spark side tokenizes with (functions.text.tokens).
SQL_TOKENS = r"string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')"

SQL_DOC_FINGERPRINT = f"""
SELECT doc_id,
       md5({SQL_NORM}) AS fingerprint,
       length({SQL_NORM}) AS n_norm_chars
FROM documents ORDER BY doc_id
"""


# -- doc_split_sample: deterministic train/val/test assignment --------------
SPLIT_SALT = "dv-split-v1"  # version the salt to re-deal all splits at once
# Split policy: buckets [0,TRAIN_CUT) train, [TRAIN_CUT,VAL_CUT) val,
# rest test. Shared by every split consumer (doc_split_sample,
# corpus_train_filter, split_contamination, the pipeline runner) so a
# policy change can never desynchronize them.
TRAIN_CUT = 98
VAL_CUT = 99


def split_bucket():
    """0-99 hash bucket of (salt, doc_id) — THE split function; both
    split-consuming queries and both SQL oracles derive from this one
    definition so they can never desynchronize."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(SPLIT_SALT + ":"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 100
    )


SQL_SPLIT_BUCKET = (
    f"CAST('0x' || substr(md5('{SPLIT_SALT}:' || CAST(doc_id AS VARCHAR)), 1, 8) "
    "AS BIGINT) % 100"
)


def q_doc_split_sample(spark, sf):
    """Reproducible 98/1/1 train/val/test split: each document's split
    is a pure function of (salt, doc_id) — an md5 hash bucket, not an
    RNG draw. That is the only split that survives a 100 TB pipeline:
    it is stable under re-partitioning, retries, incremental re-runs,
    and engine changes (the DuckDB oracle deals the identical split),
    and adding documents never reassigns existing ones. Returns the
    per-(lang, split) census used to sanity-check stratification."""
    df = load_documents_by_id(spark, sf)
    bucket = split_bucket()
    split = (
        F.when(bucket < TRAIN_CUT, "train")
        .when(bucket < VAL_CUT, "val")
        .otherwise("test")
    )
    return (
        df.select("lang", split.alias("split"), "n_chars")
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_chars").cast("bigint")).alias("total_chars"),
        )
        .orderBy("lang", "split")
    )


SQL_DOC_SPLIT_SAMPLE = f"""
WITH assigned AS (
  SELECT lang, n_chars,
         {SQL_SPLIT_BUCKET} AS bucket
  FROM documents
)
SELECT lang,
       CASE WHEN bucket < {TRAIN_CUT} THEN 'train'
            WHEN bucket < {VAL_CUT} THEN 'val'
            ELSE 'test' END AS split,
       count(*) AS n_docs,
       CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars
FROM assigned
GROUP BY 1, 2 ORDER BY 1, 2
"""


# -- token_frequencies: corpus heavy hitters --------------------------------
TOP_TOKENS = 50


def q_token_frequencies(spark, sf):
    """Top-50 most frequent normalized tokens across the corpus —
    vocabulary heavy hitters (stopword discovery, tokenizer QA).

    Scale: explode fans each doc into its tokens, but partial
    aggregation collapses counts map-side BEFORE the shuffle, so the
    exchange carries one row per distinct token per partition, not one
    per occurrence; the final top-k is a tiny sorted take. Ties at the
    cutoff break on the token string for cross-engine determinism."""
    df = load_documents_by_id(spark, sf)
    toks = df.select(
        F.explode(tokens(normalized_text(F.col("text")))).alias("token")
    ).where(F.col("token") != "")
    return (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("token"))
        .limit(TOP_TOKENS)
    )


SQL_TOKEN_FREQUENCIES = f"""
SELECT token, count(*) AS n_occurrences
FROM (SELECT unnest(string_split_regex(trim({SQL_NORM}), '[ \\t\\n\\x0B\\f\\r]+')) AS token
      FROM documents) t
WHERE token <> ''
GROUP BY token
ORDER BY n_occurrences DESC, token ASC
LIMIT {TOP_TOKENS}
"""


# -- corpus_train_filter: the whole pipeline as ONE declarative plan --------
QUALITY_CUTOFF = 0.5


def q_corpus_train_filter(spark, sf):
    """The training-corpus materialization every LLM pipeline ends
    with — exact-dup keeper + quality gate + deterministic train split
    — composed into ONE declarative plan, reported as a per-language
    census.

    Scale: keeper selection is a min-over-window on the fingerprint
    partition (one shuffle, no self-join); quality, tokens, and the
    split bucket are per-row native expressions computed in the same
    scan; the census aggregation rides the same pipeline. Catalyst
    fuses all of it — the full filter costs one scan + two exchanges
    at any corpus size.

    r19: the scan reads the session-persisted (doc_id, lang, text,
    norm) relation (quality_ops._ensemble_docs — the one the quality
    family and boilerplate_prefix already ride), so the fingerprint is
    one md5 over the cached norm instead of re-running the two
    normalization regex passes over the corpus per call (measured the
    dominant per-row cost: norm ≈ 26 µs/doc vs ≈ 3 µs for
    quality+tokens). A/B at sf0.1: 0.96s → 0.87s best-of-5,
    row-identical; at 100 TB the win is one regex-normalization pass
    per session instead of one per call. Same session-cache honesty
    contract as boilerplate_prefix (r18): keyed on applicationId,
    built by whichever query first reads it in a session (its cold
    run pays the build), recomputed from parquet in every fresh
    invocation. A fused Arrow kernel for quality+tokens was also
    built, proven bit-identical and A/B'd (0.90s — the Python
    boundary round-trip offsets the expression saving at this SF);
    the JVM expressions stay (tests/test_text_functions.py pins their
    semantics against the vectorized reference implementation)."""
    from pyspark.sql import Window

    from data_validator_spark.queries.quality_ops import _ensemble_docs

    df = _ensemble_docs(spark, sf)
    bucket = split_bucket()
    enriched = df.select(
        "doc_id",
        "lang",
        F.md5(F.encode(F.col("norm"), "utf-8")).alias("fp"),
        quality_score(F.col("text")).alias("quality"),
        token_count(F.col("text")).alias("n_tokens"),
        (bucket < TRAIN_CUT).alias("in_train"),
    )
    keeper = F.min("doc_id").over(Window.partitionBy("fp"))
    kept = enriched.withColumn("keeper", keeper).where(
        (F.col("doc_id") == F.col("keeper"))
        & (F.col("quality") >= QUALITY_CUTOFF)
        & F.col("in_train")
    )
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_tokens").cast("bigint")).alias("total_tokens"),
            (
                F.sum(F.col("quality").cast(DEC)).cast("double") / F.count(F.lit(1))
            ).alias("avg_quality"),
        )
        .orderBy("lang")
    )


SQL_CORPUS_TRAIN_FILTER = f"""
WITH e AS (
  SELECT doc_id, lang,
         md5({SQL_NORM}) AS fp,
         (CASE WHEN length(text) BETWEEN 50 AND 100000 THEN 1.0 ELSE 0.0 END
          + CASE WHEN (CASE WHEN length(trim(text)) = 0 THEN 0
                       ELSE len(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) END) > 0
                 AND CAST(length(text) - length(regexp_replace(text, '[^ \\t\\n]', '', 'g'))
                     AS DOUBLE)
                     / (CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) END)
                     BETWEEN 2.0 AND 12.0
                 THEN 1.0 ELSE 0.0 END
          + COALESCE(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                     / nullif(length(text), 0), 0.0) * 2.0) / 4.0 AS quality,
         (CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) END) AS n_tokens,
         {SQL_SPLIT_BUCKET} < {TRAIN_CUT} AS in_train
  FROM documents
), k AS (
  SELECT *, MIN(doc_id) OVER (PARTITION BY fp) AS keeper FROM e
)
SELECT lang,
       count(*) AS n_docs,
       CAST(SUM(CAST(n_tokens AS BIGINT)) AS BIGINT) AS total_tokens,
       CAST(SUM(CAST(quality AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*) AS avg_quality
FROM k
WHERE doc_id = keeper AND quality >= {QUALITY_CUTOFF} AND in_train
GROUP BY lang ORDER BY lang
"""


# -- doc_chunk: RAG-style overlapping token windows -------------------------
CHUNK_W = 64  # window width (tokens)
CHUNK_S = 48  # stride (tokens) → 16-token overlap between neighbors


def chunk_tokens(df):
    """``df`` without its blank documents, plus the bound token array
    ``toks`` that chunk_windows slices. split('') yields [''] (size 1,
    never 0), so the guard is on trimmed text length (the token_count
    rule): a blank doc emits no phantom chunk."""
    return df.where(F.length(F.trim(F.col("text"))) > 0).withColumn(
        "toks", tokens(F.col("text"))
    )


def chunk_windows(width: int, stride: int):
    """SQL expression producing the list of token-window slices for the
    bound array column `toks` (chunk_tokens) — with chunk_tokens, THE
    chunking definition, shared by the graded q_doc_chunk operator and
    the pipeline `chunk` step so the two can never diverge."""
    return (
        f"transform(sequence(0, "
        f"CASE WHEN size(toks) <= {width} THEN 0 "
        f"ELSE ((size(toks) - {width} + {stride} - 1) div {stride}) END), "
        f"i -> slice(toks, i * {stride} + 1, {width}))"
    )


def q_doc_chunk(spark, sf):
    """RAG chunking: split every document into overlapping 64-token
    windows with a 48-token stride (the retrieval-index ingestion
    primitive). Emits one row per chunk with its token offset, length,
    and 60-bit content hash — the relation a vector indexer consumes.

    Scale shape: a pure map-stage fan-out — chunk boundaries are
    computed in-row from the materialized token array
    (sequence + slice, the multimodal_frame_sample pattern for text),
    so no shuffle exists at all until the output sort. Chunk count per
    doc is ceil((n-W)/S)+1 — integer arithmetic in both engines.

    Determinism: chunk identity is the 60-bit md5 prefix of the
    space-joined token slice; offsets and lengths are integers.
    """
    df = load_documents_by_id(spark, sf)
    chunks = chunk_tokens(df).select(
        "doc_id",
        "toks",
        F.posexplode(F.expr(chunk_windows(CHUNK_W, CHUNK_S))).alias(
            "chunk_idx", "chunk"
        ),
    )
    return chunks.select(
        "doc_id",
        "chunk_idx",
        (F.col("chunk_idx") * CHUNK_S + 1).alias("start_tok"),
        F.size("chunk").alias("n_chunk_tokens"),
        hash60(F.array_join(F.col("chunk"), " ")).alias("chunk_hash"),
    )


def _sql_doc_chunk() -> str:
    from data_validator_spark.queries import _sql_hash60

    return f"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+') AS toks FROM documents
  WHERE length(trim(text)) > 0),
t2 AS (SELECT doc_id, toks, len(toks) AS n FROM t),
chunks AS (
  SELECT doc_id,
         unnest(range(0, CASE WHEN n <= {CHUNK_W} THEN 1
                         ELSE ((n - {CHUNK_W} + {CHUNK_S} - 1) // {CHUNK_S}) + 1 END))
           AS chunk_idx,
         toks
  FROM t2),
sliced AS (
  SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
         toks[CAST(chunk_idx * {CHUNK_S} + 1 AS INTEGER)
              :CAST(chunk_idx * {CHUNK_S} + {CHUNK_W} AS INTEGER)] AS chunk
  FROM chunks)
SELECT doc_id, chunk_idx,
       CAST(chunk_idx * {CHUNK_S} + 1 AS INTEGER) AS start_tok,
       CAST(len(chunk) AS INTEGER) AS n_chunk_tokens,
       {_sql_hash60("array_to_string(chunk, ' ')")} AS chunk_hash
FROM sliced ORDER BY doc_id, chunk_idx
"""


# -- repetition_strip ------------------------------------------------------
# Whitespace class spelled identically for Java regex (Spark) and RE2
# (DuckDB): Java's \s = [ \t\n\x0B\f\r] but RE2's \s excludes \x0B, so
# a bare \s+ is an engine-divergent tokenizer. Both engines parse the
# \xhh escape. (r6: every tokenizer in the package — Spark split()s
# and DuckDB string_split_regex oracles alike — now uses this explicit
# class; no bare \s remains anywhere.)
_WS_CLASS = r"[ \t\n\x0B\f\r]"
_WS_RE = _WS_CLASS + "+"
_WS_TRIM_RE = rf"^{_WS_CLASS}+|{_WS_CLASS}+$"


def q_repetition_strip(spark, sf):
    """Within-document repetition removal: collapse runs of consecutive
    duplicate tokens to a single occurrence (the intra-doc half of the
    C4/Gopher repetition cleanup — gopher_quality MEASURES repetition,
    this op REMOVES it). Emits the original/kept token counts and a
    60-bit hash of the cleaned text so the whole rewritten corpus is
    value-checked without shipping megabyte strings through the
    comparator.

    Scale shape: pure map — split, one index-aware array filter, one
    re-join, all native column functions inside whole-stage codegen.
    Zero shuffles; linear scans at 100 TB.

    Determinism: token order is preserved (filter keeps the first of
    each run), the cleaned text re-joins with a single space after
    trim-split (canonical whitespace), and the hash is the package
    60-bit md5 rule. Whitespace is the EXPLICIT class [ \\t\\n\\x0B
    \\f\\r] on both engines — Java's \\s includes \\x0B but RE2's does
    not, so a bare \\s+ tokenizes a vertical-tab document differently
    per engine. NULL text coalesces to '' on both sides.
    """
    df = load_documents_by_id(spark, sf)
    text = F.coalesce(F.col("text"), F.lit(""))
    # regexp-trim ALL leading/trailing whitespace (F.trim strips only
    # spaces — a trailing '\n' would survive it and split() would then
    # emit a phantom '' token into the cleaned text)
    stripped = F.regexp_replace(text, _WS_TRIM_RE, "")
    toks = F.when(
        F.length(stripped) == 0, F.array().cast("array<string>")
    ).otherwise(F.split(stripped, _WS_RE))
    proj = df.select("doc_id", toks.alias("toks"))
    # keep token i (0-based) iff it differs from its predecessor; the
    # null-safe <=> guard makes i=0 keep without an element_at(.., 0)
    # error (F.get is 0-based and null-safe).
    kept = F.filter(
        F.col("toks"),
        lambda x, i: (i == F.lit(0)) | ~F.get(F.col("toks"), i - 1).eqNullSafe(x),
    )
    return (
        proj.select(
            "doc_id",
            F.size("toks").alias("n_tokens"),
            F.size(kept).alias("n_kept"),
            hash60(F.array_join(kept, " ")).alias("clean_hash"),
        )
    )


def _sql_repetition_strip() -> str:
    from data_validator_spark.queries import _sql_hash60

    return rf"""
WITH s AS (
  SELECT doc_id,
         regexp_replace(COALESCE(text, ''), '{_WS_TRIM_RE}', '', 'g') AS st
  FROM documents),
t AS (
  SELECT doc_id,
         CASE WHEN length(st) = 0 THEN CAST([] AS VARCHAR[])
              ELSE string_split_regex(st, '{_WS_RE}') END AS toks
  FROM s),
k AS (
  SELECT doc_id, toks,
         list_filter(toks, (x, i) -> i = 1 OR toks[i-1] <> x) AS kept
  FROM t)
SELECT doc_id, len(toks) AS n_tokens, len(kept) AS n_kept,
       {_sql_hash60("COALESCE(array_to_string(kept, ' '), '')")} AS clean_hash
FROM k ORDER BY doc_id
"""


# -- tokenizer_fertility -----------------------------------------------------
def q_tokenizer_fertility(spark, sf):
    """Per-language tokenizer-fertility audit: characters per BPE-ish
    token and BPE-ish tokens per whitespace word. Fertility drives
    training cost directly — a language whose tokenizer fragments
    words into many sub-tokens pays proportionally more compute per
    character of signal, so this census decides tokenizer retraining
    and per-language context budgeting.

    Scale: per-row native token counts (zero Python, inside codegen)
    feed one map-side-combined groupBy over |langs| groups — constant
    aggregate state at any corpus size. One shuffle.

    Determinism: BIGINT totals + micro-unit floor divisions
    (numerators non-negative, zero denominators nulled via nullif in
    BOTH engines)."""
    df = load_documents_by_id(spark, sf)
    per = df.select(
        "lang",
        F.length("text").alias("n_chars"),
        bpe_ish_token_count(F.col("text")).alias("n_bpe"),
        token_count(F.col("text")).alias("n_ws"),
    )
    agg = per.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("chars_total"),
        F.sum("n_bpe").cast("bigint").alias("bpe_total"),
        F.sum("n_ws").cast("bigint").alias("words_total"),
    )
    return agg.select(
        "lang",
        "n_docs",
        "chars_total",
        "bpe_total",
        "words_total",
        F.expr("(chars_total * 1000000) div nullif(bpe_total, 0)").alias(
            "chars_per_bpe_micro"
        ),
        F.expr("(bpe_total * 1000000) div nullif(words_total, 0)").alias(
            "bpe_per_word_micro"
        ),
    ).orderBy("lang")


SQL_TOKENIZER_FERTILITY = r"""
WITH per AS (
  SELECT lang, length(text) AS n_chars,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0B\f\r]')) AS n_bpe,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) END AS n_ws
  FROM documents),
agg AS (
  SELECT lang, count(*) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS chars_total,
         CAST(sum(n_bpe) AS BIGINT) AS bpe_total,
         CAST(sum(n_ws) AS BIGINT) AS words_total
  FROM per GROUP BY lang)
SELECT lang, n_docs, chars_total, bpe_total, words_total,
       (chars_total * 1000000) // nullif(bpe_total, 0) AS chars_per_bpe_micro,
       (bpe_total * 1000000) // nullif(words_total, 0) AS bpe_per_word_micro
FROM agg ORDER BY lang
"""


QUERIES = {
    "repetition_strip": q_repetition_strip,
    "doc_chunk": q_doc_chunk,
    "token_count": q_token_count,
    "text_quality": q_text_quality,
    "lang_id": q_lang_id,
    "doc_fingerprint": q_doc_fingerprint,
    "doc_split_sample": q_doc_split_sample,
    "token_frequencies": q_token_frequencies,
    "corpus_train_filter": q_corpus_train_filter,
    "tokenizer_fertility": q_tokenizer_fertility,
}

ORACLES = {
    "repetition_strip": _sql_repetition_strip(),
    "doc_chunk": _sql_doc_chunk(),
    "token_count": SQL_TOKEN_COUNT,
    "text_quality": SQL_TEXT_QUALITY,
    "lang_id": _sql_lang_id(),
    "doc_fingerprint": SQL_DOC_FINGERPRINT,
    "doc_split_sample": SQL_DOC_SPLIT_SAMPLE,
    "token_frequencies": SQL_TOKEN_FREQUENCIES,
    "corpus_train_filter": SQL_CORPUS_TRAIN_FILTER,
    "tokenizer_fertility": SQL_TOKENIZER_FERTILITY,
}
