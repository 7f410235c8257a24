"""Text-analysis column functions for training-data pipelines.

All pure pyspark.sql.functions compositions — JVM-side, codegen'd,
Arrow never involved — so they vectorize across a 100 TB corpus with
zero Python-worker cost. Each has an ANSI-SQL equivalent used by the
DuckDB oracle (see __spark_entry__.oracle_sql).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small language-indicative stopword lists (public common words).
STOPWORDS_EN = ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"]
STOPWORDS_ES = ["el", "la", "de", "y", "que", "en", "un", "una", "por", "con"]
STOPWORDS_FR = ["le", "la", "de", "et", "que", "en", "un", "une", "pour", "dans"]
STOPWORDS_DE = ["der", "die", "das", "und", "zu", "in", "ist", "ein", "eine", "mit"]

LANG_STOPWORDS = {"en": STOPWORDS_EN, "es": STOPWORDS_ES, "fr": STOPWORDS_FR, "de": STOPWORDS_DE}


def tokens(text: Column) -> Column:
    """Whitespace tokenization of trimmed text → array<string>."""
    return F.split(F.trim(text), r"[ \t\n\x0B\f\r]+")


def token_count(text: Column) -> Column:
    """Whitespace token count (0 for empty/blank text)."""
    return F.when(F.length(F.trim(text)) == 0, F.lit(0)).otherwise(F.size(tokens(text)))


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish token count: number of letter-runs, digit-runs, and
    individual punctuation marks — a cheap proxy for BPE token counts
    used to budget LLM context lengths. RE2-safe pattern (no
    lookarounds) so the DuckDB oracle reproduces it exactly."""
    return F.size(F.regexp_extract_all(text, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0B\f\r]"), F.lit(0)))


_ALPHA = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
_DIGIT = "0123456789"
_PUNCT = ".!?,;:"
_SPACE = " \t\n"


def _class_count(text: Column, chars: str) -> Column:
    """Count of characters of ``text`` belonging to ``chars`` via
    translate-deletion — a per-char map lookup instead of a regex
    engine pass, and no filtered string copy (r8: text_quality's four
    class counts were 8 regexp_replace full-text rewrites per row
    once the score recomputed them). The DuckDB oracle keeps its
    regexp_replace formulation — integer counts are equal no matter
    the mechanism."""
    return F.length(text) - F.length(F.translate(text, chars, ""))


def quality_features(text: Column) -> dict[str, Column]:
    """Document quality signals: lengths and character-class ratios.

    Ratios are exact rationals of int counts cast to double, so the
    oracle reproduces them bit-for-bit.
    """
    n_chars = F.length(text)
    toks = token_count(text)
    n_alpha = _class_count(text, _ALPHA)
    n_digit = _class_count(text, _DIGIT)
    n_punct = _class_count(text, _PUNCT)
    n_space = _class_count(text, _SPACE)
    safe = F.when(n_chars > 0, n_chars.cast("double")).otherwise(F.lit(None))
    return {
        "n_chars": n_chars,
        "n_tokens": toks,
        "alpha_ratio": (n_alpha.cast("double") / safe),
        "digit_ratio": (n_digit.cast("double") / safe),
        "punct_ratio": (n_punct.cast("double") / safe),
        "space_ratio": (n_space.cast("double") / safe),
        "mean_token_len": F.when(
            toks > 0, (n_chars - n_space).cast("double") / toks.cast("double")
        ),
    }


def quality_score(text: Column, feats: dict[str, Column] | None = None) -> Column:
    """Composite [0,1] quality heuristic: rewards alpha-heavy,
    reasonably-long documents with sane token lengths. Pass ``feats``
    (a quality_features dict for the same column) to share the count
    expressions with a census that already computes them."""
    f = quality_features(text) if feats is None else feats
    len_ok = F.when((f["n_chars"] >= 50) & (f["n_chars"] <= 100000), F.lit(1.0)).otherwise(F.lit(0.0))
    tok_ok = F.when((f["mean_token_len"] >= 2.0) & (f["mean_token_len"] <= 12.0), F.lit(1.0)).otherwise(
        F.lit(0.0)
    )
    alpha = F.coalesce(f["alpha_ratio"], F.lit(0.0))
    return (len_ok + tok_ok + alpha * 2.0) / F.lit(4.0)


def lang_best_struct(text: Column) -> Column:
    """The language-ID argmax as ONE struct: array_min over
    (-hits, lang) entries picks the highest stopword-hit count with
    ties broken by language code order, and every language's hit count
    is evaluated exactly once (the previous GREATEST/CASE chain
    referenced each score ~3x, and higher-order filters sit outside
    codegen subexpression elimination, so those re-evaluations were
    real tokenizations+scans, r8). Select this struct into a column,
    then derive the label: ``lang`` when ``-neg > 0`` else 'und'.
    The DuckDB oracle keeps its GREATEST/CASE mirror — same argmax,
    mechanism-independent."""
    toks = tokens(F.lower(text))

    def hit_filter(arr):
        # one-arg lambda required: pyspark reads lambda arity, and a
        # second parameter would be bound as the element INDEX
        return lambda t: F.array_contains(arr, t)

    entries = []
    for lang, sw in sorted(LANG_STOPWORDS.items()):
        arr = F.array(*[F.lit(s) for s in sw])
        hits = F.size(F.filter(toks, hit_filter(arr)))
        entries.append(F.struct((-hits).alias("neg"), F.lit(lang).alias("lang")))
    return F.array_min(F.array(*entries))


def lang_id(text: Column) -> Column:
    """Single-expression language ID (see lang_best_struct; queries
    selecting only the label at scale should project the struct into
    a column first so it is evaluated once)."""
    best = lang_best_struct(text)
    return F.when(-best["neg"] > 0, best["lang"]).otherwise(F.lit("und"))


def normalized_text(text: Column) -> Column:
    """Lowercase, collapse whitespace, strip punctuation — canonical
    form for near-dup fingerprinting. Explicit ASCII character classes
    (not \\w/\\s, whose members differ between Java regex and RE2) keep
    Spark and the DuckDB oracle bit-identical."""
    t = F.lower(text)
    t = F.regexp_replace(t, r"[^a-z0-9_ \t\n]", "")
    t = F.regexp_replace(t, r"[ \t\n]+", " ")
    return F.trim(t)


def hash60(s: Column) -> Column:
    """THE package 60-bit hash: the first 15 hex digits of md5(utf-8
    bytes of ``s``) as a bigint. DuckDB reproduces it exactly
    (queries._sql_hash60: CAST('0x' || substr(md5(x), 1, 15) AS
    BIGINT)), which is what makes every hashed operator
    oracle-checkable (unlike xxhash64, whose seeds are Spark-private)."""
    return F.conv(F.substring(F.md5(F.encode(s, "utf-8")), 1, 15), 16, 10).cast("long")


def doc_fingerprint(text: Column) -> Column:
    """Content fingerprint: md5 of the normalized text. Two documents
    differing only in case/punct/whitespace collide."""
    return F.md5(F.encode(normalized_text(text), "utf-8"))


def fingerprint60(text: Column) -> Column:
    """doc_fingerprint as a 60-bit bigint — the join/group key form of
    the fingerprint."""
    return hash60(normalized_text(text))


def shingle_hashes(toks: Column, k: int) -> Column:
    """hash60 of every word k-shingle of the token array ``toks`` (one
    whole-array shingle when it has fewer than k tokens) — the
    fingerprint set minhash/Jaccard dedup builds on.

    ``toks`` must be a BOUND column (one a projection already
    materialized): the shingle lambda references it per element, so a
    token expression passed here would be re-evaluated for every
    shingle (see dedup._build_shingle_hashes)."""
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    shingles = F.when(
        n >= k,
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k))),
    ).otherwise(F.array(F.concat_ws(" ", toks)))
    return F.transform(shingles, hash60)
