"""Text-analysis column functions on small literal frames."""

from __future__ import annotations

import ast
import pathlib

import pytest

from data_validator_spark.functions.text import (
    bpe_ish_token_count,
    doc_fingerprint,
    lang_id,
    normalized_text,
    quality_features,
    shingle_hashes,
    token_count,
    tokens,
)
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "The quick brown fox jumps over the lazy dog."),
        (2, "el perro y el gato en la casa con un amigo"),
        (3, ""),
        (4, "   "),
        (5, "Hello, World! 123abc"),
    ]
    return spark.createDataFrame(rows, "id int, text string")


def vals(df, col):
    return {r["id"]: r[col] for r in df.collect()}


def test_token_count(spark, docs):
    out = vals(docs.select("id", token_count(F.col("text")).alias("n")), "n")
    assert out[1] == 9
    assert out[3] == 0 and out[4] == 0  # empty/blank → 0


def test_bpe_ish_token_count(spark, docs):
    out = vals(docs.select("id", bpe_ish_token_count(F.col("text")).alias("n")), "n")
    # "Hello, World! 123abc" → Hello , World ! 123 abc = 6
    assert out[5] == 6


def test_normalized_text(spark, docs):
    out = vals(docs.select("id", normalized_text(F.col("text")).alias("t")), "t")
    assert out[1] == "the quick brown fox jumps over the lazy dog"
    assert out[5] == "hello world 123abc"
    assert out[3] == "" and out[4] == ""


def test_doc_fingerprint_collides_on_case_and_punct(spark):
    df = spark.createDataFrame(
        [(1, "Hello, World!"), (2, "hello world"), (3, "different")],
        "id int, text string",
    )
    out = vals(df.select("id", doc_fingerprint(F.col("text")).alias("f")), "f")
    assert out[1] == out[2] != out[3]


def test_lang_id(spark, docs):
    out = vals(docs.select("id", lang_id(F.col("text")).alias("lang")), "lang")
    assert out[1] == "en"
    assert out[2] == "es"
    assert out[3] == "und"


def test_quality_features_ratios(spark):
    df = spark.createDataFrame([(1, "ab 12.")], "id int, text string")
    f = quality_features(F.col("text"))
    row = df.select(*[v.alias(k) for k, v in f.items()]).collect()[0].asDict()
    assert row["n_chars"] == 6
    assert row["alpha_ratio"] == 2 / 6
    assert row["digit_ratio"] == 2 / 6
    assert row["punct_ratio"] == 1 / 6
    assert row["space_ratio"] == 1 / 6


def test_quality_features_empty_text_null_ratios(spark):
    df = spark.createDataFrame([(1, "")], "id int, text string")
    f = quality_features(F.col("text"))
    row = df.select(*[v.alias(k) for k, v in f.items()]).collect()[0].asDict()
    assert row["alpha_ratio"] is None and row["mean_token_len"] is None


def test_rolling_shingle_hashes(spark):
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b"), (3, "a b c d")], "id int, text string"
    ).select("id", tokens(normalized_text(F.col("text"))).alias("t"))
    out = vals(df.select("id", shingle_hashes(F.col("t"), 3).alias("h")), "h")
    assert len(out[1]) == 2  # "a b c", "b c d"
    assert len(out[2]) == 1  # short doc → one whole-text shingle
    assert out[1] == out[3]  # deterministic
    assert all(isinstance(x, int) for x in out[1])


def test_doc_split_sample_is_deterministic_and_complete(spark):
    from data_validator_spark.queries import load
    from data_validator_spark.queries.textops import q_doc_split_sample

    sf = "/root/testdata/sf0.001"
    a = {(r.lang, r.split): r.n_docs for r in q_doc_split_sample(spark, sf).collect()}
    b = {(r.lang, r.split): r.n_docs for r in q_doc_split_sample(spark, sf).collect()}
    assert a == b  # hash-based, not RNG: identical on every run
    total = load(spark, sf, "documents").count()
    assert sum(a.values()) == total  # every doc lands in exactly one split
    train = sum(n for (_, s), n in a.items() if s == "train")
    assert 0.9 * total <= train <= total  # ~98% nominal


def test_quality_and_token_count_match_vectorized_reference(spark):
    """Pins the JVM quality_score / token_count semantics against an
    independent vectorized byte-level reference (the r19 fused-Arrow
    kernel experiment: built for corpus_train_filter per the r18
    verdict, proven bit-identical here and on all sf0.1 docs, then NOT
    shipped — the same-boot A/B showed the Python boundary round-trip
    offsets the expression saving at bench SF; history/OPTIMIZATION_r19.md has
    the numbers). Doubles compare by bit pattern: any engine change
    that moves quality_score by one ulp — or token_count by one token
    on trim/split edge cases — fails here before it can drift the
    oracle."""
    import struct as st

    import numpy as np
    import pyarrow as pa

    from data_validator_spark.functions.text import quality_score

    def reference(texts):
        """quality (f64), n_tokens (int|None) per text — byte-level."""
        ws = np.zeros(256, np.bool_); ws[[0x20, 0x09, 0x0A, 0x0B, 0x0C, 0x0D]] = True
        sp3 = np.zeros(256, np.bool_); sp3[[0x20, 0x09, 0x0A]] = True
        al = np.zeros(256, np.bool_)
        al[list(range(0x41, 0x5B)) + list(range(0x61, 0x7B))] = True

        arr = pa.array(texts, type=pa.large_string())
        n = len(arr)
        null_mask = np.asarray(arr.is_null()) if arr.null_count else np.zeros(n, np.bool_)
        bufs = arr.buffers()
        offsets = np.frombuffer(bufs[1], dtype=np.int64, count=n + 1).copy()
        nbytes = int(offsets[-1])
        data = (
            np.frombuffer(bufs[2], dtype=np.uint8, count=nbytes)
            if bufs[2] is not None and nbytes
            else np.zeros(0, np.uint8)
        )

        def rowsum(mask):
            cs = np.concatenate(([0], np.cumsum(mask, dtype=np.int64)))
            return cs[offsets[1:]] - cs[offsets[:-1]]

        n_chars = rowsum((data & 0xC0) != 0x80)   # codepoints
        n_alpha = rowsum(al[data])
        n_sp3 = rowsum(sp3[data])

        if nbytes:
            idx = np.arange(nbytes, dtype=np.int64)
            nonspace = data != 0x20               # trim() strips ' ' only
            starts = np.minimum(offsets[:-1], nbytes - 1)
            fns = np.minimum.reduceat(np.where(nonspace, idx, np.int64(nbytes + 1)), starts)
            lns = np.maximum.reduceat(np.where(nonspace, idx, np.int64(-1)), starts) + 1
            empty = offsets[:-1] >= offsets[1:]
            fns = np.where(empty, offsets[:-1], np.minimum(fns, offsets[1:]))
            lns = np.where(empty, offsets[:-1], np.maximum(lns, offsets[:-1]))
            trimmed_len = np.maximum(lns - fns, 0)
            wsm = ws[data]
            prev = np.empty_like(wsm); prev[0] = False; prev[1:] = wsm[:-1]
            rs = (wsm & ~prev).copy()
            ne = trimmed_len > 0
            pos = fns[ne]
            rs[pos] = wsm[pos]                    # row-local run boundary
            cs = np.concatenate(([0], np.cumsum(rs, dtype=np.int64)))
            runs = np.zeros(n, np.int64)
            runs[ne] = cs[lns[ne]] - cs[fns[ne]]
            n_tokens = np.where(trimmed_len > 0, runs + 1, 0)
        else:
            n_tokens = np.zeros(n, np.int64)

        with np.errstate(divide="ignore", invalid="ignore"):
            mean_tok = (n_chars - n_sp3).astype(np.float64) / n_tokens.astype(np.float64)
            alpha_ratio = np.where(
                n_chars > 0, n_alpha.astype(np.float64) / n_chars.astype(np.float64), 0.0
            )
        len_ok = ((n_chars >= 50) & (n_chars <= 100000)).astype(np.float64)
        tok_ok = ((n_tokens > 0) & (mean_tok >= 2.0) & (mean_tok <= 12.0)).astype(np.float64)
        quality = np.where(null_mask, 0.0, (len_ok + tok_ok + alpha_ratio * 2.0) / 4.0)
        return [
            (float(quality[j]), None if null_mask[j] else int(n_tokens[j]))
            for j in range(n)
        ]

    cases = [
        None, "", " ", "   ", "\t", " \t", "\t ", "a", " a ", "  a  b  ",
        "\ta b\t", " \ta", "a\t ", "\x0b\x0c\r", "héllo wörld", "日本語 テスト",
        "a" * 49, "a" * 50, ("word " * 20).strip(), "x" * 100001, "1 2 3\n4\t5",
        "mixed  \t\n ws   runs", "trailing space ", " leading", "éé éé éé",
        "\r\n\r\n", "a b", "ab", "  \t  ",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(cases)], "id int, text string")
    jvm = {
        r.id: (r.q, r.t)
        for r in df.select(
            "id",
            quality_score(F.col("text")).alias("q"),
            token_count(F.col("text")).alias("t"),
        ).collect()
    }
    ref = reference(cases)
    for i, (rq, rt) in enumerate(ref):
        jq, jt = jvm[i]
        assert st.pack("d", jq) == st.pack("d", rq), (i, cases[i], jq, rq)
        assert jt == rt, (i, cases[i], jt, rt)


WS_TOKENIZER = r"[ \t\n\x0B\f\r]+"


def _is_f_call(node, name):
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == name
        and isinstance(node.func.value, ast.Name)
        and node.func.value.id == "F"
    )


def _kernel_spellings(tree):
    """(tokenizer, hash60) counts: F.split calls with the whitespace-class
    literal, and F.conv(F.substring(F.md5(..), 1, 15), ..) chains."""
    n_tok = n_hash = 0
    for node in ast.walk(tree):
        if _is_f_call(node, "split") and any(
            isinstance(a, ast.Constant) and a.value == WS_TOKENIZER for a in node.args
        ):
            n_tok += 1
        if (
            _is_f_call(node, "conv")
            and node.args
            and _is_f_call(node.args[0], "substring")
            and node.args[0].args
            and _is_f_call(node.args[0].args[0], "md5")
            and [getattr(a, "value", None) for a in node.args[0].args[1:]] == [1, 15]
        ):
            n_hash += 1
    return n_tok, n_hash


def test_corpus_kernels_have_one_home():
    """The whitespace tokenizer and the 60-bit md5 hash are spelled once,
    in functions/text.py (tokens, hash60); every other module calls
    them, so the registry queries and the pipeline steps the DuckDB
    oracle vouches for cannot drift apart. textops.split_bucket's
    8-digit bucket is a different hash and is not matched."""
    import data_validator_spark
    from data_validator_spark.functions import text

    pkg = pathlib.Path(data_validator_spark.__file__).parent
    home = pathlib.Path(text.__file__)
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        counts = _kernel_spellings(ast.parse(path.read_text(), str(path)))
        if path == home:
            assert counts == (1, 1), counts
        elif counts != (0, 0):
            offenders.append((str(path.relative_to(pkg)), counts))
    assert not offenders, offenders
