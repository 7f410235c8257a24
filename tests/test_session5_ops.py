"""Semantic tests for the r5-session-5 operators: semdedup
(cluster-bucketed semantic dedup), repetition_strip (consecutive
duplicate-token collapse), global_shuffle (deterministic sharded
training order) — crafted inputs through the real query functions,
brute-force-verified in Python."""

from __future__ import annotations

import hashlib

import pytest

SF = "/root/testdata/sf0.001"


def _hash60_py(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


# -- repetition_strip ------------------------------------------------------
@pytest.fixture(scope="module")
def rep_dir(spark, tmp_path_factory):
    rows = [
        (0, "a a a b b c", "en", "s", 11),
        (1, "x y x y", "en", "s", 7),  # alternating: nothing to strip
        (2, "", "en", "s", 0),
        (3, "solo", "en", "s", 4),
        (4, "a  a\tb", "en", "s", 6),  # multi-whitespace split
        (5, "q q q q q q q q", "en", "s", 15),
    ]
    d = tmp_path_factory.mktemp("repdocs")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(str(d / "documents.parquet"))
    return str(d)


def test_repetition_strip_collapses_runs(spark, rep_dir):
    from data_validator_spark.queries.textops import q_repetition_strip

    out = {r["doc_id"]: r for r in q_repetition_strip(spark, rep_dir).collect()}
    assert (out[0]["n_tokens"], out[0]["n_kept"]) == (6, 3)
    assert out[0]["clean_hash"] == _hash60_py("a b c")
    # alternating tokens survive untouched — only CONSECUTIVE runs collapse
    assert (out[1]["n_tokens"], out[1]["n_kept"]) == (4, 4)
    assert out[1]["clean_hash"] == _hash60_py("x y x y")
    assert (out[2]["n_tokens"], out[2]["n_kept"]) == (0, 0)
    assert out[2]["clean_hash"] == _hash60_py("")
    assert (out[3]["n_tokens"], out[3]["n_kept"]) == (1, 1)
    # "a  a\tb" splits on \s+ -> [a, a, b] -> [a, b]
    assert (out[4]["n_tokens"], out[4]["n_kept"]) == (3, 2)
    assert out[4]["clean_hash"] == _hash60_py("a b")
    assert (out[5]["n_tokens"], out[5]["n_kept"]) == (8, 1)
    assert out[5]["clean_hash"] == _hash60_py("q")


def test_repetition_strip_preserves_order_on_corpus(spark):
    """On the real corpus: stripping is idempotent (re-stripping the
    cleaned text changes nothing) and never reorders — verified by
    brute force on a sample."""
    from pyspark.sql import functions as F

    from data_validator_spark.queries import load

    rows = (
        load(spark, SF, "documents")
        .where(F.col("doc_id") < 50)
        .select("doc_id", "text")
        .collect()
    )
    from data_validator_spark.queries.textops import q_repetition_strip

    out = {r["doc_id"]: r for r in q_repetition_strip(spark, SF).collect()}
    for r in rows:
        toks = r["text"].split() if r["text"].strip() else []
        kept = [t for i, t in enumerate(toks) if i == 0 or toks[i - 1] != t]
        o = out[r["doc_id"]]
        assert o["n_tokens"] == len(toks)
        assert o["n_kept"] == len(kept)
        assert o["clean_hash"] == _hash60_py(" ".join(kept))


# -- global_shuffle --------------------------------------------------------
def test_global_shuffle_is_a_permutation(spark):
    from data_validator_spark.queries.pipeline_ops import (
        N_SHARDS,
        SHUFFLE_SALT,
        q_global_shuffle,
    )

    rows = q_global_shuffle(spark, SF).collect()
    assert len({r["doc_id"] for r in rows}) == len(rows) == 500
    # shard is the salted hash mod N_SHARDS, recomputed independently
    by_shard: dict[int, list] = {}
    for r in rows:
        h = _hash60_py(f"{SHUFFLE_SALT}:{r['doc_id']}")
        assert r["shard_id"] == h % N_SHARDS
        by_shard.setdefault(r["shard_id"], []).append((h, r["doc_id"], r["shard_pos"]))
    # within each shard: positions are 1..n and ordered by (hash, id)
    for members in by_shard.values():
        members.sort()
        assert [m[2] for m in members] == list(range(1, len(members) + 1))


def test_global_shuffle_deterministic(spark):
    from data_validator_spark.queries.pipeline_ops import q_global_shuffle

    a = sorted(map(tuple, q_global_shuffle(spark, SF).collect()))
    b = sorted(map(tuple, q_global_shuffle(spark, SF).collect()))
    assert a == b


# -- cross-engine edge corpus ----------------------------------------------
# Regression tests for oracle edge cases the synthetic corpus masks:
# blank / whitespace-only / trailing-newline / non-ASCII documents.
# Both engines run on the SAME crafted parquet and must agree exactly
# (DuckDB array_to_string returns NULL on empty lists; CAST(text AS
# BLOB) rejects non-ASCII — both burned the first oracle drafts).
@pytest.fixture(scope="module")
def edge_doc_dir(spark, tmp_path_factory):
    rows = [
        (0, "", "en", "s", 0),
        (1, "  \t ", "en", "s", 4),
        (2, "x\n", "en", "s", 2),
        (3, "héllo wörld wörld", "de", "s", 17),
        (4, "a a b", "en", "s", 5),
    ]
    d = tmp_path_factory.mktemp("edgedocs")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(str(d / "documents.parquet"))
    return str(d)


def _duck_on(sql: str, doc_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{doc_dir}/documents.parquet/*.parquet')"
    )
    return con.execute(sql).df()


def _assert_engines_agree(spark_df, duck_pdf):
    sp = spark_df.toPandas()
    cols = sorted(sp.columns)
    assert cols == sorted(duck_pdf.columns)
    a = sp[cols].sort_values(cols).reset_index(drop=True)
    b = duck_pdf[cols].sort_values(cols).reset_index(drop=True)
    assert len(a) == len(b)
    for c in cols:
        av, bv = list(a[c]), list(b[c])
        for x, y in zip(av, bv):
            if isinstance(x, float):
                assert x == pytest.approx(y, abs=0, rel=0), (c, x, y)
            else:
                assert x == y or int(x) == int(y), (c, x, y)


def test_repetition_strip_oracle_agrees_on_edge_docs(spark, edge_doc_dir):
    from data_validator_spark.queries.textops import (
        _sql_repetition_strip,
        q_repetition_strip,
    )

    _assert_engines_agree(
        q_repetition_strip(spark, edge_doc_dir),
        _duck_on(_sql_repetition_strip(), edge_doc_dir),
    )
    out = {r["doc_id"]: r for r in q_repetition_strip(spark, edge_doc_dir).collect()}
    # whitespace-only doc -> zero tokens; trailing newline -> ONE token
    assert (out[1]["n_tokens"], out[1]["n_kept"]) == (0, 0)
    assert (out[2]["n_tokens"], out[2]["n_kept"]) == (1, 1)
    assert out[2]["clean_hash"] == _hash60_py("x")


@pytest.fixture(scope="module")
def ws_edge_doc_dir(spark, tmp_path_factory):
    """Edge docs the shared edge corpus can't carry without breaking
    other ops' oracles: a vertical-tab (\\x0B) document — Java \\s
    matches it, RE2 \\s does not, so only an explicit class tokenizes
    it identically — and a NULL text document."""
    rows = [
        (0, "a\x0ba a", "en", "s", 5),
        (1, None, "en", "s", 0),
        (2, "\x0b\x0b", "en", "s", 2),
        (3, "b\fb\vb\tb", "en", "s", 7),
    ]
    d = tmp_path_factory.mktemp("wsdocs")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(str(d / "documents.parquet"))
    return str(d)


def test_repetition_strip_vertical_tab_and_null_text(spark, ws_edge_doc_dir):
    from data_validator_spark.queries.textops import (
        _sql_repetition_strip,
        q_repetition_strip,
    )

    _assert_engines_agree(
        q_repetition_strip(spark, ws_edge_doc_dir),
        _duck_on(_sql_repetition_strip(), ws_edge_doc_dir),
    )
    out = {
        r["doc_id"]: r for r in q_repetition_strip(spark, ws_edge_doc_dir).collect()
    }
    # \x0B separates tokens (explicit class): "a\x0Ba a" -> [a,a,a] -> [a]
    assert (out[0]["n_tokens"], out[0]["n_kept"]) == (3, 1)
    assert out[0]["clean_hash"] == _hash60_py("a")
    # NULL text behaves as empty text on BOTH engines
    assert (out[1]["n_tokens"], out[1]["n_kept"]) == (0, 0)
    assert out[1]["clean_hash"] == _hash60_py("")
    # \x0B-only doc trims to empty
    assert (out[2]["n_tokens"], out[2]["n_kept"]) == (0, 0)
    # mixed \f \v \t separators all split
    assert (out[3]["n_tokens"], out[3]["n_kept"]) == (4, 1)
    assert out[3]["clean_hash"] == _hash60_py("b")


def test_multimodal_oracles_agree_on_edge_docs(spark, edge_doc_dir):
    from data_validator_spark.queries.multimodal import (
        SQL_MULTIMODAL_FEATURES,
        SQL_MULTIMODAL_FRAME_SAMPLE,
        SQL_MULTIMODAL_META,
        SQL_MULTIMODAL_RESIZE,
        q_multimodal_features,
        q_multimodal_frame_sample,
        q_multimodal_meta,
        q_multimodal_resize,
    )

    for fn, sql in [
        (q_multimodal_meta, SQL_MULTIMODAL_META),
        (q_multimodal_resize, SQL_MULTIMODAL_RESIZE),
        (q_multimodal_frame_sample, SQL_MULTIMODAL_FRAME_SAMPLE),
        (q_multimodal_features, SQL_MULTIMODAL_FEATURES),
    ]:
        _assert_engines_agree(fn(spark, edge_doc_dir), _duck_on(sql, edge_doc_dir))


def test_streaming_validation_oracle_empty_table(spark, tmp_path):
    """Empty lineitem: the oracle must COALESCE its sums to 0/False,
    matching the Spark side's empty-batch totals."""
    import duckdb

    d = tmp_path / "empty"
    spark.createDataFrame(
        [], "l_orderkey long, l_linenumber long, l_returnflag string, l_quantity double"
    ).coalesce(1).write.parquet(str(d / "lineitem.parquet"))
    from data_validator_spark.queries.streaming_queries import (
        SQL_STREAMING_VALIDATION,
        q_streaming_validation,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{d}/lineitem.parquet/*.parquet')"
    )
    duck = con.execute(SQL_STREAMING_VALIDATION).df().iloc[0]
    assert (duck["total_rows"], duck["null_errors"], duck["negative_errors"]) == (0, 0, 0)
    assert bool(duck["any_failed"]) is False
    srow = q_streaming_validation(spark, str(d)).collect()[0]
    assert (srow["total_rows"], srow["null_errors"], srow["negative_errors"]) == (0, 0, 0)
    assert srow["any_failed"] is False


# -- copurchase_similarity -------------------------------------------------
@pytest.fixture(scope="module")
def basket_dir(spark, tmp_path_factory):
    """Orders: 1={10,20,30}, 2={10,20}, 3={10,20,40}, 4={40} plus a
    degenerate order 5 with 70 distinct parts (over MAX_BASKET) that
    must be excluded from pair expansion. Order 1 also repeats part 10
    on two lines — co-occurrence must count ORDERS, not lines."""
    rows = [(1, 10), (1, 10), (1, 20), (1, 30), (2, 10), (2, 20),
            (3, 10), (3, 20), (3, 40), (4, 40)]
    rows += [(5, 1000 + i) for i in range(70)]
    d = tmp_path_factory.mktemp("baskets")
    spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long"
    ).coalesce(1).write.parquet(str(d / "lineitem.parquet"))
    return str(d)


def test_copurchase_counts_and_jaccard(spark, basket_dir):
    from data_validator_spark.queries.mining_ops import q_copurchase_similarity

    out = {(r["part_a"], r["part_b"]): r for r in q_copurchase_similarity(spark, basket_dir).collect()}
    # (10,20) co-occurs in orders 1,2,3; (10,30)/(20,30)/(10,40)/(20,40)
    # each in ONE order only -> below MIN_CO_ORDERS; order 5 capped out
    assert set(out) == {(10, 20)}
    r = out[(10, 20)]
    assert r["co_orders"] == 3
    assert (r["n_orders_a"], r["n_orders_b"]) == (3, 3)
    # jaccard = 3 / (3 + 3 - 3) = 1.0
    assert r["jaccard_q6"] == 1_000_000


def test_copurchase_brute_force_on_corpus(spark):
    """Top rows agree with a Python brute force over the real table."""
    import itertools

    from data_validator_spark.queries import load
    from data_validator_spark.queries.mining_ops import (
        MAX_BASKET,
        MIN_CO_ORDERS,
        q_copurchase_similarity,
    )

    li = {(r["l_orderkey"], r["l_partkey"]) for r in
          load(spark, SF, "lineitem").select("l_orderkey", "l_partkey").collect()}
    baskets: dict[int, set] = {}
    for o, p in li:
        baskets.setdefault(o, set()).add(p)
    from collections import Counter
    co = Counter()
    freq = Counter()
    for o, parts in baskets.items():
        for p in parts:
            freq[p] += 1
        if len(parts) <= MAX_BASKET:
            for x, y in itertools.combinations(sorted(parts), 2):
                co[(x, y)] += 1
    exp = sorted(
        ((c, a, b) for (a, b), c in co.items() if c >= MIN_CO_ORDERS),
        key=lambda t: (-t[0], t[1], t[2]),
    )[:100]
    got = q_copurchase_similarity(spark, SF).collect()
    assert [(r["co_orders"], r["part_a"], r["part_b"]) for r in got] == exp
    for r in got:
        a, b, c = r["part_a"], r["part_b"], r["co_orders"]
        jac = c / (freq[a] + freq[b] - c)
        assert r["jaccard_q6"] == int(jac * 1e6 + 0.5)


# -- semdedup --------------------------------------------------------------
@pytest.fixture(scope="module")
def emb_dir(spark, tmp_path_factory):
    """18 one-hot 64-dim vectors: ids 0..15 are e_0..e_15 (the derived
    nlist=16 coarse centroids, mutually orthogonal), ids 16 and 17
    duplicate e_3 exactly."""

    def onehot(i):
        v = [0.0] * 64
        v[i] = 1.0
        return v

    rows = [(i, onehot(i), 0) for i in range(16)]
    rows += [(16, onehot(3), 0), (17, onehot(3), 0)]
    d = tmp_path_factory.mktemp("embs")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.parquet(str(d / "embeddings.parquet"))
    return str(d)


def test_semdedup_drops_exact_semantic_dups(spark, emb_dir):
    from data_validator_spark.queries.similarity import q_semdedup

    out = {r["cluster_id"]: r for r in q_semdedup(spark, emb_dir).collect()}
    assert len(out) == 16
    # cluster 3 holds e_3 and its two clones; keep-lowest-id drops both clones
    assert out[3]["n_members"] == 3 and out[3]["n_dropped"] == 2
    for cid, r in out.items():
        if cid != 3:
            assert r["n_members"] == 1 and r["n_dropped"] == 0
    assert sum(r["n_members"] for r in out.values()) == 18


def test_semdedup_kernel_drops_nonfinite_cosines():
    """Zero-norm vectors make the numpy cosine non-finite (0/0 = NaN),
    and the engines then DISAGREE: DuckDB double division by zero
    yields NULL, so the oracle's WHERE ROUND(cos,6) >= T filters the
    pair OUT, while Spark orders NaN above every numeric and would
    keep a NaN cos_raw that reached the JVM decision. Parity requires
    the kernel to DROP non-finite cosines — proven here against the
    kernel directly, with the DuckDB division semantics the contract
    rests on re-checked live (if a DuckDB upgrade ever flips 0/0 to
    IEEE NaN, this test fails loudly instead of the oracle hash)."""
    import duckdb
    import pandas as pd

    from data_validator_spark.queries.similarity import (
        DIM,
        _semdedup_cluster_pairs,
    )

    # the oracle-side semantics the kernel's drop rule mirrors
    con = duckdb.connect()
    assert con.execute(
        "SELECT CAST(0.0 AS DOUBLE)/CAST(0.0 AS DOUBLE)"
    ).fetchone() == (None,)
    assert con.execute(
        "SELECT count(*) FROM (SELECT 1) "
        "WHERE ROUND(CAST(0.0 AS DOUBLE)/CAST(0.0 AS DOUBLE), 6) >= 0.4"
    ).fetchone() == (0,)
    con.close()

    def onehot(i):
        v = [0.0] * DIM
        v[i] = 1.0
        return v

    zero = [0.0] * DIM
    pdf = pd.DataFrame(
        {
            "list_id": [7] * 5,
            "vec_id": [1, 2, 3, 4, 5],
            "v": [zero, zero, onehot(0), onehot(0), onehot(1)],
            "norm": [0.0, 0.0, 1.0, 1.0, 1.0],
        }
    )
    out = _semdedup_cluster_pairs(pdf)
    pairs = {
        (a, b): c
        for a, b, c in zip(out["vec_a"], out["vec_b"], out["cos_raw"])
    }
    assert (3, 4) in pairs and pairs[(3, 4)] == 1.0  # exact dup kept
    assert (3, 5) not in pairs and (4, 5) not in pairs  # orthogonal dropped
    # every zero-norm pairing is NaN and none survives the pre-filter
    assert set(pairs) == {(3, 4)}


def test_semdedup_members_cover_corpus(spark):
    """On the real corpus the per-cluster member counts sum to the
    corpus size (every vector lands in exactly one cluster), and
    dropped <= members - 1 per cluster."""
    from data_validator_spark.queries.similarity import q_semdedup

    rows = q_semdedup(spark, SF).collect()
    assert sum(r["n_members"] for r in rows) == 500
    for r in rows:
        assert 0 <= r["n_dropped"] <= r["n_members"] - 1


def test_evict_session_caches(spark):
    """Every module-level persisted-relation cache is registered and
    releasable (ADVICE r5 hygiene): populate two of them, evict, and
    confirm the dicts empty and re-materialization still works."""
    from data_validator_spark.queries import evict_session_caches
    from data_validator_spark.queries.tpch_ext import _EXT_CACHE, partsupp_df
    from data_validator_spark.queries.mining_ops import _BASKET_CACHE, _basket_lines

    partsupp_df(spark, SF).count()
    _basket_lines(spark, SF).count()
    assert _EXT_CACHE and _BASKET_CACHE
    n = evict_session_caches()
    assert n >= 2
    assert not _EXT_CACHE and not _BASKET_CACHE
    # consumers re-materialize on demand
    assert partsupp_df(spark, SF).count() > 0
    evict_session_caches(SF)


# -- embedding_outliers ----------------------------------------------------
def test_embedding_outliers_brute_force(spark):
    """Recompute the whole audit in Python on the real sf0.001 corpus
    with the exact quantization rules (left-to-right dot fold,
    round(cos,9), floor((1-cos)*1e6+0.5), integer flag compare)."""
    import numpy as np

    from data_validator_spark.queries import load
    from data_validator_spark.queries.similarity import (
        OUTLIER_FACTOR,
        _derived_params,
        q_embedding_outliers,
    )

    rows = q_embedding_outliers(spark, SF).collect()
    emb = load(spark, SF, "embeddings").toPandas().sort_values("vec_id")
    ids = emb.vec_id.to_numpy()
    vecs = [np.asarray(v, dtype=np.float64) for v in emb.embedding]
    _, nlist = _derived_params(spark, SF)
    cents = [(int(i), vecs[k]) for k, i in enumerate(ids) if i < nlist]

    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += float(x) * float(y)
        return acc

    norms = [np.sqrt(fold_dot(v, v)) for v in vecs]
    cnorms = {cid: np.sqrt(fold_dot(cv, cv)) for cid, cv in cents}

    clusters: dict[int, list[int]] = {}
    for k in range(len(ids)):
        best = None
        for cid, cv in cents:  # cents ordered by cent_id (tie -> lowest)
            c = round(fold_dot(vecs[k], cv) / (norms[k] * cnorms[cid]), 9)
            if best is None or c > best[0]:
                best = (c, cid)
        di = int(np.floor((1.0 - best[0]) * 1e6 + 0.5))
        clusters.setdefault(best[1], []).append(di)

    got = {r["list_id"]: r for r in rows}
    assert set(got) == set(clusters)
    for cid, dis in clusters.items():
        r = got[cid]
        n, sdi = len(dis), sum(dis)
        n_out = sum(1 for d in dis if d * n > OUTLIER_FACTOR * sdi)
        assert r["n_vecs"] == n, cid
        assert r["n_outliers"] == n_out, cid
        assert abs(r["mean_dist"] - round(sdi / n / 1e6, 6)) < 2e-6, cid
        assert abs(r["outlier_pct"] - round(100.0 * n_out / n, 6)) < 2e-6, cid


def test_embedding_outliers_orthogonal_corpus(spark, emb_dir):
    """One-hot corpus: every vector sits exactly on a centroid
    (distance 0), so no cluster can flag an outlier and cluster 3
    carries the two duplicates."""
    from data_validator_spark.queries.similarity import q_embedding_outliers

    rows = {r["list_id"]: r for r in q_embedding_outliers(spark, emb_dir).collect()}
    assert set(rows) == set(range(16))
    for lid, r in rows.items():
        assert r["n_outliers"] == 0, lid
        assert r["mean_dist"] == 0.0, lid
    assert rows[3]["n_vecs"] == 3
    assert all(rows[i]["n_vecs"] == 1 for i in range(16) if i != 3)


# -- cluster_purity / knn_label_noise --------------------------------------
def _brute_assignment(spark, sf):
    """Brute-force IVF coarse assignment on the real corpus with the
    exact engine rules (left-to-right dot fold, round(cos,9), tie ->
    lowest cent_id). Returns (clusters: list_id -> [row index],
    ids, vecs, labels)."""
    import numpy as np

    from data_validator_spark.queries import load
    from data_validator_spark.queries.similarity import _derived_params

    emb = load(spark, sf, "embeddings").toPandas().sort_values("vec_id")
    ids = emb.vec_id.to_numpy()
    vecs = [np.asarray(v, dtype=np.float64) for v in emb.embedding]
    labels = emb.label.to_numpy().astype(int)
    _, nlist = _derived_params(spark, sf)
    cents = [(int(i), vecs[k]) for k, i in enumerate(ids) if i < nlist]

    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += float(x) * float(y)
        return acc

    norms = [np.sqrt(fold_dot(v, v)) for v in vecs]
    cnorms = {cid: np.sqrt(fold_dot(cv, cv)) for cid, cv in cents}
    clusters: dict[int, list[int]] = {}
    for k in range(len(ids)):
        best = None
        for cid, cv in cents:
            c = round(fold_dot(vecs[k], cv) / (norms[k] * cnorms[cid]), 9)
            if best is None or c > best[0]:
                best = (c, cid)
        clusters.setdefault(best[1], []).append(k)
    return clusters, ids, vecs, labels, norms


def test_cluster_purity_brute_force(spark):
    from data_validator_spark.queries.similarity import q_cluster_purity

    rows = {r["list_id"]: r for r in q_cluster_purity(spark, SF).collect()}
    clusters, ids, _vecs_, labels, _norms = _brute_assignment(spark, SF)
    assert set(rows) == set(clusters)
    for cid, members in clusters.items():
        r = rows[cid]
        counts: dict[int, int] = {}
        for k in members:
            counts[int(labels[k])] = counts.get(int(labels[k]), 0) + 1
        maj_label, maj_n = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        assert r["n_vecs"] == len(members), cid
        assert r["n_labels"] == len(counts), cid
        assert r["majority_label"] == maj_label, cid
        assert r["n_majority"] == maj_n, cid
        assert abs(r["purity"] - round(maj_n / len(members), 6)) < 2e-6, cid


def test_knn_label_noise_brute_force(spark):
    """Recompute the whole vote in Python on the real sf0.001 corpus
    with the exact kernel rules: dimension-order == left fold dots,
    half-away-from-zero micro-unit ranking, vec_id tie-break,
    majority ties to the smallest label."""
    import math

    from data_validator_spark.queries.similarity import (
        MAX_EMB_BUCKET,
        TOP_K,
        q_knn_label_noise,
    )

    got = {r["vec_id"]: r for r in q_knn_label_noise(spark, SF).collect()}
    clusters, ids, vecs, labels, norms = _brute_assignment(spark, SF)

    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += float(x) * float(y)
        return acc

    expected_ids = set()
    for cid, members in clusters.items():
        m = len(members)
        if m < 2 or m > MAX_EMB_BUCKET:
            continue
        k = min(TOP_K, m - 1)
        for i in members:
            expected_ids.add(int(ids[i]))
            scored = []
            for j in members:
                if j == i:
                    continue
                c = fold_dot(vecs[i], vecs[j]) / (norms[i] * norms[j])
                r6 = (
                    math.floor(c * 1e6 + 0.5)
                    if c >= 0
                    else -math.floor(-c * 1e6 + 0.5)
                )
                scored.append((-r6, int(ids[j]), int(labels[j])))
            scored.sort()
            votes: dict[int, int] = {}
            for _r6, _nid, lab in scored[:k]:
                votes[lab] = votes.get(lab, 0) + 1
            maj = min(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            r = got[int(ids[i])]
            assert r["list_id"] == cid, ids[i]
            assert r["own_label"] == int(labels[i]), ids[i]
            assert r["n_neighbors"] == k, ids[i]
            assert r["majority_label"] == maj, ids[i]
            assert r["n_agree"] == votes.get(int(labels[i]), 0), ids[i]
            assert r["is_mislabel"] == int(maj != int(labels[i])), ids[i]
    assert set(got) == expected_ids
    assert any(r["is_mislabel"] == 1 for r in got.values())  # corpus has noise


def test_cluster_purity_orthogonal_corpus(spark, emb_dir):
    """One-hot corpus, all labels 0: every cluster is pure; cluster 3
    carries the two duplicates."""
    from data_validator_spark.queries.similarity import q_cluster_purity

    rows = {r["list_id"]: r for r in q_cluster_purity(spark, emb_dir).collect()}
    assert set(rows) == set(range(16))
    for lid, r in rows.items():
        assert r["n_labels"] == 1, lid
        assert r["majority_label"] == 0, lid
        assert r["purity"] == 1.0, lid
    assert rows[3]["n_vecs"] == 3


def test_knn_label_noise_orthogonal_corpus(spark, emb_dir):
    """Only cluster 3 has >= 2 members (ids 3, 16, 17 — identical
    vectors, same label): each votes with its 2 cluster-mates and
    nothing is flagged; every singleton cluster is excluded."""
    from data_validator_spark.queries.similarity import q_knn_label_noise

    rows = {r["vec_id"]: r for r in q_knn_label_noise(spark, emb_dir).collect()}
    assert set(rows) == {3, 16, 17}
    for vid, r in rows.items():
        assert r["list_id"] == 3, vid
        assert r["n_neighbors"] == 2, vid
        assert r["majority_label"] == 0, vid
        assert r["n_agree"] == 2, vid
        assert r["is_mislabel"] == 0, vid
