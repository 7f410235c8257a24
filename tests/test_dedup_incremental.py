"""dedup_incremental: the batch-append dedup must scan ONLY the
append delta (verdict r8 item 7), route bloom-negative rows around
the index join, and flag planted duplicates correctly."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_validator_spark.queries.dedup import (
    DELTA_FRAC,
    _incremental_index,
    _incremental_pivot,
    q_dedup_incremental,
)

SF = "/root/testdata/sf0.001"


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_plan_scans_delta_not_corpus(spark):
    """After the index is session-persisted, the graded execution's
    only LIVE parquet relations are the two delta branches (bloom-pass
    and bloom-fail) with the literal pivot pushed down; every
    corpus-side consumer resolves to the persisted InMemoryRelation.
    (Plan toString prints the cached child inside InMemoryRelation /
    InMemoryTableScan, so live leaves are counted via the optimized
    logical plan's `Relation` lines, which cached subtrees don't
    emit.)"""
    _incremental_index(spark, SF)  # build + persist the index once
    pivot = _incremental_pivot(spark, SF)
    df = q_dedup_incremental(spark, SF)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    live = [
        ln for ln in opt.splitlines()
        if "- Relation [" in ln and "parquet" in ln
    ]
    assert len(live) == 2, live  # the two delta branches, nothing else
    # corpus index (x1 exact join) + bloom bits (x3 markers) all cached
    assert opt.count("InMemoryRelation") >= 4
    plan = _executed_plan(df)
    # the literal pivot reaches the delta parquet scan
    assert f"GreaterThanOrEqual(doc_id,{pivot})" in plan
    # the bloom markers broadcast — no shuffle on the delta probe side
    assert "BroadcastHashJoin" in plan


def test_planted_duplicates_flagged(spark, tmp_path):
    """Synthetic corpus with known duplicates across the pivot:
    - doc 95 repeats corpus doc 3's text    -> dup_of_corpus
    - docs 96 and 97 share fresh text       -> 97 dup_in_delta
    - doc 98 is novel                       -> keep
    max_id=99 -> pivot = floor(100 * DELTA_FRAC) = 90."""
    assert DELTA_FRAC == 0.9
    rows = [(i, f"unique corpus text number {i}") for i in range(95)]
    rows += [
        (95, "unique corpus text number 3"),  # dup of corpus doc 3
        (96, "fresh shared text"),
        (97, "fresh shared text"),            # dup of 96 within delta
        (98, "completely novel text"),
        (99, "unique corpus text number 42"),  # dup of corpus doc 42
    ]
    d = tmp_path / "documents.parquet"
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(
        str(d)
    )
    out = {
        r["doc_id"]: r
        for r in q_dedup_incremental(spark, str(tmp_path)).collect()
    }
    assert set(out) == set(range(90, 100))
    assert out[95]["dup_of_corpus"] == 1 and out[95]["keep"] == 0
    assert out[95]["bloom_pass"] == 1  # bloom never drops a true match
    assert out[99]["dup_of_corpus"] == 1 and out[99]["bloom_pass"] == 1
    assert out[96]["dup_in_delta"] == 0 and out[96]["dup_of_corpus"] == 0
    assert out[97]["dup_in_delta"] == 1 and out[97]["keep"] == 0
    assert out[98]["keep"] == 1
    # delta docs 90-94 are unique corpus-side continuations -> novel
    for i in range(90, 95):
        assert out[i]["dup_of_corpus"] == 0 and out[i]["keep"] == 1


def test_streaming_twin_counts_match_batch(spark, tmp_path):
    """streaming_incremental_dedup's running census must equal the
    batch twin's corpus-dup/novel totals on a planted-dup corpus."""
    from pyspark.sql import functions as F

    from data_validator_spark.queries.streaming_queries import (
        q_streaming_incremental_dedup,
    )

    rows = [(i, f"unique corpus text number {i}") for i in range(95)]
    rows += [
        (95, "unique corpus text number 3"),   # dup of corpus
        (96, "fresh shared text"),
        (97, "fresh shared text"),             # within-delta dup (still novel vs corpus)
        (98, "completely novel text"),
        (99, "unique corpus text number 42"),  # dup of corpus
    ]
    # single-FILE parquet (the testdata layout): the streaming file
    # source discovers symlinked files, not nested directories
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    got = q_streaming_incremental_dedup(spark, str(tmp_path)).collect()[0]
    assert got["n_delta"] == 10
    assert got["n_dup_corpus"] == 2   # docs 95 and 99
    assert got["n_novel"] == 8        # within-delta dups stay novel vs corpus
    batch = q_dedup_incremental(spark, str(tmp_path))
    agg = batch.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dup_of_corpus").alias("dc")
    ).first()
    assert (agg["n"], agg["dc"]) == (got["n_delta"], got["n_dup_corpus"])


def _findex_drop(spark, table):
    import shutil

    from data_validator_spark.operators.bucketing import copy_path

    path = copy_path(spark, table)
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    shutil.rmtree(path, ignore_errors=True)


def test_findex_refresh_equals_rebuild(spark, tmp_path):
    """r10 (r9 verdict item 6): after a build-at-pivot + delta refresh,
    the persisted index table must hold EXACTLY the distinct
    fingerprints of the full corpus — i.e. refresh ≡ rebuild — and the
    graded digest must be idempotent across repeated refreshes."""
    from data_validator_spark.functions.text import fingerprint60
    from data_validator_spark.queries.dedup import q_dedup_index_refresh

    rows = [(i, f"unique corpus text number {i % 61}") for i in range(100)]
    d = tmp_path / "documents.parquet"
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(
        str(d)
    )
    t = "dv_findex_pytest_rebuild"
    _findex_drop(spark, t)
    try:
        got = sorted(
            tuple(r) for r in q_dedup_index_refresh(spark, str(tmp_path), table=t).collect()
        )
        # rebuild from scratch: full-corpus distinct fingerprints
        from pyspark.sql import functions as F

        from data_validator_spark.queries.dedup import (
            FINDEX_DIGEST_BUCKETS,
            FINDEX_MOD,
        )

        full = (
            spark.read.parquet(str(d))
            .select(fingerprint60(F.col("text")).alias("fp60"))
            .distinct()
            .groupBy(
                F.pmod(F.col("fp60"), F.lit(FINDEX_DIGEST_BUCKETS))
                .cast("int")
                .alias("bucket")
            )
            .agg(
                F.count(F.lit(1)).alias("n_fingerprints"),
                F.sum(F.pmod(F.col("fp60"), F.lit(FINDEX_MOD))).alias("digest"),
            )
        )
        want = sorted(tuple(r) for r in full.collect())
        assert got == want
        # 61 distinct texts in the corpus -> 61 fingerprints total
        assert sum(r[1] for r in got) == 61
        # idempotent: a second refresh adds nothing and digests equal
        again = sorted(
            tuple(r) for r in q_dedup_index_refresh(spark, str(tmp_path), table=t).collect()
        )
        assert again == got
        # the refreshed table is REGISTERED with its bucket spec
        assert spark.catalog.tableExists(t)
    finally:
        _findex_drop(spark, t)


def test_findex_survives_sessions_via_external_location(spark, tmp_path):
    """The catalog is in-memory (metadata dies with the session) but
    the data is external parquet: dropping the table entry while
    keeping the files must re-register metadata-only (no rebuild scan)
    and produce the same digest — the cross-session survival path."""
    import os

    from data_validator_spark.operators.bucketing import copy_path
    from data_validator_spark.queries.dedup import q_dedup_index_refresh

    rows = [(i, f"cross session text {i % 23}") for i in range(100)]
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    t = "dv_findex_pytest_sessions"
    _findex_drop(spark, t)
    try:
        first = sorted(
            tuple(r) for r in q_dedup_index_refresh(spark, str(tmp_path), table=t).collect()
        )
        path = copy_path(spark, t)
        files_before = sorted(os.listdir(path))
        # simulate a new session: catalog entry gone, files remain
        spark.sql(f"DROP TABLE {t}")
        assert os.path.isdir(path) and files_before
        second = sorted(
            tuple(r) for r in q_dedup_index_refresh(spark, str(tmp_path), table=t).collect()
        )
        assert second == first
        # re-registration was metadata-only: the refresh appended no
        # data (idempotent), so the data files are unchanged
        assert sorted(f for f in os.listdir(path) if f.endswith(".parquet")) == sorted(
            f for f in files_before if f.endswith(".parquet")
        )
    finally:
        _findex_drop(spark, t)


def test_findex_refresh_plan_scans_delta_only(spark, tmp_path):
    """The refresh's ONLY live parquet relation over documents must be
    the pivot-filtered delta scan; the corpus side is the bucketed
    index table (its scan reports the bucketing, so the anti-join
    never shuffles the corpus-scale side)."""
    from pyspark.sql import functions as F

    from data_validator_spark.functions.text import fingerprint60
    from data_validator_spark.queries.dedup import (
        _ensure_findex,
        _incremental_pivot,
        q_dedup_index_refresh,
    )

    rows = [(i, f"plan probe text {i}") for i in range(100)]
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    t = "dv_findex_pytest_plan"
    _findex_drop(spark, t)
    try:
        _ensure_findex(spark, str(tmp_path), table=t)  # build once
        pivot = _incremental_pivot(spark, str(tmp_path))
        delta = (
            spark.read.parquet(str(tmp_path / "documents.parquet"))
            .where(F.col("doc_id") >= F.lit(pivot))
            .select(fingerprint60(F.col("text")).alias("fp60"))
            .distinct()
        )
        anti = delta.join(spark.table(t), "fp60", "left_anti")
        plan = anti._jdf.queryExecution().executedPlan().toString()
        # pivot literal pushed into the delta documents scan
        assert f"GreaterThanOrEqual(doc_id,{pivot})" in plan
        # the index side is the bucketed table scan: Spark annotates
        # bucketed FileScans with the selected bucket count
        assert "Bucketed: true" in plan, plan
        # run the real refresh end-to-end for the same dataset too
        out = q_dedup_index_refresh(spark, str(tmp_path), table=t).collect()
        assert sum(r["n_fingerprints"] for r in out) == 100
    finally:
        _findex_drop(spark, t)


def _findex_digest_of(spark, doc_path):
    """Ground-truth digest recomputed from scratch over the current
    corpus (what the oracle does)."""
    from pyspark.sql import functions as F

    from data_validator_spark.functions.text import fingerprint60
    from data_validator_spark.queries.dedup import (
        FINDEX_DIGEST_BUCKETS,
        FINDEX_MOD,
    )

    full = (
        spark.read.parquet(str(doc_path))
        .select(fingerprint60(F.col("text")).alias("fp60"))
        .distinct()
        .groupBy(
            F.pmod(F.col("fp60"), F.lit(FINDEX_DIGEST_BUCKETS)).cast("int").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_fingerprints"),
            F.sum(F.pmod(F.col("fp60"), F.lit(FINDEX_MOD))).alias("digest"),
        )
    )
    return sorted(tuple(r) for r in full.collect())


def test_findex_watermark_rebuilds_on_corpus_change(spark, tmp_path):
    """ADVICE r10: a stale index table must never be trusted. Two
    divergence paths, both closed by the corpus watermark:
    (a) in-session rewrite at the same path (table still registered) —
        after evict_session_caches the next refresh must rebuild, not
        serve stale fingerprints;
    (b) cross-session append (catalog entry gone, files remain) — the
        re-registration fast path must be REFUSED when the corpus
        grew, since docs between the old and new pivots would
        otherwise go unindexed."""
    from data_validator_spark.queries import evict_session_caches
    from data_validator_spark.queries.dedup import q_dedup_index_refresh

    d = tmp_path / "documents.parquet"
    rows1 = [(i, f"watermark corpus v1 text {i % 17}") for i in range(50)]
    spark.createDataFrame(rows1, "doc_id long, text string").coalesce(1).write.parquet(
        str(d)
    )
    t = "dv_findex_pytest_watermark"
    _findex_drop(spark, t)
    try:
        first = sorted(
            tuple(r)
            for r in q_dedup_index_refresh(spark, str(tmp_path), table=t).collect()
        )
        assert first == _findex_digest_of(spark, d)

        # (a) rewrite in place: table registered, corpus replaced
        rows2 = [(i, f"watermark corpus v2 text {i % 29}") for i in range(80)]
        spark.createDataFrame(rows2, "doc_id long, text string").coalesce(
            1
        ).write.mode("overwrite").parquet(str(d))
        evict_session_caches(str(tmp_path))
        got = sorted(
            tuple(r)
            for r in q_dedup_index_refresh(spark, str(tmp_path), table=t).collect()
        )
        assert got == _findex_digest_of(spark, d)
        assert sum(r[1] for r in got) == 29  # v1's 17 texts are GONE

        # (b) cross-session append: drop catalog entry, grow corpus so
        # the new pivot exceeds the old covered range
        spark.sql(f"DROP TABLE {t}")
        rows3 = rows2 + [(i, f"appended text {i}") for i in range(80, 200)]
        spark.createDataFrame(rows3, "doc_id long, text string").coalesce(
            1
        ).write.mode("overwrite").parquet(str(d))
        evict_session_caches(str(tmp_path))
        got = sorted(
            tuple(r)
            for r in q_dedup_index_refresh(spark, str(tmp_path), table=t).collect()
        )
        assert got == _findex_digest_of(spark, d)
        assert sum(r[1] for r in got) == 29 + 120
    finally:
        _findex_drop(spark, t)
        evict_session_caches(str(tmp_path))


def _bindex_drop(spark, table):
    import re
    import shutil

    spark.sql(f"DROP TABLE IF EXISTS {table}")
    wh = re.sub(r"^file:/*", "/", spark.conf.get("spark.sql.warehouse.dir"))
    shutil.rmtree(f"{wh}/{table}", ignore_errors=True)


def test_band_index_refresh_equals_rebuild(spark, tmp_path):
    """r11 stretch (r10 verdict item 7): after a build-at-pivot + delta
    refresh, the persisted BAND index must hold exactly the distinct
    (sig64, doc_id) postings of the full corpus — refresh ≡ rebuild —
    and repeated refreshes must be no-ops. Ground truth recomputed
    from the same band relation the production path uses."""
    from pyspark.sql import functions as F

    from data_validator_spark.queries import evict_session_caches
    from data_validator_spark.queries.dedup import (
        FINDEX_DIGEST_BUCKETS,
        FINDEX_MOD,
        _band_df,
        _sig64_col,
        q_dedup_band_index_refresh,
    )

    rows = [(i, f"band index corpus text number {i % 37} padded") for i in range(100)]
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    t = "dv_bindex_pytest_rebuild"
    _bindex_drop(spark, t)
    try:
        got = sorted(
            tuple(r)
            for r in q_dedup_band_index_refresh(spark, str(tmp_path), table=t).collect()
        )
        want = sorted(
            tuple(r)
            for r in (
                _band_df(spark, str(tmp_path))
                .select(_sig64_col().alias("sig64"), "doc_id")
                .distinct()
                .groupBy(
                    F.pmod(F.col("sig64"), F.lit(FINDEX_DIGEST_BUCKETS))
                    .cast("int")
                    .alias("bucket")
                )
                .agg(
                    F.count(F.lit(1)).alias("n_postings"),
                    F.countDistinct("doc_id").alias("n_docs"),
                    F.sum(F.pmod(F.col("sig64"), F.lit(FINDEX_MOD))).alias("digest_sig"),
                    F.sum(F.pmod(F.col("doc_id"), F.lit(FINDEX_MOD))).alias("digest_doc"),
                )
                .collect()
            )
        )
        assert got == want
        # all 100 docs posted, 16 bands each
        assert sum(r[1] for r in got) == 100 * 16
        # idempotent: a second refresh appends nothing
        again = sorted(
            tuple(r)
            for r in q_dedup_band_index_refresh(spark, str(tmp_path), table=t).collect()
        )
        assert again == got
        # cross-session: catalog entry gone, files + current watermark
        # remain -> metadata-only re-register, same digest
        spark.sql(f"DROP TABLE {t}")
        third = sorted(
            tuple(r)
            for r in q_dedup_band_index_refresh(spark, str(tmp_path), table=t).collect()
        )
        assert third == got
    finally:
        _bindex_drop(spark, t)
        evict_session_caches(str(tmp_path))


def test_rp_jl_census_matches_numpy(spark, tmp_path):
    """embedding_rp_jl: the JL distortion census must match a direct
    numpy recomputation with the same ±1 planes on a synthetic
    embeddings table (zero-norm vector excluded)."""
    import numpy as np

    from data_validator_spark.queries.similarity import (
        DIM,
        PLANES,
        RP_BUCKETS,
        RP_DIM,
        q_embedding_rp_jl,
    )

    rng = np.random.RandomState(7)
    n = 50
    V = rng.randn(n, DIM)
    V[0] = 0.0  # zero-norm: must be excluded
    rows = [(i, [float(x) for x in V[i]], int(i % 3)) for i in range(n)]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.parquet(str(tmp_path / "embeddings.parquet"))
    got = {r["bucket"]: r for r in q_embedding_rp_jl(spark, str(tmp_path)).collect()}
    # numpy twin (float32-cast first, like the parquet round trip)
    Vd = V.astype(np.float32).astype(np.float64)
    P = np.array(PLANES[:RP_DIM])
    exp: dict[int, list] = {}
    for i in range(1, n):
        orig = float((Vd[i] * Vd[i]).sum())
        est = float(((P @ Vd[i]) ** 2).sum()) / RP_DIM
        rm = int(np.floor(est / orig * 1e6 + 0.5))
        b = min(RP_BUCKETS - 1, rm // 100000)
        exp.setdefault(b, []).append(rm / 1e6)
    assert set(got) == set(exp)
    for b, ratios in exp.items():
        assert got[b]["n_vecs"] == len(ratios)
        assert abs(got[b]["mean_ratio"] - sum(ratios) / len(ratios)) < 1e-6


def test_rp_jl_plan_is_join_free(spark):
    from data_validator_spark.queries.similarity import q_embedding_rp_jl

    plan = _executed_plan(q_embedding_rp_jl(spark, SF))
    assert "Join" not in plan  # pure map + aggregate


def test_bloom_negative_rows_bypass_index_join(spark, tmp_path):
    """All-novel delta: every row must be decided without the exact
    index join contributing matches (dup_of_corpus all zero), and the
    result keeps every doc."""
    rows = [(i, f"text {i}") for i in range(40)]
    d = tmp_path / "documents.parquet"
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(
        str(d)
    )
    out = q_dedup_incremental(spark, str(tmp_path))
    agg = out.agg(
        F.sum("dup_of_corpus").alias("dc"),
        F.sum("dup_in_delta").alias("dd"),
        F.sum("keep").alias("k"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    assert agg["dc"] == 0 and agg["dd"] == 0
    assert agg["k"] == agg["n"] == 4  # pivot = floor(40*0.9) = 36


def test_source_overlap_planted_cross_source_dup(spark, tmp_path):
    """source_overlap: a planted near-identical doc pair spanning two
    sources must surface as a candidate AND a confirmed near-dup in
    the (src_a, src_b) cell; unrelated docs contribute nothing."""
    from pyspark.sql import Row

    from data_validator_spark.queries.dedup import q_source_overlap

    base = (
        "the quick brown fox jumps over the lazy dog again and again "
        "while the river runs past the old mill near the quiet town"
    )
    rows = [
        Row(doc_id=0, text=base, source="srcA"),
        Row(doc_id=1, text=base + " extra tail", source="srcB"),  # near-dup of 0
    ]
    rows += [
        Row(
            doc_id=i,
            text=f"completely unrelated document number {i} with its own "
            f"words token{i}a token{i}b token{i}c token{i}d",
            source="srcC",
        )
        for i in range(2, 12)
    ]
    spark.createDataFrame(rows).coalesce(1).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    out = {(r["src_a"], r["src_b"]): r for r in q_source_overlap(spark, str(tmp_path)).collect()}
    assert ("srcA", "srcB") in out
    cell = out[("srcA", "srcB")]
    assert cell["n_candidates"] >= 1 and cell["n_confirmed"] >= 1
    # no unrelated doc pairs up as a candidate anywhere
    assert all(k == ("srcA", "srcB") for k in out), out


def test_incremental_minhash_planted_near_dup(spark, tmp_path):
    """dedup_incremental_minhash: a delta doc that near-duplicates a
    corpus doc (same text + small tail) must flag near_dup with the
    corpus doc as best_match; novel delta docs flag clean."""
    from data_validator_spark.queries.dedup import q_dedup_incremental_minhash

    base = (
        "the quick brown fox jumps over the lazy dog again and again "
        "while the river runs past the old mill near the quiet town"
    )
    # max_id=19 -> pivot = floor(20 * 0.9) = 18: corpus 0..17 (the
    # original at id 3), delta {18, 19} with the near-dup at 18
    rows = [(i, f"unrelated corpus doc {i} token{i}x token{i}y token{i}z") for i in range(18)]
    rows[3] = (3, base)
    rows += [
        (18, base + " freshly appended"),  # delta near-dup of corpus doc 3
        (19, "a wholly novel delta document with its own vocabulary"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    out = {r["doc_id"]: r for r in q_dedup_incremental_minhash(spark, str(tmp_path)).collect()}
    assert set(out) == {18, 19}  # pivot = floor(20*0.9) = 18
    assert out[18]["near_dup"] == 1 and out[18]["best_match"] == 3
    assert out[18]["n_candidates"] >= 1 and out[18]["n_confirmed"] >= 1
    assert out[19]["near_dup"] == 0 and out[19]["best_match"] is None
    assert out[19]["n_candidates"] == 0


def test_incremental_minhash_reads_persisted_band_index(spark, tmp_path):
    """r13: the screen's corpus side must come from the at-rest
    bucketed band index (zero corpus-side shingle/minhash recompute),
    and a band-index REFRESH that appends delta postings to that same
    table must not leak delta docs into the candidate set — the
    doc_id < pivot filter serves exactly the corpus postings in both
    table states."""
    from data_validator_spark.queries.dedup import (
        q_dedup_band_index_refresh,
        q_dedup_incremental_minhash,
    )

    base = (
        "the quick brown fox jumps over the lazy dog again and again "
        "while the river runs past the old mill near the quiet town"
    )
    rows = [(i, f"unrelated corpus doc {i} token{i}x token{i}y token{i}z") for i in range(18)]
    rows[3] = (3, base)
    rows += [
        (18, base + " freshly appended"),  # near-dups corpus doc 3 AND delta 19
        (19, base + " freshly appended too"),  # near-dups 3 and 18
    ]
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    sf = str(tmp_path)
    plan = (
        q_dedup_incremental_minhash(spark, sf)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "dv_dedup_bindex_" in plan
    before = {r["doc_id"]: r for r in q_dedup_incremental_minhash(spark, sf).collect()}
    # refresh appends delta postings (18, 19) to the SAME table
    q_dedup_band_index_refresh(spark, sf).collect()
    after = {r["doc_id"]: r for r in q_dedup_incremental_minhash(spark, sf).collect()}
    assert before == after  # delta postings must not become candidates
    # 18 and 19 near-dup each other, but only corpus doc 3 may match
    for d in (18, 19):
        assert after[d]["near_dup"] == 1 and after[d]["best_match"] == 3
    # steady state (r17): with the delta postings merged, the screen's
    # candidate generation serves the DELTA bands from the index too —
    # the plan's only Python stage is the Jaccard confirm side
    # (shingle arrays), never a delta minhash recompute; band
    # derivation (explode of the 16-band struct array) is gone
    steady_plan = (
        q_dedup_incremental_minhash(spark, sf)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Generate explode(array(struct(band" not in steady_plan


def test_ngram_novelty_planted(spark, tmp_path):
    """ngram_novelty: a doc that repeats an earlier doc's text owns
    none of its shingles; a wholly novel doc owns all of them."""
    from data_validator_spark.queries.dedup import q_ngram_novelty

    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    )
    rows = [
        (0, base, "srcA"),
        (1, base, "srcB"),  # exact repeat: zero novelty
        (2, "one two three four five six seven eight nine ten", "srcC"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string, source string").coalesce(
        1
    ).write.parquet(str(tmp_path / "documents.parquet"))
    out = {r["source"]: r for r in q_ngram_novelty(spark, str(tmp_path)).collect()}
    assert out["srcA"]["novelty_share"] == 1.0  # first owner of everything
    assert out["srcB"]["novelty_share"] == 0.0  # repeats srcA verbatim
    assert out["srcB"]["n_novel"] == 0
    assert out["srcC"]["novelty_share"] == 1.0  # disjoint vocabulary
    assert out["srcC"]["mean_doc_novelty"] == 1.0


def test_quality_calibration_totals_and_bounds(spark):
    """quality_calibration: bins partition the corpus exactly (totals
    match the ensemble relation), every rate sits in [0,1], and
    n_keep/n_docs reproduces keep_rate."""
    from data_validator_spark.queries.quality_ops import (
        CALIB_BINS,
        q_quality_calibration,
        q_quality_ensemble,
    )

    rows = q_quality_calibration(spark, SF).collect()
    n_total = q_quality_ensemble(spark, SF).count()
    assert sum(r["n_docs"] for r in rows) == n_total
    for r in rows:
        assert 0 <= r["score_bin"] < CALIB_BINS
        for c in ("keep_rate", "gopher_rate", "ent_rate", "lm_rate"):
            assert 0.0 <= r[c] <= 1.0, (r["score_bin"], c, r[c])
        assert abs(r["keep_rate"] - round(r["n_keep"] / r["n_docs"], 6)) < 1e-9


def test_band_refresh_steady_state_skips_probe_and_append(spark, tmp_path):
    """r16 (r15 verdict item 5): a repeated band-index refresh under an
    unchanged corpus watermark must not touch the table — no empty-
    delta append job (observable: the table directory's file set is
    byte-identical) — and must still emit the same digest. A manual
    table drop (no corpus change) must clear the refresh stamp so the
    rebuilt table is refreshed, not trusted."""
    import os

    from data_validator_spark.queries import evict_session_caches
    from data_validator_spark.operators.bucketing import copy_path
    from data_validator_spark.queries.dedup import q_dedup_band_index_refresh

    d = tmp_path / "documents.parquet"
    rows = [(i, f"steady state text {i % 13}") for i in range(60)]
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(
        str(d)
    )
    t = "dv_bindex_pytest_steady"
    _findex_drop(spark, t)
    try:
        def snap(path):
            return sorted(
                (f, os.path.getsize(os.path.join(path, f)))
                for f in os.listdir(path)
                if f.endswith(".parquet")
            )

        first = sorted(
            tuple(r)
            for r in q_dedup_band_index_refresh(spark, str(tmp_path), table=t).collect()
        )
        path = copy_path(spark, t)
        files_after_first = snap(path)
        second = sorted(
            tuple(r)
            for r in q_dedup_band_index_refresh(spark, str(tmp_path), table=t).collect()
        )
        assert second == first
        assert snap(path) == files_after_first  # no empty append happened

        # manual drop without a corpus change: the rebuild writes a
        # fresh sidecar without the refresh stamp, so the refresh
        # appends the delta again instead of trusting the old stamp
        spark.sql(f"DROP TABLE {t}")
        import shutil

        shutil.rmtree(path, ignore_errors=True)
        third = sorted(
            tuple(r)
            for r in q_dedup_band_index_refresh(spark, str(tmp_path), table=t).collect()
        )
        assert third == first
    finally:
        _findex_drop(spark, t)
        evict_session_caches(str(tmp_path))


def _bindex_digest_of(spark, sf):
    """Ground-truth band-index digest recomputed from scratch over the
    current corpus (every (sig64, doc_id) posting, no index)."""
    from data_validator_spark.queries.dedup import (
        FINDEX_DIGEST_BUCKETS,
        FINDEX_MOD,
        _band_df,
        _sig64_col,
    )

    full = (
        _band_df(spark, sf)
        .select(_sig64_col().alias("sig64"), "doc_id")
        .distinct()
        .groupBy(
            F.pmod(F.col("sig64"), F.lit(FINDEX_DIGEST_BUCKETS)).cast("int").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_postings"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.sum(F.pmod(F.col("sig64"), F.lit(FINDEX_MOD))).alias("digest_sig"),
            F.sum(F.pmod(F.col("doc_id"), F.lit(FINDEX_MOD))).alias("digest_doc"),
        )
    )
    return sorted(tuple(r) for r in full.collect())


def _parquet_files(path):
    import os

    return sorted(
        (f, os.path.getsize(os.path.join(path, f)))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


def test_band_refresh_completes_half_committed_append(spark, tmp_path):
    """A job commit killed part-way leaves some of an append's bucket
    files in the index directory and no record that the append ran.
    The next refresh (a new process: catalog entry and session caches
    gone, files in place) must add exactly the postings still missing,
    so its digest equals a rebuild's — not skip the delta because the
    landed files already reach the corpus max doc_id."""
    import shutil

    from data_validator_spark.operators.bucketing import copy_path, write_bucketed
    from data_validator_spark.queries import evict_session_caches
    from data_validator_spark.queries.dedup import (
        BINDEX_BUCKETS,
        _band_df,
        _ensure_bindex,
        _sig64_col,
        q_dedup_band_index_refresh,
    )

    rows = [(i, f"half committed corpus text number {i % 37} padded") for i in range(100)]
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    sf = str(tmp_path)
    t, partial = "dv_bindex_pytest_partial", "dv_bindex_pytest_partial_delta"
    _bindex_drop(spark, t)
    try:
        _ensure_bindex(spark, sf, table=t)  # built at the pivot
        pivot = _incremental_pivot(spark, sf)
        delta = (
            _band_df(spark, sf)
            .where(F.col("doc_id") >= F.lit(pivot))
            .select(_sig64_col().alias("sig64"), "doc_id")
            .distinct()
        )
        write_bucketed(delta, partial, ["sig64"], BINDEX_BUCKETS, path=str(tmp_path / "delta"))
        landed = [f for f, _ in _parquet_files(str(tmp_path / "delta"))]
        assert len(landed) == BINDEX_BUCKETS
        for f in landed[: BINDEX_BUCKETS // 2]:
            shutil.copy(tmp_path / "delta" / f, copy_path(spark, t))
        spark.sql(f"DROP TABLE {partial}")
        spark.sql(f"DROP TABLE {t}")
        evict_session_caches(sf)

        got = sorted(
            tuple(r) for r in q_dedup_band_index_refresh(spark, sf, table=t).collect()
        )
        assert sum(r[1] for r in got) == 100 * 16
        assert got == _bindex_digest_of(spark, sf)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {partial}")
        _bindex_drop(spark, t)
        evict_session_caches(str(tmp_path))


def test_text_only_rewrite_refreshes_both_indexes(spark, tmp_path):
    """A rewrite of documents that keeps every doc_id and the row count
    but changes text leaves count and max doc_id as they were; the
    source-file signature in the corpus watermark still moves, so both
    persisted indexes are rebuilt and refreshed to the new corpus. No
    evict_session_caches call: the session caches follow the same
    signature."""
    from data_validator_spark.queries import evict_session_caches
    from data_validator_spark.queries.dedup import (
        q_dedup_band_index_refresh,
        q_dedup_index_refresh,
    )

    d = tmp_path / "documents.parquet"
    sf = str(tmp_path)
    tf, tb = "dv_findex_pytest_textonly", "dv_bindex_pytest_textonly"
    _findex_drop(spark, tf)
    _bindex_drop(spark, tb)

    def refresh_both():
        f = sorted(tuple(r) for r in q_dedup_index_refresh(spark, sf, table=tf).collect())
        b = sorted(tuple(r) for r in q_dedup_band_index_refresh(spark, sf, table=tb).collect())
        return f, b

    try:
        rows1 = [(i, f"text only corpus v1 number {i % 17} padded") for i in range(50)]
        spark.createDataFrame(rows1, "doc_id long, text string").coalesce(1).write.parquet(
            str(d)
        )
        assert refresh_both() == (_findex_digest_of(spark, d), _bindex_digest_of(spark, sf))

        rows2 = [(i, f"text only corpus v2 number {i % 23} padded") for i in range(50)]
        spark.createDataFrame(rows2, "doc_id long, text string").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(d))
        f, b = refresh_both()
        assert f == _findex_digest_of(spark, d)
        assert sum(r[1] for r in f) == 23
        assert b == _bindex_digest_of(spark, sf)
    finally:
        _findex_drop(spark, tf)
        _bindex_drop(spark, tb)
        evict_session_caches(str(tmp_path))


@pytest.mark.parametrize("kind", ["findex", "bindex"])
def test_index_refresh_steady_state_across_sessions(spark, tmp_path, kind):
    """A refreshed index stays refreshed in a new process: after the
    catalog entry and every session cache are gone (files in place), a
    second refresh appends nothing — the file set is unchanged — and
    gives the same digest."""
    from data_validator_spark.operators.bucketing import copy_path
    from data_validator_spark.queries import evict_session_caches
    from data_validator_spark.queries.dedup import (
        q_dedup_band_index_refresh,
        q_dedup_index_refresh,
    )

    refresh = {"findex": q_dedup_index_refresh, "bindex": q_dedup_band_index_refresh}[kind]
    rows = [(i, f"steady across sessions text {i % 19}") for i in range(80)]
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    sf = str(tmp_path)
    t = f"dv_{kind}_pytest_across"
    _bindex_drop(spark, t)
    try:
        first = sorted(tuple(r) for r in refresh(spark, sf, table=t).collect())
        files = _parquet_files(copy_path(spark, t))
        spark.sql(f"DROP TABLE {t}")
        evict_session_caches(sf)
        second = sorted(tuple(r) for r in refresh(spark, sf, table=t).collect())
        assert second == first
        assert _parquet_files(copy_path(spark, t)) == files
    finally:
        _bindex_drop(spark, t)
        evict_session_caches(str(tmp_path))
