"""Bucketed co-located join: the executed plan must contain zero
Exchange when both sides are bucketed on the join key with the same
bucket count (the 100 TB fact⨝fact pattern from SURVEY §4)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_validator_spark.operators.bucketing import (
    assert_colocated,
    bucketed_join,
    write_bucketed,
)


@pytest.fixture()
def bucketed_pair(spark, tmp_path):
    left = spark.range(0, 10_000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("a")
    )
    right = spark.range(0, 10_000, 2).select(
        F.col("id").alias("k"), (F.col("id") % 11).alias("b")
    )
    write_bucketed(left, "bk_left", ["k"], 8, path=str(tmp_path / "l"))
    write_bucketed(right, "bk_right", ["k"], 8, path=str(tmp_path / "r"))
    yield "bk_left", "bk_right"
    spark.sql("DROP TABLE IF EXISTS bk_left")
    spark.sql("DROP TABLE IF EXISTS bk_right")


def test_bucketed_join_has_no_exchange(spark, bucketed_pair):
    ln, rn = bucketed_pair
    joined = bucketed_join(spark, ln, rn, ["k"])
    assert_colocated(joined)  # raises if any Exchange is planned
    assert joined.count() == 5_000


def test_assert_colocated_catches_mismatched_buckets(spark, tmp_path):
    df = spark.range(100).select(F.col("id").alias("k"))
    write_bucketed(df, "bk_m1", ["k"], 4, path=str(tmp_path / "m1"))
    write_bucketed(df, "bk_m2", ["k"], 6, path=str(tmp_path / "m2"))
    try:
        joined = bucketed_join(spark, "bk_m1", "bk_m2", ["k"])
        with pytest.raises(AssertionError, match="NOT co-located"):
            assert_colocated(joined)
    finally:
        spark.sql("DROP TABLE IF EXISTS bk_m1")
        spark.sql("DROP TABLE IF EXISTS bk_m2")


# -- persisted bucketed fact tables (r11) -----------------------------------
def _mini_facts(spark, tmp_path, n=200):
    (
        spark.range(n)
        .select(
            F.col("id").alias("l_orderkey"),
            (F.col("id") % 13).alias("l_suppkey"),
            (F.col("id") * 2.0).alias("l_extendedprice"),
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(str(tmp_path / "lineitem.parquet"))
    )
    (
        spark.range(n)
        .select(F.col("id").alias("o_orderkey"), (F.col("id") % 7).alias("o_custkey"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(str(tmp_path / "orders.parquet"))
    )


def _drop_fact_tables(spark, sf):
    import re
    import shutil

    from data_validator_spark.queries import evict_session_caches

    tag = re.sub(r"[^0-9a-zA-Z]+", "_", str(sf)).strip("_").lower()
    wh = re.sub(r"^file:/*", "/", spark.conf.get("spark.sql.warehouse.dir"))
    for name, key in (
        ("lineitem", "l_orderkey"),
        ("orders", "o_orderkey"),
        ("orders", "o_custkey"),
        ("customer", "c_custkey"),
    ):
        t = f"dv_bkt_{name}_{key}_{tag}"
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
    evict_session_caches(str(sf))


def test_ensure_bucketed_fact_join_is_colocated(spark, tmp_path):
    """The q7/q9 foundation: both bucketed fact scans must meet in a
    zero-exchange SMJ (at 100 TB those two orderkey shuffles are the
    query cost — this plan property is the whole point)."""
    from data_validator_spark.operators.bucketing import (
        assert_colocated,
        ensure_bucketed_fact,
    )

    _mini_facts(spark, tmp_path)
    sf = str(tmp_path)
    try:
        lt = ensure_bucketed_fact(spark, sf, "lineitem", "l_orderkey")
        ot = ensure_bucketed_fact(spark, sf, "orders", "o_orderkey")
        li, orders = spark.table(lt), spark.table(ot)
        joined = li.hint("merge").join(
            orders, li.l_orderkey == orders.o_orderkey
        )
        assert_colocated(joined)
        assert joined.count() == 200
    finally:
        _drop_fact_tables(spark, sf)


# -- persisted bucketed lineitem_ext (r13: q12/q21 wiring) -------------------
def _mini_lineitem(spark, tmp_path, n=200):
    (
        spark.range(n)
        .select(
            F.col("id").alias("l_orderkey"),
            (F.col("id") % 4 + 1).alias("l_linenumber"),
            (F.col("id") % 20).alias("l_partkey"),
            (F.col("id") % 13).alias("l_suppkey"),
            (F.col("id") % 50 + 1.0).alias("l_quantity"),
            F.to_date(F.lit("1997-06-01")).alias("l_shipdate"),
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(str(tmp_path / "lineitem.parquet"))
    )


def _drop_ext_table(spark, sf):
    import re
    import shutil

    from data_validator_spark.queries import evict_session_caches

    tag = re.sub(r"[^0-9a-zA-Z]+", "_", str(sf)).strip("_").lower()
    wh = re.sub(r"^file:/*", "/", spark.conf.get("spark.sql.warehouse.dir"))
    t = f"dv_bkt_lineitem_ext_{tag}"
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
    evict_session_caches(str(sf))


def test_bucketed_lineitem_ext_join_is_colocated(spark, tmp_path):
    """The q12/q21 foundation: bucketed lineitem_ext ⨝ bucketed orders
    must meet in a zero-exchange SMJ, and the derived ship columns
    must be real parquet columns in the copy (so q12's mode/receipt
    filters can push down to the scan)."""
    from data_validator_spark.operators.bucketing import (
        assert_colocated,
        ensure_bucketed_fact,
    )
    from data_validator_spark.queries.tpch_ext import ensure_bucketed_lineitem_ext

    _mini_facts(spark, tmp_path)
    _mini_lineitem(spark, tmp_path)
    sf = str(tmp_path)
    try:
        lt = ensure_bucketed_lineitem_ext(spark, sf)
        ot = ensure_bucketed_fact(spark, sf, "orders", "o_orderkey")
        li, orders = spark.table(lt), spark.table(ot)
        for c in ("l_shipmode", "l_shipinstruct", "l_commitdate", "l_receiptdate"):
            assert c in li.columns
        joined = li.hint("merge").join(orders, li.l_orderkey == orders.o_orderkey)
        assert_colocated(joined)
        assert joined.count() == 200
    finally:
        _drop_ext_table(spark, sf)
        _drop_fact_tables(spark, sf)


def test_bucketed_lineitem_ext_rebuilds_on_source_rewrite(spark, tmp_path):
    """The file-signature watermark: a same-path rewrite of
    lineitem.parquet (even to the same shape) changes a size or
    mtime_ns in the sidecar signature, so the copy must rebuild; an
    unchanged source must no-op; a dropped catalog entry over current
    files must re-register metadata-only."""
    from data_validator_spark.queries import evict_session_caches
    from data_validator_spark.queries.tpch_ext import ensure_bucketed_lineitem_ext

    _mini_lineitem(spark, tmp_path, n=100)
    sf = str(tmp_path)
    try:
        t = ensure_bucketed_lineitem_ext(spark, sf)
        assert spark.table(t).count() == 100
        # idempotent while the source is unchanged
        assert ensure_bucketed_lineitem_ext(spark, sf) == t
        _mini_lineitem(spark, tmp_path, n=100)  # same-SHAPE rewrite
        evict_session_caches(sf)
        t2 = ensure_bucketed_lineitem_ext(spark, sf)
        assert spark.table(t2).count() == 100
        # prove it REBUILT (count alone can't tell): the sidecar must
        # now record the rewritten source's signature, which a
        # stale-serve would have left at the old mtime_ns values
        import json as _json
        import os as _os
        import re as _re

        from data_validator_spark.operators.bucketing import BUCKET_SIDECAR
        from data_validator_spark.queries.tpch_ext import _source_signature

        tag = _re.sub(r"[^0-9a-zA-Z]+", "_", sf).strip("_").lower()
        wh = _re.sub(r"^file:/*", "/", spark.conf.get("spark.sql.warehouse.dir"))
        with open(_os.path.join(wh, f"dv_bkt_lineitem_ext_{tag}", BUCKET_SIDECAR)) as f:
            assert _json.load(f)["files"] == _source_signature(
                str(tmp_path / "lineitem.parquet")
            )
        _mini_lineitem(spark, tmp_path, n=150)
        evict_session_caches(sf)
        t3 = ensure_bucketed_lineitem_ext(spark, sf)
        assert spark.table(t3).count() == 150
        # cross-session survival: catalog entry dropped, files remain,
        # watermark current -> metadata-only CREATE TABLE
        spark.sql(f"DROP TABLE {t3}")
        evict_session_caches(sf)
        t4 = ensure_bucketed_lineitem_ext(spark, sf)
        assert spark.table(t4).count() == 150
    finally:
        _drop_ext_table(spark, sf)


def test_bucketed_lineitem_ext_refuses_foreign_name_collision(spark, tmp_path):
    """A catalog table squatting on the dv_bkt_lineitem_ext_* name that
    does NOT match the expected location/bucket spec must raise, never
    be served as the bucketed copy (ADVICE r11)."""
    import pytest as _pytest

    from data_validator_spark.queries import evict_session_caches
    from data_validator_spark.queries.tpch_ext import ensure_bucketed_lineitem_ext

    _mini_lineitem(spark, tmp_path, n=60)
    sf = str(tmp_path)
    try:
        t = ensure_bucketed_lineitem_ext(spark, sf)
        # replace the catalog entry with a foreign, unbucketed table at
        # another location; the on-disk sidecar still matches
        spark.sql(f"DROP TABLE {t}")
        spark.range(5).write.mode("overwrite").option(
            "path", str(tmp_path / "foreign")
        ).saveAsTable(t)
        evict_session_caches(sf)
        with _pytest.raises(RuntimeError, match="foreign table"):
            ensure_bucketed_lineitem_ext(spark, sf)
    finally:
        _drop_ext_table(spark, sf)


def test_ensure_bucketed_fact_watermark_rebuilds_on_source_change(spark, tmp_path):
    """Same-path source rewrite (after evict_session_caches) must
    rebuild the bucketed copy, not serve stale rows — the findex
    watermark rule applied to fact tables. r13: the watermark is the
    file signature, so even a SAME-SHAPE rewrite (identical row count
    and key range — invisible to the old (n_rows, max_key) probe) must
    rebuild."""
    import json
    import os
    import re

    from data_validator_spark.operators.bucketing import (
        BUCKET_SIDECAR,
        _source_signature,
        ensure_bucketed_fact,
    )
    from data_validator_spark.queries import evict_session_caches

    _mini_facts(spark, tmp_path, n=100)
    sf = str(tmp_path)
    try:
        t = ensure_bucketed_fact(spark, sf, "orders", "o_orderkey")
        assert spark.table(t).count() == 100
        # idempotent while the source is unchanged
        assert ensure_bucketed_fact(spark, sf, "orders", "o_orderkey") == t
        _mini_facts(spark, tmp_path, n=100)  # same-SHAPE rewrite
        evict_session_caches(sf)
        t15 = ensure_bucketed_fact(spark, sf, "orders", "o_orderkey")
        assert spark.table(t15).count() == 100
        # prove the REBUILD (count alone can't): the sidecar must track
        # the rewritten source's signature
        wh = re.sub(r"^file:/*", "/", spark.conf.get("spark.sql.warehouse.dir"))
        with open(os.path.join(wh, t15, BUCKET_SIDECAR)) as f:
            assert json.load(f)["files"] == _source_signature(
                str(tmp_path / "orders.parquet")
            )
        _mini_facts(spark, tmp_path, n=150)  # rewrite at the same path
        evict_session_caches(sf)
        t2 = ensure_bucketed_fact(spark, sf, "orders", "o_orderkey")
        assert spark.table(t2).count() == 150
        # cross-session survival: catalog entry dropped, files remain,
        # watermark current -> metadata-only re-registration
        spark.sql(f"DROP TABLE {t2}")
        t3 = ensure_bucketed_fact(spark, sf, "orders", "o_orderkey")
        assert spark.table(t3).count() == 150
    finally:
        _drop_fact_tables(spark, sf)


def test_source_signature_refuses_empty(tmp_path):
    """ADVICE r13: a missing/non-local source must RAISE, not record a
    constant empty watermark (which would serve a rewritten source
    stale forever with no error)."""
    from data_validator_spark.operators.bucketing import _source_signature

    with pytest.raises(FileNotFoundError):
        _source_signature(str(tmp_path / "does_not_exist.parquet"))
    empty = tmp_path / "empty_dir.parquet"
    empty.mkdir()
    with pytest.raises(FileNotFoundError):
        _source_signature(str(empty))


def test_two_layouts_of_one_table_coexist(spark, tmp_path):
    """r15: orders carries TWO at-rest layouts (o_orderkey for the
    fact⨝fact meets, o_custkey for the per-customer family). The key
    is part of the table name, so requesting one layout must never
    invalidate or rebuild the other (the r14 single-name scheme would
    have thrashed: each request rewrote the copy with the other key)."""
    import json as _json
    import os as _os

    from data_validator_spark.operators.bucketing import (
        BUCKET_SIDECAR,
        ensure_bucketed_fact,
    )

    _mini_facts(spark, tmp_path, n=120)
    sf = str(tmp_path)
    try:
        t_ord = ensure_bucketed_fact(spark, sf, "orders", "o_orderkey")
        t_cust = ensure_bucketed_fact(spark, sf, "orders", "o_custkey")
        assert t_ord != t_cust
        wh = _re_wh(spark)
        sc = _os.path.join(wh, t_ord, BUCKET_SIDECAR)
        before = _os.stat(sc).st_mtime_ns
        with open(sc) as f:
            assert _json.load(f)["key"] == "o_orderkey"
        # re-requesting the OTHER layout must not touch this one
        assert ensure_bucketed_fact(spark, sf, "orders", "o_custkey") == t_cust
        assert ensure_bucketed_fact(spark, sf, "orders", "o_orderkey") == t_ord
        assert _os.stat(sc).st_mtime_ns == before
        assert spark.table(t_cust).count() == 120
    finally:
        _drop_fact_tables(spark, sf)


def _re_wh(spark):
    import re

    return re.sub(r"^file:/*", "/", spark.conf.get("spark.sql.warehouse.dir"))


def _plain_parquet(path, offset: int, n: int = 400):
    """A parquet file whose size is offset-independent: two int64
    columns, dictionary encoding off, no compression — shifting every
    value changes bytes (and footer stats) but not the file length."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pa.table(
        {
            "o_orderkey": pa.array(range(n), pa.int64()),
            "o_custkey": pa.array([offset + i for i in range(n)], pa.int64()),
        }
    )
    pq.write_table(t, path, use_dictionary=False, compression="NONE")


def test_content_watermark_catches_mtime_preserving_rewrite(spark, tmp_path):
    """ADVICE r14: the stat signature (relname, size, mtime_ns) is
    blind to a same-size rewrite that restores mtime (cp -p, restore
    tools). A verify="footer" consumer must verify parquet footer
    digests and rebuild; the stat-only path serves the copy (that is
    its documented guarantee, asserted here so the gap stays visible)."""
    import os as _os

    from data_validator_spark.operators.bucketing import ensure_bucketed_fact
    from data_validator_spark.queries import evict_session_caches

    src = tmp_path / "orders.parquet"
    _plain_parquet(str(src), offset=0)
    sf = str(tmp_path)
    try:
        t = ensure_bucketed_fact(spark, sf, "orders", "o_orderkey", verify="footer")
        assert spark.table(t).agg({"o_custkey": "max"}).collect()[0][0] == 399
        st = _os.stat(src)
        _plain_parquet(str(src), offset=1000)  # value-visible rewrite...
        assert _os.stat(src).st_size == st.st_size  # ...at the same size
        _os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns))  # ...and mtime
        evict_session_caches(sf)
        # stat-only consumers cannot see this rewrite — documented gap
        assert (
            ensure_bucketed_fact(spark, sf, "orders", "o_orderkey") == t
        )
        # the content-verified path must catch it and rebuild
        ensure_bucketed_fact(spark, sf, "orders", "o_orderkey", verify="footer")
        evict_session_caches(sf)
        assert spark.table(t).agg({"o_custkey": "max"}).collect()[0][0] == 1399
    finally:
        _drop_fact_tables(spark, sf)


def test_bucketed_fact_degrades_to_raw_reader_when_unsignable(
    spark, tmp_path, monkeypatch
):
    """ADVICE r14 (medium): a source whose files os.walk cannot list
    (s3://, hdfs://) must keep WORKING — bucketed_fact serves load()
    with a warning instead of raising, losing only the at-rest layout."""
    import data_validator_spark.operators.bucketing as bk

    _mini_facts(spark, tmp_path, n=80)
    sf = str(tmp_path)

    def _unsignable(path):
        raise FileNotFoundError(f"pretend {path} is s3://")

    monkeypatch.setattr(bk, "_source_signature", _unsignable)
    with pytest.warns(RuntimeWarning, match="raw reader"):
        df = bk.bucketed_fact(spark, sf, "orders", "o_orderkey")
    assert df.count() == 80


def test_events_user_copy_serves_identical_relation(spark):
    """The user_id-bucketed events copy must be indistinguishable from
    load(): same schema (TIMESTAMP(NANOS) normalization baked in at
    build) and the exact same rows — the behavioral family's
    correctness rides this identity."""
    from data_validator_spark.queries import load, load_events_by_user

    sf = "/root/testdata/sf0.001"
    raw = load(spark, sf, "events")
    bkt = load_events_by_user(spark, sf)
    assert [(f.name, f.dataType.simpleString()) for f in bkt.schema] == [
        (f.name, f.dataType.simpleString()) for f in raw.schema
    ]
    assert bkt.count() == raw.count()
    assert bkt.exceptAll(raw).count() == 0 and raw.exceptAll(bkt).count() == 0


def test_content_consumer_accepts_stat_only_build_without_thrash(spark, tmp_path):
    """Builds always RECORD footer digests, so a stat-only build
    followed by a verify="footer" consumer must serve the same copy
    without a rebuild (the alternating-consumer thrash this design
    exists to prevent), and vice versa."""
    import os as _os

    from data_validator_spark.operators.bucketing import (
        BUCKET_SIDECAR,
        ensure_bucketed_fact,
    )

    _mini_facts(spark, tmp_path, n=90)
    sf = str(tmp_path)
    try:
        t = ensure_bucketed_fact(spark, sf, "orders", "o_orderkey")  # stat-only build
        sc = _os.path.join(_re_wh(spark), t, BUCKET_SIDECAR)
        before = _os.stat(sc).st_mtime_ns
        # content consumer: must verify via recorded footers, not rebuild
        assert ensure_bucketed_fact(
            spark, sf, "orders", "o_orderkey", verify="footer"
        ) == t
        # stat-only consumer again: also no rebuild
        assert ensure_bucketed_fact(spark, sf, "orders", "o_orderkey") == t
        assert _os.stat(sc).st_mtime_ns == before
    finally:
        _drop_fact_tables(spark, sf)


def test_query_stays_correct_in_degrade_mode(spark, monkeypatch):
    """End-to-end guard for the ADVICE r14 scenario: with the source
    unsignable (remote storage), a behavioral-family query must still
    produce EXACTLY the rows it produces off the bucketed copy — only
    the layout is lost, never the answer."""
    import data_validator_spark.operators.bucketing as bk
    from data_validator_spark.queries import build_registry

    q, _ = build_registry()
    sf = "/root/testdata/sf0.001"
    want = sorted(map(tuple, q["events_sessionized"](spark, sf).collect()))

    real = bk._source_signature

    def _unsignable(path):
        raise FileNotFoundError(f"pretend {path} is s3://")

    monkeypatch.setattr(bk, "_source_signature", _unsignable)
    with pytest.warns(RuntimeWarning, match="raw reader"):
        got = sorted(map(tuple, q["events_sessionized"](spark, sf).collect()))
    monkeypatch.setattr(bk, "_source_signature", real)
    assert got == want


# -- generalized derived-relation copies (r15: q19's partkey layout) ---------
def _drop_derived_tables(spark, sf):
    import re
    import shutil

    from data_validator_spark.queries import evict_session_caches

    tag = re.sub(r"[^0-9a-zA-Z]+", "_", str(sf)).strip("_").lower()
    wh = _re_wh(spark)
    for t in (
        f"dv_bkt_lineitem_ext_l_partkey_{tag}",
        f"dv_bkt_part_ext_p_partkey_{tag}",
    ):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
    evict_session_caches(str(sf))


def _mini_part(spark, tmp_path, n=80):
    (
        spark.range(n)
        .select(
            F.col("id").alias("p_partkey"),
            F.concat(F.lit("Brand#"), (F.col("id") % 5).cast("string")).alias("p_brand"),
            (F.col("id") % 50 + 1).cast("int").alias("p_size"),
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(str(tmp_path / "part.parquet"))
    )


def test_derived_partkey_copies_join_colocated_and_rebuild_on_rewrite(
    spark, tmp_path
):
    """The generalized derived-copy builder must (a) give a
    zero-exchange SMJ between the two partkey ext copies, (b) carry
    the derived columns as real parquet columns, and (c) rebuild on a
    same-path source rewrite exactly like the raw-fact copies — the
    sidecar tracks the RAW source each derivation reads."""
    import json as _json
    import os as _os

    from data_validator_spark.operators.bucketing import (
        BUCKET_SIDECAR,
        _source_signature,
        assert_colocated,
    )
    from data_validator_spark.queries import evict_session_caches
    from data_validator_spark.queries.tpch_ext import (
        ensure_bucketed_lineitem_ext_by_part,
        ensure_bucketed_part_ext,
    )

    _mini_lineitem(spark, tmp_path, n=120)
    _mini_part(spark, tmp_path, n=60)
    sf = str(tmp_path)
    try:
        lt = ensure_bucketed_lineitem_ext_by_part(spark, sf)
        pt = ensure_bucketed_part_ext(spark, sf)
        li, part = spark.table(lt), spark.table(pt)
        assert "l_shipmode" in li.columns and "p_container" in part.columns
        joined = li.hint("merge").join(part, li.l_partkey == part.p_partkey)
        assert_colocated(joined)
        assert joined.count() > 0
        # idempotent while sources are unchanged
        assert ensure_bucketed_lineitem_ext_by_part(spark, sf) == lt
        # same-path rewrite of the RAW source must rebuild the copy
        _mini_part(spark, tmp_path, n=90)
        evict_session_caches(sf)
        pt2 = ensure_bucketed_part_ext(spark, sf)
        assert spark.table(pt2).count() == 90
        wh = _re_wh(spark)
        with open(_os.path.join(wh, pt2, BUCKET_SIDECAR)) as f:
            assert _json.load(f)["files"] == _source_signature(
                str(tmp_path / "part.parquet")
            )
    finally:
        _drop_derived_tables(spark, sf)


def test_derived_copy_refuses_foreign_name_collision(spark, tmp_path):
    """A catalog table squatting on a copy's name that does not match
    the expected location/bucket spec must raise, never be served (the
    ADVICE r11 contract) — for a derived copy and, through the same
    lifecycle, for a raw-fact copy."""
    from data_validator_spark.operators.bucketing import ensure_bucketed_fact
    from data_validator_spark.queries import evict_session_caches
    from data_validator_spark.queries.tpch_ext import ensure_bucketed_part_ext

    _mini_part(spark, tmp_path, n=40)
    _mini_facts(spark, tmp_path, n=40)
    sf = str(tmp_path)
    copies = {
        "part_ext": lambda: ensure_bucketed_part_ext(spark, sf),
        "orders": lambda: ensure_bucketed_fact(spark, sf, "orders", "o_orderkey"),
    }
    names = []
    try:
        for label, ensure in copies.items():
            t = ensure()
            names.append(t)
            spark.sql(f"DROP TABLE {t}")
            spark.range(5).write.mode("overwrite").option(
                "path", str(tmp_path / f"foreign_{label}")
            ).saveAsTable(t)
            evict_session_caches(sf)
            with pytest.raises(RuntimeError, match="foreign table"):
                ensure()
    finally:
        for t in names:
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        _drop_derived_tables(spark, sf)
        _drop_fact_tables(spark, sf)


def test_legacy_copy_sweep_drops_only_pre_rename_orphans(spark):
    """ADVICE r15: the r15 key-in-name rename orphaned old-name fact
    copies (dv_bkt_{name}_{tag}, sidecar without 'key'). The sweep
    must remove exactly those — never the keyed copies, never the
    live keyless ext relations, never sidecar-less directories."""
    import json
    import os
    import re

    from data_validator_spark.operators.bucket_sweep import drop_legacy_copies
    from data_validator_spark.operators.bucketing import BUCKET_SIDECAR

    wh = re.sub(r"^file:/*", "/", spark.conf.get("spark.sql.warehouse.dir"))

    def plant(name, sidecar):
        p = os.path.join(wh, name)
        os.makedirs(p, exist_ok=True)
        if sidecar is not None:
            with open(os.path.join(p, BUCKET_SIDECAR), "w") as f:
                json.dump(sidecar, f)
        return p

    legacy = plant("dv_bkt_orders_tmp_pytest_sweep", {"version": 2, "files": []})
    keyed = plant(
        "dv_bkt_orders_o_orderkey_tmp_pytest_sweep",
        {"version": 3, "key": "o_orderkey", "files": []},
    )
    ext = plant("dv_bkt_lineitem_ext_tmp_pytest_sweep", {"version": 1, "files": []})
    bare = plant("dv_bkt_events_tmp_pytest_sweep_nosidecar", None)
    # ADVICE r16: a foreign directory whose name is NOT a valid bare
    # SQL identifier (hyphen) with a keyless sidecar must neither
    # raise (it aborted the whole sweep pre-fix via ParseException)
    # nor spare the sweep of the rest
    weird = plant("dv_bkt_orders_tmp-pytest-hyphen", {"version": 2, "files": []})
    try:
        removed = drop_legacy_copies(spark)
        assert "dv_bkt_orders_tmp_pytest_sweep" in removed
        assert not os.path.isdir(legacy)
        assert os.path.isdir(keyed)
        assert os.path.isdir(ext)
        assert os.path.isdir(bare)
        # the hyphen-named orphan is removable under the quoted DROP
        assert "dv_bkt_orders_tmp-pytest-hyphen" in removed
        assert not os.path.isdir(weird)
        # idempotent: a second sweep finds nothing of ours
        assert "dv_bkt_orders_tmp_pytest_sweep" not in drop_legacy_copies(spark)
    finally:
        import shutil

        for p in (legacy, keyed, ext, bare, weird):
            shutil.rmtree(p, ignore_errors=True)


def _swap_interior_custkeys(src, a: int, b: int):
    """Byte-surgery: swap the PLAIN-encoded int64 values a,b (adjacent
    in the o_custkey data page) in place — file size, mtime (restored
    by the caller), row count, and every per-row-group min/max stat
    survive, so the parquet FOOTER is byte-identical."""
    import struct

    blob = open(src, "rb").read()
    pat = struct.pack("<q", a) + struct.pack("<q", b)
    i = blob.find(pat)
    assert i != -1, "plain-encoded pair not found"
    assert blob.find(pat, i + 1) == -1, "pair must be unique in the file"
    new = blob[:i] + struct.pack("<q", b) + struct.pack("<q", a) + blob[i + 16:]
    assert len(new) == len(blob)
    open(src, "wb").write(new)


def test_full_content_wm_catches_footer_identical_rewrite(spark, tmp_path):
    """r17 (r16 verdict item 5): an interior rewrite that preserves
    size, mtime AND every footer statistic — the documented residual
    of the r15 footer digest — must be caught by verify="full"
    (per-call sha256 over every source byte) and must remain invisible
    to verify="footer" (that gap is footer mode's documented bound)."""
    import os as _os

    from data_validator_spark.operators.bucketing import (
        _footer_signature,
        ensure_bucketed_fact,
    )
    from data_validator_spark.queries import evict_session_caches

    src = tmp_path / "orders.parquet"
    _plain_parquet(str(src), offset=1000)
    sf = str(tmp_path)

    def custkey_of(t, orderkey):
        return (
            spark.table(t)
            .where(F.col("o_orderkey") == orderkey)
            .collect()[0]["o_custkey"]
        )

    try:
        t = ensure_bucketed_fact(spark, sf, "orders", "o_orderkey", verify="full")
        assert custkey_of(t, 100) == 1100
        st = _os.stat(src)
        footers_before = _footer_signature(str(src))
        _swap_interior_custkeys(str(src), 1100, 1101)
        _os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns))
        assert _os.stat(src).st_size == st.st_size
        # the construction really is footer-identical (the gap exists)
        assert _footer_signature(str(src)) == footers_before
        evict_session_caches(sf)
        # footer mode serves the stale copy — its documented residual
        assert (
            ensure_bucketed_fact(spark, sf, "orders", "o_orderkey", verify="footer")
            == t
        )
        assert custkey_of(t, 100) == 1100
        # full mode catches the rewrite and rebuilds
        ensure_bucketed_fact(spark, sf, "orders", "o_orderkey", verify="full")
        evict_session_caches(sf)
        assert custkey_of(t, 100) == 1101
    finally:
        _drop_fact_tables(spark, sf)


def test_full_content_wm_degrades_to_footer_above_size_bound(
    spark, tmp_path, monkeypatch
):
    """verify="full" on a source above FULL_WM_MAX_BYTES warns and
    degrades to the footer check (a full-corpus read per call is the
    wrong trade at scale) — the copy is still served, not rebuilt."""
    import data_validator_spark.operators.bucketing as bk

    _plain_parquet(str(tmp_path / "orders.parquet"), offset=0)
    sf = str(tmp_path)
    try:
        t = bk.ensure_bucketed_fact(spark, sf, "orders", "o_orderkey")
        monkeypatch.setattr(bk, "FULL_WM_MAX_BYTES", 10)
        with pytest.warns(RuntimeWarning, match="degrading to the footer"):
            assert (
                bk.ensure_bucketed_fact(spark, sf, "orders", "o_orderkey", verify="full")
                == t
            )
    finally:
        _drop_fact_tables(spark, sf)


def test_full_content_wm_backfills_after_stat_only_rebuild(spark, tmp_path):
    """A stat-only source change (mtime touch, identical bytes) makes a
    full-verify call rebuild; it must record the content signature in
    the same call instead of dropping the fresh copy and rebuilding a
    second time on the next call."""
    import json as _json
    import os as _os

    from data_validator_spark.operators.bucketing import (
        BUCKET_SIDECAR,
        copy_path,
        ensure_bucketed_fact,
    )

    src = tmp_path / "orders.parquet"
    _plain_parquet(str(src), offset=0)
    sf = str(tmp_path)
    try:
        t = ensure_bucketed_fact(spark, sf, "orders", "o_orderkey", verify="full")
        path = copy_path(spark, t)
        _os.utime(src)  # mtime moves, bytes identical
        from data_validator_spark.queries import evict_session_caches

        evict_session_caches(sf)
        assert ensure_bucketed_fact(spark, sf, "orders", "o_orderkey", verify="full") == t
        with open(_os.path.join(path, BUCKET_SIDECAR)) as f:
            sc = _json.load(f)
        assert "content_sha256" in sc  # backfilled in the SAME call
        before = _os.stat(_os.path.join(path, BUCKET_SIDECAR)).st_mtime_ns
        # next full call: verified, no rebuild, sidecar untouched
        assert ensure_bucketed_fact(spark, sf, "orders", "o_orderkey", verify="full") == t
        assert _os.stat(_os.path.join(path, BUCKET_SIDECAR)).st_mtime_ns == before
    finally:
        _drop_fact_tables(spark, sf)


def test_content_signature_detects_single_bit_flip(tmp_path):
    """The full-content watermark's whole-point property: ANY byte
    change in the source flips the signature, even one that no stat,
    footer, or row-group statistic could see."""
    from data_validator_spark.operators.bucketing import _content_signature

    p = tmp_path / "orders.parquet"
    _plain_parquet(str(p), offset=0)
    sig1 = _content_signature(str(p))
    blob = bytearray(open(p, "rb").read())
    blob[len(blob) // 3] ^= 0x01  # one bit, interior
    open(p, "wb").write(bytes(blob))
    sig2 = _content_signature(str(p))
    assert sig1 != sig2
    assert [r for r, _ in sig1] == [r for r, _ in sig2]  # same file set


def test_bucketed_copies_single_sorted_file_per_bucket(spark):
    """The at-rest copy program lays out at most ONE (sorted) parquet
    file per bucket — the invariant that lets
    spark.sql.legacy.bucketedTableScan.outputOrdering=true (bench.py,
    r18) recognize the written sort order and drop per-task sorts
    from colocated SMJs. A multi-file bucket would silently disable
    that recognition (perf-only, never correctness). The base fact
    writes hold it because the single-parquet sources scan to one
    split; the DERIVED ext copies (spread() build → one file per
    bucket PER PARTITION, 1024 files at sf0.1 before r18) hold it via
    the explicit bucket-key repartition at their write sites, whose
    hash is the bucket-id hash."""
    import os
    import re

    from data_validator_spark.operators.bucketing import ensure_bucketed_fact
    from data_validator_spark.queries.tpch_ext import (
        ensure_bucketed_lineitem_ext,
        ensure_bucketed_lineitem_ext_by_part,
        ensure_bucketed_part_ext,
    )

    sf = "/root/testdata/sf0.001"
    tables = [
        ensure_bucketed_fact(spark, sf, "lineitem", "l_orderkey"),
        ensure_bucketed_fact(spark, sf, "orders", "o_orderkey"),
        ensure_bucketed_lineitem_ext(spark, sf),
        ensure_bucketed_lineitem_ext_by_part(spark, sf),
        ensure_bucketed_part_ext(spark, sf),
    ]
    wh = re.sub(r"^file:/*", "/", spark.conf.get("spark.sql.warehouse.dir"))
    for t in tables:
        d = os.path.join(wh, t)
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert files, d
        buckets = []
        for f in files:
            m = re.search(r"_(\d{5})\.c\d+", f)
            assert m, f"unrecognized bucketed file name {f} in {t}"
            buckets.append(m.group(1))
        assert len(buckets) == len(set(buckets)), (
            f"{t}: bucket with >1 file — sorted-scan recognition "
            f"silently off ({sorted(files)[:4]}...)"
        )


def test_sorted_bucket_scan_drops_smj_sorts(spark, tmp_path):
    """With outputOrdering recognition ON (the bench session's r18
    conf) a colocated SMJ over two single-file-per-bucket sorted
    copies needs NO per-task Sort; with it OFF the same plan carries
    two. Pins the conf's effect so a Spark upgrade that changes the
    recognition rule fails loudly."""
    left = (
        spark.range(0, 10_000)
        .select(F.col("id").alias("k"), (F.col("id") % 7).alias("a"))
        .coalesce(1)
    )
    right = (
        spark.range(0, 10_000, 2)
        .select(F.col("id").alias("k"), (F.col("id") % 11).alias("b"))
        .coalesce(1)
    )
    write_bucketed(left, "bk_sorted_l", ["k"], 8, path=str(tmp_path / "l"))
    write_bucketed(right, "bk_sorted_r", ["k"], 8, path=str(tmp_path / "r"))
    from data_validator_spark.session import ENGINE_CONFS, ensure_engine_confs

    conf = "spark.sql.legacy.bucketedTableScan.outputOrdering"
    assert ENGINE_CONFS.get(conf) == "true"  # homed in the engine (r19)
    old = spark.conf.get(conf)
    try:
        ensure_engine_confs(spark)  # flips the conf on, as every entry point does
        assert spark.conf.get(conf) == "true"
        j = bucketed_join(spark, "bk_sorted_l", "bk_sorted_r", ["k"])
        assert_colocated(j)
        plan_on = j._jdf.queryExecution().executedPlan().toString()
        assert "Sort " not in plan_on, plan_on
        spark.conf.set(conf, "false")
        j2 = bucketed_join(spark, "bk_sorted_l", "bk_sorted_r", ["k"])
        plan_off = j2._jdf.queryExecution().executedPlan().toString()
        assert "Sort " in plan_off, plan_off
    finally:
        spark.conf.set(conf, old)
        spark.sql("DROP TABLE IF EXISTS bk_sorted_l")
        spark.sql("DROP TABLE IF EXISTS bk_sorted_r")


def test_full_wm_drop_evicts_dependent_session_caches(spark, tmp_path):
    """ADVICE r18/r19 library guard: whenever the lifecycle drops a copy
    that existed — a stat-only copy a verify="full" consumer cannot
    trust, a stat copy whose source moved, a derived copy whose RAW
    source moved — session caches persisted over the old file listing
    must be evicted; otherwise any consumer whose cached relation froze
    the dropped files dies with FAILED_READ_FILE. A verified-current
    copy must leave those caches alone."""
    import os as _os

    from data_validator_spark.operators.bucketing import ensure_bucketed_fact
    from data_validator_spark.queries import SessionCache, evict_session_caches
    from data_validator_spark.queries.tpch_ext import ensure_bucketed_part_ext

    p = tmp_path / "orders.parquet"
    _plain_parquet(str(p), offset=0)
    _mini_part(spark, tmp_path, n=40)
    sf = str(tmp_path)
    evict_session_caches(sf)
    probe_cache = SessionCache()

    def touch(path):  # move the mtime of every source file, bytes unchanged
        files = [path] if _os.path.isfile(path) else [
            _os.path.join(d, f) for d, _dirs, fs in _os.walk(path) for f in fs
        ]
        for f in files:
            st = _os.stat(f)
            _os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))

    def orders(verify):
        return ensure_bucketed_fact(spark, sf, "orders", "o_orderkey", 4, verify=verify)

    # (first call, source change in between or None, second call)
    cases = {
        # stat-only build: records footers but no content_sha256
        "full": (lambda: orders("stat"), None, lambda: orders("full")),
        "stat": (lambda: orders("stat"), lambda: touch(p), lambda: orders("stat")),
        "derived": (
            lambda: ensure_bucketed_part_ext(spark, sf),
            lambda: touch(tmp_path / "part.parquet"),
            lambda: ensure_bucketed_part_ext(spark, sf),
        ),
    }
    try:
        for label, (first, change, again) in cases.items():
            t = first()
            if change is not None:
                change()
            probe_cache.put(spark, sf, spark.range(1))
            assert again() == t
            assert not probe_cache, (
                f"{label}: drop/rebuild left a session cache frozen on dropped files"
            )
            # the copy is current now -> no drop, so a fresh cache
            # entry must SURVIVE
            probe_cache.put(spark, sf, spark.range(1))
            assert again() == t
            assert probe_cache, f"{label}: verified-current copy must not evict caches"
            probe_cache.evict()
    finally:
        probe_cache.evict()
        _drop_fact_tables(spark, sf)
        _drop_derived_tables(spark, sf)
