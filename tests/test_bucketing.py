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


def test_copy_with_retired_sidecar_keys_is_served(spark, tmp_path):
    """A sidecar may carry keys beyond the watermark's: copies built
    when copies were also footer- and content-verified recorded
    "footers" and "content_sha256". Only the watermark's own keys are
    compared, so such a copy is served as it is, from the catalog and
    re-registered from disk, never rebuilt."""
    import json as _json
    import os as _os

    from data_validator_spark.operators.bucketing import (
        BUCKET_SIDECAR,
        copy_path,
        ensure_bucketed_fact,
    )

    _mini_facts(spark, tmp_path, n=90)
    sf = str(tmp_path)
    try:
        t = ensure_bucketed_fact(spark, sf, "orders", "o_orderkey")
        before = spark.table(t).collect()
        sc = _os.path.join(copy_path(spark, t), BUCKET_SIDECAR)
        with open(sc) as f:
            stamp = _json.load(f)
        stamp["footers"] = [[rel, "0" * 32] for rel, _size, _mt in stamp["files"]]
        stamp["content_sha256"] = [[rel, "0" * 64] for rel, _size, _mt in stamp["files"]]
        with open(sc, "w") as f:
            _json.dump(stamp, f)
        mtime = _os.stat(sc).st_mtime_ns
        assert ensure_bucketed_fact(spark, sf, "orders", "o_orderkey") == t
        spark.sql(f"DROP TABLE {t}")  # a later session: files on disk only
        assert ensure_bucketed_fact(spark, sf, "orders", "o_orderkey") == t
        assert _os.stat(sc).st_mtime_ns == mtime
        assert sorted(spark.table(t).collect()) == sorted(before)
    finally:
        _drop_fact_tables(spark, sf)


def test_copy_rebuilds_when_bucket_count_moves(spark, tmp_path, monkeypatch):
    """The bucket count is part of every copy's watermark. When the
    dataset's count moves with the source files unchanged, the next
    call rebuilds the copy under the new count: from the catalog, and
    from files on disk only (a later session), where a metadata-only
    CREATE TABLE … INTO n BUCKETS would declare a count the files do
    not have. A sidecar that records no count (the format before the
    count joined the watermark) is rebuilt too."""
    import json as _json
    import os as _os
    import re

    from data_validator_spark.operators import bucketing

    _plain_parquet(str(tmp_path / "orders.parquet"), offset=0)
    sf = str(tmp_path)

    def copy(n):
        monkeypatch.setattr(bucketing, "dataset_buckets", lambda spark, sf: n)
        return bucketing.ensure_bucketed_fact(spark, sf, "orders", "o_orderkey")

    def check(t, n) -> set:
        path = bucketing.copy_path(spark, t)
        counts = _files_per_bucket(path)
        assert len(counts) == n and set(counts.values()) == {1}, dict(counts)
        declared = (
            spark.sql(f"DESCRIBE TABLE EXTENDED {t}")
            .where("col_name = 'Num Buckets'").first().data_type
        )
        assert int(declared) == n
        rows = spark.table(t).select(
            F.input_file_name().alias("f"),
            F.expr(f"pmod(hash(o_orderkey), {n})").alias("b"),
        ).collect()
        assert len(rows) == 400
        assert all(int(re.search(r"_(\d{5})\.c\d+", r.f).group(1)) == r.b for r in rows)
        return {f for f in _os.listdir(path) if f.endswith(".parquet")}

    try:
        t = copy(4)
        files = check(t, 4)
        assert copy(4) == t and check(t, 4) == files  # current: served as is
        # the count moves, the source does not: catalog entry present
        files2 = check(copy(2), 2)
        assert files2.isdisjoint(files)
        # a later session: files on disk, no catalog entry
        spark.sql(f"DROP TABLE {t}")
        files3 = check(copy(3), 3)
        assert files3.isdisjoint(files2)
        # a sidecar with no bucket count is rebuilt, not re-registered
        sc = _os.path.join(bucketing.copy_path(spark, t), bucketing.BUCKET_SIDECAR)
        with open(sc) as f:
            stamp = _json.load(f)
        assert stamp["buckets"] == 3
        del stamp["buckets"]
        with open(sc, "w") as f:
            _json.dump(stamp, f)
        spark.sql(f"DROP TABLE {t}")
        assert check(copy(3), 3).isdisjoint(files3)
    finally:
        _drop_fact_tables(spark, sf)


def _sparse(path, size: int) -> None:
    """A file of ``size`` bytes that takes no disk space."""
    import os

    with open(path, "wb"):
        pass
    os.truncate(path, size)


def _session_with_open_cost(open_cost: int = 4 * 2**20):
    """Stands in for a session: dataset_buckets reads only its
    spark.sql.files.openCostInBytes."""
    from types import SimpleNamespace as NS

    conf = NS(filesOpenCostInBytes=lambda: open_cost)
    return NS(_jsparkSession=NS(sessionState=lambda: NS(conf=lambda: conf)))


MB = 2**20


@pytest.mark.parametrize(
    "tables, want",
    [
        ({"lineitem": [4 * MB], "orders": [MB]}, 1),
        ({"lineitem": [1]}, 1),
        ({"lineitem": [4 * MB + 1]}, 2),
        ({"lineitem": [10_818_932], "orders": [2_723_766]}, 3),  # sf0.1
        ({"lineitem": [3 * MB, 3 * MB], "orders": [5 * MB]}, 2),  # a table's files add up
        ({"lineitem": [128 * MB]}, 32),
        ({"lineitem": [2**40]}, 32),
    ],
)
def test_dataset_buckets_rule(tmp_path, tables, want):
    """One bucket per 4 MB open cost of the largest *.parquet table,
    at least 1 and at most FACT_BUCKETS; other files in the dataset
    directory do not count. Sparse files, no Spark."""
    import os

    from data_validator_spark.operators.bucketing import dataset_buckets

    for name, sizes in tables.items():
        if len(sizes) == 1:
            _sparse(tmp_path / f"{name}.parquet", sizes[0])
            continue
        os.makedirs(tmp_path / f"{name}.parquet")
        for i, size in enumerate(sizes):
            _sparse(tmp_path / f"{name}.parquet" / f"part-{i}.parquet", size)
    _sparse(tmp_path / "notes.txt", 2**40)
    assert dataset_buckets(_session_with_open_cost(), str(tmp_path)) == want
    # the open cost is the unit
    assert dataset_buckets(_session_with_open_cost(2**40), str(tmp_path)) == 1


def test_every_copy_of_a_dataset_gets_its_count(tmp_path, monkeypatch):
    """Raw-fact copies under every key and the derived copies all ask
    the rule for their dataset's count, so colocated merge joins
    between them stay exchange-free. No Spark: the copy lifecycle is
    replaced by a recorder."""
    from data_validator_spark.operators import bucketing
    from data_validator_spark.queries import tpch_ext

    for name, size in (("lineitem", 10_818_932), ("orders", 2_723_766), ("customer", MB), ("part", MB)):
        _sparse(tmp_path / f"{name}.parquet", size)
    seen = {}

    def record(spark, table, keys, num_buckets, watermark, build):
        seen[table] = num_buckets
        return table

    for mod in (bucketing, tpch_ext):
        monkeypatch.setattr(mod, "ensure_copy", record)
    spark, sf = _session_with_open_cost(), str(tmp_path)
    for name, key in (
        ("lineitem", "l_orderkey"), ("lineitem", "l_partkey"), ("orders", "o_orderkey"),
        ("orders", "o_custkey"), ("customer", "c_custkey"), ("part", "p_partkey"),
    ):
        bucketing.ensure_bucketed_fact(spark, sf, name, key)
    tpch_ext.ensure_bucketed_lineitem_ext(spark, sf)
    tpch_ext.ensure_bucketed_lineitem_ext_by_part(spark, sf)
    tpch_ext.ensure_bucketed_part_ext(spark, sf)
    assert len(seen) == 9 and set(seen.values()) == {3}, seen


def _plain_lineitem_orders(sf, n: int = 400):
    """Mini lineitem and orders for the validator queries, PLAIN-encoded
    and uncompressed like _plain_parquet: every l_extendedprice is a
    distinct double stored as its 8 raw bytes. The last line of the
    last order reuses line number 1, so unique_check finds one
    duplicate key."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    lines = {
        "l_orderkey": pa.array([i // 4 for i in range(n)], pa.int64()),
        "l_linenumber": pa.array([i % 4 + 1 for i in range(n - 1)] + [1], pa.int32()),
        "l_quantity": pa.array([float(i % 50 + 1) for i in range(n)]),
        "l_extendedprice": pa.array([1000.0 + 2.5 * i for i in range(n)]),
        "l_discount": pa.array([(i % 10) / 100 for i in range(n)]),
        "l_tax": pa.array([(i % 8) / 100 for i in range(n)]),
    }
    orders = {
        "o_orderkey": pa.array(range(n // 4), pa.int64()),
        "o_totalprice": pa.array([4200.0 + 10.0 * k for k in range(n // 4)]),
    }
    for name, cols in (("lineitem", lines), ("orders", orders)):
        pq.write_table(
            pa.table(cols), f"{sf}/{name}.parquet", use_dictionary=False, compression="NONE"
        )


def _footer_bytes(path) -> bytes:
    """The parquet footer: metadata, its length and the PAR1 magic."""
    import struct

    blob = path.read_bytes()
    (flen,) = struct.unpack("<I", blob[-8:-4])
    return blob[-(flen + 8):]


def test_validator_queries_see_footer_preserving_source_rewrite(spark, tmp_path):
    """A same-size, mtime-restoring rewrite of one interior value leaves
    every footer statistic unchanged. Every validator-class query must
    still answer for the rewritten source, as its DuckDB oracle does."""
    import os as _os
    import struct

    import duckdb

    from data_validator_spark.queries import build_registry

    queries, oracles = build_registry()
    names = ("col_stats", "profile_table", "unique_check", "reconciliation_check")
    sf = str(tmp_path)
    _plain_lineitem_orders(sf)

    def norm(rows):
        return sorted(
            tuple(round(v, 9) if isinstance(v, float) else v for v in r) for r in rows
        )

    for name in names:
        queries[name](spark, sf).collect()
    src = tmp_path / "lineitem.parquet"
    st, footer = _os.stat(src), _footer_bytes(src)
    blob = src.read_bytes()
    old, new = struct.pack("<d", 1250.0), struct.pack("<d", 1750.0)  # rows 100 and 300
    assert blob.count(old) == 1
    src.write_bytes(blob.replace(old, new))
    _os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert _os.stat(src).st_size == st.st_size
    assert _os.stat(src).st_mtime_ns == st.st_mtime_ns
    assert _footer_bytes(src) == footer

    con = duckdb.connect()
    for t in ("lineitem", "orders"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    try:
        for name in names:
            got = norm(queries[name](spark, sf).collect())
            assert got == norm(con.execute(oracles[name]).fetchall()), name
    finally:
        con.close()


def test_validator_queries_run_validator_code_on_their_source():
    """The validator-class registry entries read their source, never an
    at-rest copy, and the check entries run the validator's own code,
    directly or through a helper of their module."""
    import ast
    from pathlib import Path

    qdir = Path(__file__).resolve().parent.parent / "data_validator_spark" / "queries"

    def functions(module):
        tree = ast.parse((qdir / module).read_text())
        return {n.name: n for n in tree.body if isinstance(n, ast.FunctionDef)}

    def names(fn):
        return {n.id for n in ast.walk(fn) if isinstance(n, ast.Name)} | {
            n.attr for n in ast.walk(fn) if isinstance(n, ast.Attribute)
        }

    copy_readers = {"bucketed_fact", "ensure_bucketed_fact"}
    vq = functions("validator_queries.py")
    checked = {**vq, "q_reconciliation_check": functions("quality_ops.py")["q_reconciliation_check"]}
    offenders = [f for f, node in checked.items() if names(node) & copy_readers]
    assert not offenders, f"validator-class queries reading a copy: {offenders}"

    validator_code = {"run_cheap_checks", "ColStats", "duplicate_key_counts"}
    for q in ("q_row_count", "q_unique_check", "q_col_stats", "q_col_stats_histogram"):
        seen = names(vq[q])
        seen |= {n for h in seen & vq.keys() for n in names(vq[h])}
        assert seen & validator_code, f"{q} does not run the validator's code"


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


SF = "/root/testdata/sf0.001"
MULTI_FILE_TABLES = ("lineitem", "orders", "part", "documents")


@pytest.fixture(scope="module")
def multi_file_sf(tmp_path_factory):
    """A copy of sf0.001 in which every copy source (lineitem, orders,
    part, documents) is a directory of 4 parquet files, so its scan has
    4 input tasks. The other tables are copied as they are."""
    import os
    import shutil

    import pyarrow.parquet as pq

    sf = tmp_path_factory.mktemp("multi_file_sf")
    for f in os.listdir(SF):
        name = f.removesuffix(".parquet")
        if name not in MULTI_FILE_TABLES:
            shutil.copy(os.path.join(SF, f), sf / f)
            continue
        t = pq.read_table(os.path.join(SF, f))
        os.makedirs(sf / f)
        step = -(-t.num_rows // 4)
        for i in range(4):
            pq.write_table(t.slice(i * step, step), sf / f / f"part-{i}.parquet")
    return str(sf)


def _files_per_bucket(path: str) -> dict:
    """{bucket id: parquet file count} of a bucketed table directory."""
    import collections
    import os
    import re

    counts = collections.Counter()
    for f in os.listdir(path):
        if f.endswith(".parquet"):
            m = re.search(r"_(\d{5})\.c\d+", f)
            assert m, f"unrecognized bucketed file name {f} in {path}"
            counts[m.group(1)] += 1
    return counts


def test_bucketed_copies_single_sorted_file_per_bucket(spark, multi_file_sf, fact_buckets_at_cap):
    """The at-rest copy program lays out exactly ONE (sorted) parquet
    file per bucket — the invariant that lets
    spark.sql.legacy.bucketedTableScan.outputOrdering=true (session
    ENGINE_CONFS) recognize the written sort order and drop per-task
    sorts from colocated SMJs. A multi-file bucket would silently
    disable that recognition (perf-only, never correctness). It must
    hold for single-file sources and for sources of several files
    (several input tasks), for raw-fact copies, derived copies and the
    dedup indexes alike: write_bucketed repartitions on the bucket key,
    whose hash is the bucket-id hash. Laid out at the cap
    (fact_buckets_at_cap): a one-bucket copy would hold one file by
    construction."""
    from data_validator_spark.operators.bucketing import (
        FACT_BUCKETS,
        copy_path,
        ensure_bucketed_fact,
    )
    from data_validator_spark.queries.dedup import (
        BINDEX_BUCKETS,
        FINDEX_BUCKETS,
        _ensure_bindex,
        _ensure_findex,
    )
    from data_validator_spark.queries.tpch_ext import (
        ensure_bucketed_lineitem_ext,
        ensure_bucketed_lineitem_ext_by_part,
        ensure_bucketed_part_ext,
    )

    for sf in (SF, multi_file_sf):
        tables = [
            (ensure_bucketed_fact(spark, sf, "lineitem", "l_orderkey"), FACT_BUCKETS),
            (ensure_bucketed_fact(spark, sf, "orders", "o_orderkey"), FACT_BUCKETS),
            (ensure_bucketed_lineitem_ext(spark, sf), FACT_BUCKETS),
            (ensure_bucketed_lineitem_ext_by_part(spark, sf), FACT_BUCKETS),
            (ensure_bucketed_part_ext(spark, sf), FACT_BUCKETS),
        ]
        if sf == multi_file_sf:
            tables += [
                (_ensure_findex(spark, sf), FINDEX_BUCKETS),
                (_ensure_bindex(spark, sf), BINDEX_BUCKETS),
            ]
        for t, n in tables:
            counts = _files_per_bucket(copy_path(spark, t))
            assert len(counts) == n and set(counts.values()) == {1}, (
                f"{t}: want one file in each of {n} buckets, got {dict(counts)} "
                "— sorted-scan recognition silently off"
            )


def _sort_nodes(df) -> int:
    import re

    return len(re.findall(r"\bSort \[", df._jdf.queryExecution().executedPlan().toString()))


def test_multi_file_sources_keep_sort_free_colocated_joins(spark, multi_file_sf):
    """From a source of several files, a merge join of the lineitem and
    orders copies still plans no Exchange and no Sort, and q7 and q12
    plan as many Sort nodes as they do from single-file sources (a
    bucket of several files would add a Sort per joined side)."""
    from data_validator_spark.operators.bucketing import ensure_bucketed_fact
    from data_validator_spark.queries.analytics import q7_volume_shipping
    from data_validator_spark.queries.tpch_ext import q12_shipmode_priority

    li = spark.table(ensure_bucketed_fact(spark, multi_file_sf, "lineitem", "l_orderkey"))
    orders = spark.table(ensure_bucketed_fact(spark, multi_file_sf, "orders", "o_orderkey"))
    joined = li.hint("merge").join(orders, li.l_orderkey == orders.o_orderkey)
    assert_colocated(joined)
    assert _sort_nodes(joined) == 0
    for q in (q7_volume_shipping, q12_shipmode_priority):
        single = _sort_nodes(q(spark, SF))
        assert _sort_nodes(q(spark, multi_file_sf)) == single, q.__name__


def test_index_refresh_appends_one_file_per_bucket(spark, multi_file_sf):
    """A dedup index refresh appends at most one file to each bucket
    (the delta is read from a 4-file documents source), and the
    refreshed index still holds exactly the full-corpus content. AQE
    is off, as at a scale where it would not coalesce the delta's
    shuffle into one partition."""
    import shutil

    from data_validator_spark.functions.text import fingerprint60
    from data_validator_spark.operators.bucketing import copy_name, copy_path
    from data_validator_spark.queries import evict_session_caches
    from data_validator_spark.queries.dedup import (
        FINDEX_DIGEST_BUCKETS,
        FINDEX_MOD,
        _band_df,
        _ensure_bindex,
        _ensure_findex,
        _sig64_col,
        q_dedup_band_index_refresh,
        q_dedup_index_refresh,
    )

    sf = multi_file_sf
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    # kind: (build, refresh, refresh digest column, full-corpus index keys)
    cases = {
        "findex": (
            _ensure_findex, q_dedup_index_refresh, "digest",
            docs.select(fingerprint60(F.col("text")).alias("k")).distinct(),
        ),
        "bindex": (
            _ensure_bindex, q_dedup_band_index_refresh, "digest_sig",
            _band_df(spark, sf).select(_sig64_col().alias("k"), "doc_id").distinct(),
        ),
    }
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for kind, (ensure, refresh, digest, keys) in cases.items():
            path = copy_path(spark, ensure(spark, sf))
            before = _files_per_bucket(path)
            got = {(r["bucket"], r[1], r[digest]) for r in refresh(spark, sf).collect()}
            after = _files_per_bucket(path)
            added = {b: after[b] - before.get(b, 0) for b in after}
            assert sum(added.values()) > 0, f"{kind}: the refresh appended nothing"
            assert max(added.values()) <= 1, f"{kind}: append added {added}"
            want = {
                tuple(r)
                for r in keys.groupBy(
                    F.pmod(F.col("k"), F.lit(FINDEX_DIGEST_BUCKETS)).cast("int")
                )
                .agg(F.count(F.lit(1)), F.sum(F.pmod(F.col("k"), F.lit(FINDEX_MOD))))
                .collect()
            }
            assert got == want, kind
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        for kind in cases:
            t = copy_name(sf, "dv_dedup", kind)
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            shutil.rmtree(copy_path(spark, t), ignore_errors=True)
        evict_session_caches(sf)


def test_only_write_bucketed_writes_buckets():
    """Repo-wide pin: no tracked .py under data_validator_spark/ calls
    `.bucketBy(` outside operators/bucketing.write_bucketed, so every
    bucketed table gets that writer's one-file-per-bucket layout; and
    every `write_bucketed(..., mode="append")` sits inside
    queries/dedup._refresh_index, so every index append follows its
    one insert-if-absent rule."""
    import ast
    import os
    import subprocess

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tracked = subprocess.run(
        ["git", "-C", repo, "ls-files", "data_validator_spark/*.py"],
        capture_output=True, text=True, check=True,
    ).stdout.split()

    def inside(tree, rel, module, func):
        if rel != module:
            return set()
        return {
            id(n)
            for node in tree.body
            if isinstance(node, ast.FunctionDef) and node.name == func
            for n in ast.walk(node)
        }

    def appends(n):
        return (
            isinstance(n, ast.Call)
            and getattr(n.func, "id", getattr(n.func, "attr", None)) == "write_bucketed"
            and (
                len(n.args) >= 6  # mode passed by position
                or any(
                    k.arg == "mode" and getattr(k.value, "value", None) == "append"
                    for k in n.keywords
                )
            )
        )

    offenders, stray_appends, n_appends = [], [], 0
    for rel in tracked:
        tree = ast.parse(open(os.path.join(repo, rel)).read())
        allowed = inside(tree, rel, "data_validator_spark/operators/bucketing.py", "write_bucketed")
        refresh = inside(tree, rel, "data_validator_spark/queries/dedup.py", "_refresh_index")
        offenders += [
            f"{rel}:{n.lineno}"
            for n in ast.walk(tree)
            if isinstance(n, ast.Attribute) and n.attr == "bucketBy" and id(n) not in allowed
        ]
        for n in ast.walk(tree):
            if appends(n):
                n_appends += 1
                if id(n) not in refresh:
                    stray_appends.append(f"{rel}:{n.lineno}")
    assert not offenders, f"bucketBy outside write_bucketed: {offenders}"
    assert not stray_appends, f"write_bucketed append outside _refresh_index: {stray_appends}"
    assert n_appends == 1  # the guard sees the one append it protects


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


def test_copy_drop_evicts_dependent_session_caches(spark, tmp_path):
    """ADVICE r18/r19 hazard: when the lifecycle drops a copy that
    existed — a fact copy whose source moved, a derived copy whose RAW
    source moved — a session-cache relation persisted over the old
    copy must not be read from the dropped files (FAILED_READ_FILE):
    its next access rebuilds it from the new copy. A verified-current
    copy must leave a fresh entry alone."""
    import os as _os

    from data_validator_spark.operators.bucketing import ensure_bucketed_fact
    from data_validator_spark.queries import SessionCache, evict_session_caches
    from data_validator_spark.queries.tpch_ext import ensure_bucketed_part_ext

    p = tmp_path / "orders.parquet"
    _plain_parquet(str(p), offset=0)
    _mini_part(spark, tmp_path, n=40)
    sf = str(tmp_path)
    evict_session_caches(sf)
    cache = SessionCache()

    def touch(path):  # move the mtime of every source file, bytes unchanged
        files = [path] if _os.path.isfile(path) else [
            _os.path.join(d, f) for d, _dirs, fs in _os.walk(path) for f in fs
        ]
        for f in files:
            st = _os.stat(f)
            _os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))

    def orders():
        return ensure_bucketed_fact(spark, sf, "orders", "o_orderkey")

    # (copy, source change, row count)
    cases = {
        "stat": (orders, lambda: touch(p), 400),
        "derived": (
            lambda: ensure_bucketed_part_ext(spark, sf),
            lambda: touch(tmp_path / "part.parquet"),
            40,
        ),
    }
    try:
        for label, (copy, change, n) in cases.items():
            def cached():
                return cache.get(spark, sf, lambda: spark.table(copy()))

            old = cached()
            assert old.count() == n
            old_files = set(old.inputFiles())
            change()
            t = copy()  # the stale copy is dropped and rebuilt
            assert not any(_os.path.exists(f.replace("file:", "", 1)) for f in old_files)
            new = cached()
            assert new is not old, f"{label}: entry over the dropped copy was served"
            assert new.count() == n
            assert set(new.inputFiles()) == set(spark.table(t).inputFiles())
            # the copy is current now -> no drop, so the entry survives
            assert copy() == t
            assert cached() is new, f"{label}: verified-current copy must not evict caches"
            cache.evict()
    finally:
        cache.evict()
        _drop_fact_tables(spark, sf)
        _drop_derived_tables(spark, sf)
