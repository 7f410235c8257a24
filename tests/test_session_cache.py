"""The package has one session-cache type: every module-level cache is a
registered SessionCache, and its get/put/evict contract holds."""

from __future__ import annotations

import sys

from pyspark import StorageLevel


def test_every_module_cache_is_a_registered_session_cache():
    """No module of data_validator_spark.queries may keep a hand-keyed
    dict cache: a plain dict is invisible to evict_session_caches (the
    stale-count defect of the unregistered similarity count cache)."""
    from data_validator_spark import queries

    queries.build_registry()  # imports every registry module
    module_globals = [
        (f"{name}.{attr}", val)
        for name, mod in list(sys.modules.items())
        if name.startswith("data_validator_spark.queries") and mod is not None
        for attr, val in vars(mod).items()
    ]
    plain = [n for n, v in module_globals if "CACHE" in n and type(v) is dict]
    assert not plain, f"plain dict caches: {plain}"
    registered = {id(c) for c in queries._SESSION_CACHES}
    caches = [(n, v) for n, v in module_globals if isinstance(v, queries.SessionCache)]
    assert len(caches) >= 20
    assert [n for n, v in caches if id(v) not in registered] == []


def test_session_cache_get_put_version_and_evict(spark, tmp_path):
    from data_validator_spark.queries import SessionCache

    cache = SessionCache()
    sf, other = str(tmp_path / "a"), str(tmp_path / "b")
    calls = []

    def build():
        calls.append(1)
        return spark.range(3)

    df = cache.get(spark, sf, build)
    assert df.storageLevel == StorageLevel.MEMORY_AND_DISK
    assert cache.get(spark, sf, build) is df and len(calls) == 1
    assert cache.get(spark, sf) is df  # lookup without a build
    assert cache.get(spark, other) is None

    # scalars are stored as built; sub-keys are separate entries
    assert cache.get(spark, sf, lambda: 7, "n") == 7
    assert cache.get(spark, other, lambda: 8, "n") == 8
    assert len(cache) == 3

    # evict by sub-key, then by dataset: DataFrames are unpersisted
    assert cache.evict(None, "n") == 2
    assert cache.evict(other) == 0
    assert cache.evict(sf) == 1
    assert df.storageLevel == StorageLevel.NONE
    assert len(cache) == 0


def test_source_rewrite_rebuilds_session_caches(spark, tmp_path):
    """A source rewritten in place mid-session, with no eviction call:
    the next access of a cache built over it sees the moved source-file
    signature and rebuilds, so rfm_segments (relation and boundaries
    cached over the bucketed orders copy) matches its DuckDB oracle on
    the new files and row_count returns the new count."""
    import os
    import shutil

    import duckdb
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from data_validator_spark.operators.bucketing import copy_name, copy_path
    from data_validator_spark.queries import build_registry, row_count
    from tests.test_warehouse_rfm import SF as src

    sf = str(tmp_path / "sf")
    os.mkdir(sf)
    for f in os.listdir(src):
        shutil.copyfile(os.path.join(src, f), os.path.join(sf, f))
    queries, oracles = build_registry()

    def norm(rows):
        return sorted(
            tuple(round(v, 6) if isinstance(v, float) else v for v in r) for r in rows
        )

    def oracle():
        con = duckdb.connect()
        try:
            con.execute(
                f"CREATE VIEW orders AS SELECT * FROM read_parquet('{sf}/orders.parquet')"
            )
            return norm(con.execute(oracles["rfm_segments"]).fetchall())
        finally:
            con.close()

    copy = copy_name(sf, "dv_bkt", "orders", "o_custkey")
    try:
        assert norm(queries["rfm_segments"](spark, sf).collect()) == oracle()
        assert row_count(spark, sf, "orders") == 1500

        path = os.path.join(sf, "orders.parquet")
        t = pq.read_table(path)
        t = t.slice(0, t.num_rows // 2)
        i = t.schema.get_field_index("o_totalprice")
        t = t.set_column(i, "o_totalprice", pc.multiply(t["o_totalprice"], 2.0))
        pq.write_table(t, path)

        assert norm(queries["rfm_segments"](spark, sf).collect()) == oracle()
        assert row_count(spark, sf, "orders") == 750
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {copy}")
        shutil.rmtree(copy_path(spark, copy), ignore_errors=True)


def test_source_rewrite_releases_entry_before_rebuild(spark, tmp_path):
    """An entry persisted over a raw source is unpersisted when that
    source is rewritten, before its rebuild: Spark's CacheManager
    matches cached data by logical plan, and the rebuilt relation has
    the same plan, so a still-persisted stale entry would serve it
    the old rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from data_validator_spark.queries import SessionCache, load

    cache = SessionCache()
    sf = str(tmp_path)
    path = tmp_path / "t.parquet"

    def write(n):
        pq.write_table(pa.table({"x": pa.array(range(n), pa.int64())}), str(path))

    built = []  # per build: the storage level of the entries built before it

    def build():
        built.append([df.storageLevel for df in entries])
        return load(spark, sf, "t").agg(F.count(F.lit(1)).alias("n"), F.sum("x").alias("s"))

    entries = []
    write(10)
    entries.append(cache.get(spark, sf, build))
    assert tuple(entries[0].first()) == (10, 45)
    write(20)
    new = cache.get(spark, sf, build)
    try:
        # the stale entry was released by the time its rebuild ran
        assert built == [[], [StorageLevel.NONE]]
        assert new is not entries[0]
        assert new.storageLevel == StorageLevel.MEMORY_AND_DISK
        assert tuple(new.first()) == (20, 190)
        assert cache.get(spark, sf, build) is new  # unchanged source: a hit
    finally:
        cache.evict()


def test_one_staleness_rule_for_session_caches():
    """Repo-wide pin: session caches are kept honest by the source-file
    signature alone. Under data_validator_spark/ no code names an
    ``on_drop`` hook or ``_release_superseded``, no SessionCache call
    passes ``version=``, and only queries/__init__.py calls
    evict_session_caches."""
    import ast
    import inspect
    import os
    import subprocess

    from data_validator_spark.queries import SessionCache

    for method in (SessionCache.get, SessionCache.put):
        assert "version" not in inspect.signature(method).parameters

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tracked = subprocess.run(
        ["git", "-C", repo, "ls-files", "data_validator_spark/*.py"],
        capture_output=True, text=True, check=True,
    ).stdout.split()
    offenders = []
    for rel in tracked:
        tree = ast.parse(open(os.path.join(repo, rel)).read())
        caches = {
            t.id
            for n in ast.walk(tree)
            if isinstance(n, ast.Assign)
            and isinstance(n.value, ast.Call)
            and getattr(n.value.func, "id", None) == "SessionCache"
            for t in n.targets
            if isinstance(t, ast.Name)
        }
        for n in ast.walk(tree):
            named = {getattr(n, a, None) for a in ("id", "attr", "arg", "name")}
            if named & {"on_drop", "_release_superseded"}:
                offenders.append(f"{rel}:{n.lineno}")
            if not isinstance(n, ast.Call):
                continue
            func = n.func
            callee = getattr(func, "id", None) or getattr(func, "attr", None)
            if callee == "evict_session_caches" and rel != "data_validator_spark/queries/__init__.py":
                offenders.append(f"{rel}:{n.lineno} evict_session_caches")
            receiver = getattr(getattr(func, "value", None), "id", None)
            if receiver in caches and any(k.arg == "version" for k in n.keywords):
                offenders.append(f"{rel}:{n.lineno} version=")
    assert not offenders, f"second staleness mechanism: {offenders}"
