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

    # a new version replaces the entry for the same key
    cache.put(spark, sf, 1, "wm", version=(10, 9))
    assert cache.get(spark, sf, None, "wm", version=(10, 9)) == 1
    cache.put(spark, sf, 2, "wm", version=(20, 19))
    assert cache.get(spark, sf, None, "wm", version=(10, 9)) is None
    assert cache.get(spark, sf, None, "wm", version=(20, 19)) == 2
    assert len(cache) == 4

    # evict by sub-key, then by dataset: DataFrames are unpersisted
    assert cache.evict(None, "n") == 2
    assert cache.evict(other) == 0
    assert cache.evict(sf) == 2
    assert df.storageLevel == StorageLevel.NONE
    assert len(cache) == 0
