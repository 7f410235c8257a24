"""build_registry() is the only list of queries: each name is defined
by one module, and every query has its DuckDB oracle. No Spark
needed."""

from __future__ import annotations

import pytest

from data_validator_spark.queries import build_registry


def test_every_query_has_its_oracle():
    queries, oracles = build_registry()
    assert len(queries) == 153
    assert set(oracles) == set(queries), set(oracles) ^ set(queries)


def test_a_name_two_modules_define_is_an_error(monkeypatch):
    """A later module's entry must not silently replace an earlier
    module's query of the same name."""
    from data_validator_spark.queries import analytics, validator_queries

    monkeypatch.setitem(
        analytics.QUERIES, "row_count", validator_queries.QUERIES["row_count"]
    )
    with pytest.raises(ValueError, match="row_count"):
        build_registry()
