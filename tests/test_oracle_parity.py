"""Every declared query hash-matches its DuckDB oracle (the t2 gate,
SURVEY.md §5.1) at sf0.001 (fast); the driver re-runs the same contract at
sf0.01."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod  # noqa: E402

from .oracle_harness import compare, duck_connection

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_connection(sf_dir)
    yield con
    con.close()


def test_every_query_has_an_oracle_or_is_flagged():
    missing = set(QUERIES) - set(ORACLES)
    # non-SQL-expressible ops may be omitted, but must be deliberate:
    allowed_missing = set(getattr(entrymod, "NO_ORACLE", ()))
    assert missing <= allowed_missing, f"queries without oracle: {missing}"


def test_no_orphan_oracles():
    assert set(ORACLES) <= set(QUERIES)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, sf_dir, duck):
    try:
        if name not in ORACLES:
            df = QUERIES[name](spark, sf_dir)
            assert df.count() >= 0  # rows-only check, like the driver
            return
        compare(QUERIES[name](spark, sf_dir), duck, ORACLES[name], name)
    finally:
        # operators may persist() intermediates; callers own cleanup
        # (operators/tpch.py module docstring) — without this the 194-query
        # sweep accumulates cached relations in the shared session
        spark.catalog.clearCache()


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.schema.fieldNames() == ["order_key", "category", "price", "updated_at_ms"]
