"""Every SQL-expressible registry query must hash-match its DuckDB oracle at
sf0.001 (the driver runs the same comparison at sf0.01 — SURVEY.md §5.1)."""

from __future__ import annotations

import pytest

from crz_scraper_spark.oracle import compare, duckdb_connection
from crz_scraper_spark.plans.registry import REGISTRY

from tests.conftest import SF_DIR

_SQL_QUERIES = sorted(n for n, (_f, sql) in REGISTRY.items() if sql is not None)
_ROWS_ONLY = sorted(n for n, (_f, sql) in REGISTRY.items() if sql is None)


@pytest.fixture(scope="module")
def con():
    c = duckdb_connection(SF_DIR)
    yield c
    c.close()


def _cache_is_empty(spark) -> bool:
    """The cache-lifetime rule (ARCHITECTURE.md): a query function releases
    every frame it persists before it returns, so once its result has been
    consumed the CacheManager is empty — nothing between queries calls
    clearCache for it."""
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize("name", _SQL_QUERIES)
def test_oracle_parity(spark, sf_dir, con, name):
    fn, sql = REGISTRY[name]
    spark.catalog.clearCache()
    problems = compare(fn(spark, sf_dir), con, sql)
    assert not problems, f"{name}: {problems}"
    assert _cache_is_empty(spark), f"{name} left a cached frame behind"


@pytest.mark.parametrize("name", _ROWS_ONLY)
def test_rows_only_queries_run(spark, sf_dir, name):
    fn, _sql = REGISTRY[name]
    spark.catalog.clearCache()
    df = fn(spark, sf_dir)
    assert df.count() >= 0
    assert df.columns  # stable non-empty schema
    assert _cache_is_empty(spark), f"{name} left a cached frame behind"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())
