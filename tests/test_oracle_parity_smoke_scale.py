"""Cross-scale parity: every SQL-oracle query must also hash-match at
sf0.001 — catches scale-coupled assumptions (hard-coded thresholds,
id-range dependence, partial-coverage joins) that sf0.01 alone can hide."""

from __future__ import annotations

import duckdb
import pytest

# Slow lane (round 11, VERDICT item 1): the sf0.001 threaded fast lane
# (test_parity_fastlane.py) keeps the same oracle surface in the
# default run; this parametrized twin is for per-query debugging.
pytestmark = pytest.mark.slow

from spark_ml_optimization_spark import registry
from spark_ml_optimization_spark.sources import TABLES

from .conftest import SF_SMOKE
from .harness import oracle_for, run_and_compare

_QUERIES = registry.all_queries()
_SQL_NAMES = sorted(n for n, q in _QUERIES.items() if q.oracle is not None)


@pytest.fixture(scope="module")
def duck_smoke():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_SMOKE}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", _SQL_NAMES)
def test_sql_oracle_parity_sf0001(spark, duck_smoke, name):
    q = _QUERIES[name]
    oracle = oracle_for(name, q, SF_SMOKE)
    run_and_compare(spark, duck_smoke, q.fn, oracle, name, SF_SMOKE)
