from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: multi-minute end-to-end subprocess tests "
        "(deselect with -m 'not slow')",
    )


SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"
SF_BENCH = "/root/testdata/sf0.1"


def fastlane_workers(spark) -> int:
    """Threads for the fastlanes' concurrent actions: two per scheduler
    slot of the session (its ``local[N]`` core count), at most 16."""
    return min(16, 2 * spark.sparkContext.defaultParallelism)


@pytest.fixture(scope="session")
def spark():
    from spark_ml_optimization_spark.session import get_spark

    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def spark_session_holder(spark):
    """Function-scope alias usable inside @given tests (hypothesis
    forbids function-scoped fixtures; session scope is fine)."""
    return spark


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the ten fixture views registered at sf0.01,
    mirroring the driver's oracle setup (__spark_entry__.py:33-35)."""
    import duckdb

    from spark_ml_optimization_spark.sources import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_CORRECT}/{t}.parquet')"
        )
    yield con
    con.close()
