from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def pytest_configure(config):
    # every run ends with its 30 slowest tests, so a long suite's log
    # shows where its time went; an explicit --durations wins
    if config.option.durations is None:
        config.option.durations = 30


SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    import tempfile

    from hiveberg_spark.session import get_spark

    s = get_spark(
        app_name="hiveberg-spark-tests",
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={
            "spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="hbs_test_wh_")
        },
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture()
def duck():
    # one connection per test: closing it returns the memory DuckDB keeps
    # after a heavy oracle, which a session-long connection holds onto
    from hiveberg_spark.testing import duckdb_connect

    con = duckdb_connect(SF_DIR)
    yield con
    con.close()
