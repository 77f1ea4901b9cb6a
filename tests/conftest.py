"""Shared test fixtures: one SparkSession per test run, a DuckDB
connection with the fixture tables registered as views, and the
oracle-comparison helper that mimics the driver's t2 check
(row count + schema + order-insensitive value comparison)."""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

from etl_jobs_spark.compare import frames_match, normalize_frame, oracle_views  # noqa: E402
from etl_jobs_spark.sources.readers import FIXTURE_TABLES  # noqa: E402,F401


@pytest.fixture(scope="session")
def spark():
    from etl_jobs_spark.session import get_spark

    spark = get_spark(
        "etl_jobs_spark-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "4g"},
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def oracle():
    con = oracle_views(SF_DIR)
    yield con
    con.close()


_normalize = normalize_frame  # back-compat alias for older tests


def assert_matches_oracle(spark_df, oracle_con, sql: str, float_rtol: float = 0.0):
    """Exact-match comparison between a Spark result and a DuckDB
    oracle result. float_rtol=0 on purpose: the driver hashes values,
    so anything needing tolerance must instead be rounded in BOTH
    queries before it gets here."""
    frames_match(spark_df.toPandas(), oracle_con.sql(sql).df(), float_rtol)


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "pandas_ns_range: pins the comparison-layer pandas "
        "datetime64[ns] range contract (etl_jobs_spark/compare.py "
        "docstring) — far-era failures there are harness limits, "
        "not engine bugs",
    )
