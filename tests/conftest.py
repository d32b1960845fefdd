"""Shared fixtures: one tuned SparkSession per test session, a DuckDB
connection with the testdata tables registered as views (mirroring the
driver's oracle setup), and the sf0.001 data dir."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from apache_iceberg_with_clickhouse_olake_spark.session import get_spark
from apache_iceberg_with_clickhouse_olake_spark.sources.parquet import (
    TABLES,
    table_path,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    # A fixed set of JIT compiler threads, as in lakebench's session:
    # spark_probe.EngineCpu (tests/test_op_profile.py) reads each compiler
    # thread's CPU clock and fails if one of them ends during an op.
    s = get_spark(
        "tests",
        shuffle_partitions=8,
        extra_conf={
            "spark.driver.extraJavaOptions":
                "-XX:-UseDynamicNumberOfCompilerThreads",
        },
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        path = table_path(SF_DIR, t)
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
    yield con
    con.close()
