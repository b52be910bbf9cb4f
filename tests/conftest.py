"""Shared fixtures: one SparkSession + one DuckDB connection per test run."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spark_sql_dsv2_extension_spark.session import get_spark  # noqa: E402
from spark_sql_dsv2_extension_spark.tables import TABLE_NAMES, table_path  # noqa: E402

# sf0.001 keeps the pytest loop fast; set PARITY_SF_DIR=/root/testdata/sf0.01
# to reproduce the driver's t2 configuration exactly.
SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests")
    yield spark


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{table_path(SF_DIR, name)}')"
        )
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
