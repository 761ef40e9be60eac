from __future__ import annotations

import os
import sys
import tempfile

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rlink_rs_spark.session import get_spark
from rlink_rs_spark.tables import TABLE_NAMES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session", autouse=True)
def _temp_dirs_in_basetemp(tmp_path_factory):
    """Point every temp dir the tests and the package make at pytest's
    basetemp, which pytest prunes to its last 3 runs, instead of the system
    temp dir; the session's own setting comes back at the end."""
    prev = tempfile.tempdir
    tempfile.tempdir = str(tmp_path_factory.getbasetemp())
    yield
    tempfile.tempdir = prev


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{SF_DIR}/{name}.parquet'")
    yield con
    con.close()
