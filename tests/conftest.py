from __future__ import annotations

import os
import sys

import duckdb
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SF_DIR = os.environ.get("EBIKE_TEST_SF_DIR", "/root/testdata/sf0.001")

from ebike_spark.session import get_spark  # noqa: E402
from ebike_spark.sources.registry import TABLES  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    # cores from SPARK_GRAFT_CPUS, else nproc; heap sized from the host
    s = get_spark("ebike_spark_tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def oracle():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()
