from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cosmos_xenna_spark.oracle import make_duckdb
from cosmos_xenna_spark.session import get_spark

SF_SMOKE = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "example(name): the examples/ script a test in test_examples.py runs"
    )


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="cosmos_xenna_spark_tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def duck(sf_dir):
    con = make_duckdb(sf_dir)
    yield con
    con.close()
