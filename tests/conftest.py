from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cli_rag_spark.session import get_session

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_session("cli-rag-spark-tests", master="local[4]")
    yield spark
    spark.stop()


@pytest.fixture
def untruncated_plans(spark):
    """Plan strings with no field list elided, so expression counts in
    ``queryExecution()`` strings are exact."""
    key = "spark.sql.debug.maxToStringFields"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "100000")
    yield
    if old is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, old)


@pytest.fixture(scope="session")
def sf_dir():
    return SF_CORRECT


@pytest.fixture(scope="session")
def sf_smoke_dir():
    return SF_SMOKE
