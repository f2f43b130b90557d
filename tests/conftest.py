"""Shared fixtures: one SparkSession per test run (startup is ~15 s)."""

from __future__ import annotations

import sys

import pytest

sys.path.insert(0, "/root/repo")

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from ting_data_etl_spark.session import get_spark

    s = get_spark(app_name="ting-data-etl-tests", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
