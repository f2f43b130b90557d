"""Shared fixtures: one SparkSession per test run (startup is ~15 s)."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

# import the checkout this suite lives in, whatever its path
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from ting_data_etl_spark.session import get_spark

    # The suite is one long session of ~620 tests, the shape where C2 pays
    # back: on a 4-core host a full run took 1584 s with the C1-only batch
    # default and 1148 s with full tiered C2.
    s = get_spark(
        app_name="ting-data-etl-tests", shuffle_partitions=4, long_lived=True
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` runs *fn* and returns how many Spark jobs it
    started: the jobs are tagged with a fresh job group, read back from the
    status store once the listener bus has drained."""
    import uuid

    sc = spark.sparkContext

    def run(fn) -> int:
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description",
                        "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return run
