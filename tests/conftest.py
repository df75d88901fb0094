from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from eth_dspa_2019_spark.session import get_spark  # noqa: E402

# Small SF for fast iteration; the driver gate runs sf0.01.
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def job_ids(spark):
    """``job_ids(group, fn)``: the sorted ids of the Spark jobs ``fn()``
    launches, counted under a job group of their own."""
    sc = spark.sparkContext

    def run(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:  # a null value removes the property
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return sorted(sc.statusTracker().getJobIdsForGroup(group))

    return run
