from __future__ import annotations

import pytest

from amazonbigdata_for_students_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_small() -> str:
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_oracle() -> str:
    return SF_ORACLE


@pytest.fixture
def jobs_in_group(spark):
    """``jobs_in_group(group, fn)``: run ``fn`` under Spark job group
    ``group`` (a name no other test uses) and return how many jobs the
    group has submitted."""

    def run(group: str, fn) -> int:
        sc = spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return run
