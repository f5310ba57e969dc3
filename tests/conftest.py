from __future__ import annotations

import pytest

from batch_geocode_spark.session import get_spark


def _jobs_in(spark, group: str, fn) -> int:
    """Spark jobs that ``fn()`` runs, counted with the job group
    ``group`` (a group's job ids accumulate over every use of its name,
    so give each count a name of its own)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def spark():
    s = get_spark(master="local[4]", app_name="bgs-tests", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"
