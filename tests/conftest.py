import os

import pytest

from lakehouse_to_rag_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_001 = "/root/testdata/sf0.001"
SF_DIR_01 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("lakehouse-to-rag-spark-tests", cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def jobs_between_markers(spark, fn):
    """Run ``fn`` between two marker jobs under a fresh job group.
    Returns (fn's result, ids of every job launched between the
    markers, ids of the jobs carrying the group)."""
    import uuid

    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        sc.parallelize([0], 1).count()
        out = fn()
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    in_group = set(sc.statusTracker().getJobIdsForGroup(group))
    return out, set(range(min(in_group) + 1, max(in_group))), in_group
